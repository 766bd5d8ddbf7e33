#!/usr/bin/env python3
"""The graft benchmark: one command that builds the program, generates the
seed's inputs, runs one workload in a fresh JVM, checks every output against
DuckDB and prints the metrics.

  python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 5 --trace 0

Workloads: etl_cycle, curation_pass, star_queries (see README.md). The last
line of stdout is one JSON object: correct, attempted, failed, metrics. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones from a traced run. Lines before it print the same numbers for people.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_cycle", "curation_pass", "star_queries")
# Source scale-factor directory the seeded inputs are sampled from.
SOURCE = os.environ.get("PERFBENCH_SOURCE",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
GEN_REPEATS = 3
RUN_TIMEOUT_S = 150
MB = 1 << 20

# JVM flags the program's own build passes to Spark on JDK 17 (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("round_s", "s"), ("step1_s", "s"),
              ("step2_s", "s"), ("step3_s", "s"), ("peak_rss_mb", "MB")]


def harness(classes, data, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "harness.json")
    # a fixed heap: peak RSS and GC work then do not depend on how the
    # collector chose to grow the heap in this run
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Harness", "--workload", args.workload,
            "--base", os.path.join(data, "base"), "--delta", os.path.join(data, "delta"),
            "--work", work, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", out]
    log = os.path.join(work, "harness.log")
    launched = time.time_ns()
    with open(log, "w") as f:
        proc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work,
                              timeout=RUN_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        return launched, json.load(f)


def judge(res, data):
    """Set each op's "failed" to None or the reason, checking against DuckDB;
    return the first reason per op name."""
    from oracle import Oracle, etl_rows
    orc = Oracle(os.path.join(data, "base"), os.path.join(data, "delta"))
    bad = {}   # query or step name -> reason; every op of it fails
    expected_rows = {}
    if res["workload"] == "etl_cycle":
        exp = orc.etl_expected()
        for c in res["etl_checks"]:
            key = (c["round"], c["after"])
            if c["after"] == "noop_files":
                if not c["unchanged"]:
                    bad[key] = "no-op re-run rewrote fact partition files"
            elif "error" in c:
                bad[key] = "summary failed: " + c["error"]
            elif etl_rows(c["rows"]) != exp[c["after"]]:
                bad[key] = "fct_sales monthly summary differs from DuckDB"
    else:
        for name, c in res["checks"].items():
            sql = res["oracle_sql"].get(name)
            if "error" in c:
                bad[name] = "result not written: " + c["error"]
            elif sql is None:
                bad[name] = "no oracle SQL"
            else:
                n, why = orc.query(sql, c["dir"])
                expected_rows[name] = n
                if why:
                    bad[name] = why
    failures = {}
    for o in res["ops"]:
        if res["workload"] == "etl_cycle":
            keys = [(o["round"], o["name"])] + (
                [(o["round"], "noop_files")] if o["name"] == "noop" else [])
            why = o["error"] or next((bad[k] for k in keys if k in bad), None)
        else:
            why = o["error"] or bad.get(o["name"])
            n = expected_rows.get(o["name"])
            if not why and n is not None and o["count"] != n:
                why = f"count {o['count']} != {n} rows"
        o["failed"] = why
        if why:
            failures.setdefault(o["name"], why)
    return failures


def rounds_of(ops):
    out = {}
    for o in ops:
        if o["phase"] == "timed":
            out.setdefault(o["round"], []).append(o)
    return [out[r] for r in sorted(out)]


def end_to_end(res, setup_s):
    rounds = rounds_of(res["ops"])
    out = {"setup_s": setup_s,
           "round_s": stats.median([sum(o["wall_s"] for o in r) for r in rounds])}
    for step in range(3):
        out[f"step{step + 1}_s"] = stats.median(
            [sum(o["wall_s"] for o in r if o["step"] == step) for r in rounds])
    out["peak_rss_mb"] = res["peak_rss_kb"] / 1024
    return out


def named(res, e2e):
    """The workload's own names for its numbers (printed, not gated)."""
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    out = {}
    if res["workload"] == "etl_cycle":
        for step in ("load", "delta", "noop"):
            out[f"{step}_s"] = (stats.median([o["wall_s"] for o in ops if o["name"] == step]), "s")
    elif res["workload"] == "curation_pass":
        out["pass_s"] = (e2e["round_s"], "s")
    else:
        walls = [o["wall_s"] for o in ops]
        out["query_p50_s"] = (stats.percentile(walls, 50), "s")
        p = stats.tail_percentile(len(walls))
        if p is not None and p != 50:
            out[f"query_p{p:g}_s"] = (stats.percentile(walls, p), "s")
        span = (res["loop_end_ns"] - res["loop_start_ns"]) / 1e9
        out["queries_per_s"] = (len(walls) / span, "1/s")
    out["ops_timed"] = (len(ops), "count")
    return out


PER_LAYER = [
    ("entry.build_s", "s"), ("entry.build_jobs", "count"),
    ("engine.exec_s", "s"), ("engine.jobs", "count"), ("engine.stages", "count"),
    ("engine.tasks", "count"), ("engine.task_s", "s"), ("engine.cpu_s", "s"),
    ("engine.gc_s", "s"), ("engine.driver_gap_s", "s"), ("engine.core_busy", "ratio"),
    ("engine.shuffle_read_mb", "MB"), ("engine.shuffle_write_mb", "MB"),
    ("engine.spill_mb", "MB"),
    ("sources.read_mb", "MB"), ("sources.read_records", "count"),
    ("sources.write_mb", "MB"), ("sources.files_written", "count"),
    ("sources.write_amp", "ratio"),
    ("plans.staging_s", "s"), ("plans.3nf_s", "s"), ("plans.dm_s", "s"),
    ("plans.overlap", "ratio"), ("plans.delta_jobs", "count"),
    ("plans.noop_jobs", "count"), ("plans.noop_files_written", "count"),
    ("cache.hits", "count"), ("cache.misses", "count"), ("cache.storage_mb_peak", "MB"),
    ("host.steal_frac", "ratio"),
    ("self.op_s", "s"), ("self.entry_s", "s"), ("self.engine_s", "s"),
    ("self.plans_s", "s"), ("self.spark_s", "s"),
    ("trace.round_s", "s"),
]


def per_layer(res, input_bytes):
    """Per-round medians over the traced rounds of the timed loop."""
    spans = [dict(s, start=s["start_ns"], end=s["end_ns"]) for s in res["spans"]]
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    tree = [s for s in spans if not s["attrs"].get("placed")]
    jobs = res["jobs"]
    owner = {}
    for sid, idx in stats.attach(tree, [(j["start_ms"] * 1e6 + 5e5, 0) for j in jobs]).items():
        for i in idx:
            owner[i] = sid
    per_round = {}
    for i, j in enumerate(jobs):
        if i not in owner:
            continue
        s = by_id[owner[i]]
        r = root(s)
        if r["attrs"].get("phase") != "timed":
            continue
        per_round.setdefault(r["attrs"]["round"], []).append((j, s))
    rounds = sorted({s["attrs"]["round"] for s in tree
                     if s["parent"] < 0 and s["attrs"].get("phase") == "timed"})
    phases = {p["round"]: p for p in res["load_phases"]}
    vals = {}
    for rnd in rounds:
        roots = [s for s in tree if s["parent"] < 0 and s["attrs"].get("round") == rnd
                 and s["attrs"].get("phase") == "timed"]
        members = {s["id"] for s in tree if root(s)["id"] in {x["id"] for x in roots}}
        rj = per_round.get(rnd, [])

        def jsum(k):
            return sum(j[k] for j, _ in rj)

        def jobs_under(name):
            return sum(1 for _, s in rj if s["name"] == name or any(
                a["name"] == name for a in ancestors(s, by_id)))

        wall_ns = sum(s["end"] - s["start"] for s in roots)
        gap_ns = 0
        for s in roots:
            tasks = [(max(a * 1e6, s["start"]), min(b * 1e6, s["end"]))
                     for j, js in rj if root(js)["id"] == s["id"]
                     for a, b in j["task_intervals"]]
            gap_ns += (s["end"] - s["start"]) - stats.covered(tasks)
        sub = [s for s in tree if s["id"] in members]
        job_spans = [{"id": -2 - i, "parent": s["id"], "layer": "spark",
                      "start": j["start_ms"] * 1e6, "end": max(j["end_ms"], j["start_ms"]) * 1e6}
                     for i, (j, s) in enumerate(rj)]
        selfs = stats.self_times(sub + job_spans)
        ph = phases.get(rnd, {}).get("phases", {})
        load_wall = phases.get(rnd, {}).get("wall_s", 0.0)
        steps = {s["name"]: s for s in roots}
        task_s = jsum("run_ms") / 1e3
        v = {
            "entry.build_s": sum(s["end"] - s["start"] for s in sub if s["name"] == "entry.build") / 1e9,
            "entry.build_jobs": jobs_under("entry.build"),
            "engine.exec_s": sum(s["end"] - s["start"] for s in sub if s["name"] == "engine.exec") / 1e9,
            "engine.jobs": len(rj), "engine.stages": jsum("stages"), "engine.tasks": jsum("tasks"),
            "engine.task_s": task_s, "engine.cpu_s": jsum("cpu_ns") / 1e9,
            "engine.gc_s": jsum("gc_ms") / 1e3, "engine.driver_gap_s": gap_ns / 1e9,
            "engine.core_busy": task_s / (wall_ns / 1e9 * res["cores"]) if wall_ns else 0.0,
            "engine.shuffle_read_mb": jsum("shuffle_read") / MB,
            "engine.shuffle_write_mb": jsum("shuffle_write") / MB,
            "engine.spill_mb": jsum("spill") / MB,
            "sources.read_mb": jsum("read_bytes") / MB, "sources.read_records": jsum("read_records"),
            "sources.write_mb": jsum("write_bytes") / MB,
            "sources.files_written": sum(s["attrs"].get("files_written", 0) for s in roots),
            "sources.write_amp": jsum("write_bytes") / input_bytes,
            "plans.staging_s": ph.get("staging", 0.0), "plans.3nf_s": ph.get("3nf", 0.0),
            "plans.dm_s": ph.get("dm", 0.0),
            "plans.overlap": sum(ph.values()) / load_wall if load_wall else 0.0,
            "plans.delta_jobs": jobs_under("delta"),
            "plans.noop_jobs": jobs_under("noop") / max(1, sum(1 for s in roots if s["name"] == "noop")),
            "plans.noop_files_written": steps.get("noop", {}).get("attrs", {}).get("files_written", 0),
        }
        for layer in ("op", "entry", "engine", "plans", "spark"):
            v[f"self.{layer}_s"] = selfs.get(layer, 0) / 1e9
        for k, x in v.items():
            vals.setdefault(k, []).append(x)
    out = {k: stats.median(xs) for k, xs in vals.items()}
    n_rounds = max(1, len(rounds))
    out["cache.hits"] = res["cache"]["hits"] / n_rounds
    out["cache.misses"] = res["cache"]["misses"] / n_rounds
    out["cache.storage_mb_peak"] = res["cache"]["storage_peak_bytes"] / MB
    (s0, t0), (s1, t1) = res["cpu_times"]
    out["host.steal_frac"] = (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
    # the traced round time; minus an untraced run's round_s on the same
    # seed, it is the tracing overhead
    out["trace.round_s"] = stats.median([sum(o["wall_s"] for o in r) for r in rounds_of(res["ops"])])
    return {k: out.get(k, 0.0) for k, _ in PER_LAYER}


def ancestors(s, by_id):
    while s["parent"] >= 0:
        s = by_id[s["parent"]]
        yield s


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.ensure()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    if not os.path.isfile(os.path.join(SOURCE, "lineitem.parquet")):
        sys.exit(f"perfbench: source data not found in {SOURCE} (set PERFBENCH_SOURCE)")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        # set-up part 1: input generation, repeated; the digests must agree
        gen_s, digests = [], []
        for i in range(GEN_REPEATS):
            t0 = time.perf_counter()
            digests.append(gen.generate(SOURCE, os.path.join(work, f"input{i}"), args.seed))
            gen_s.append(time.perf_counter() - t0)
        data = os.path.join(work, "input0")
        for i in range(1, GEN_REPEATS):
            shutil.rmtree(os.path.join(work, f"input{i}"))
        input_bytes = sum(os.path.getsize(os.path.join(dp, f))
                          for dp, _, fs in os.walk(data) for f in fs)

        launched, res = harness(classes, data, work, args)
        # set-up part 2: JVM and session start, model training, warm-up
        setup_s = stats.median(gen_s) + (res["loop_start_ns"] - launched) / 1e9
        failures = judge(res, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if o["failed"])
    correct = failed == 0 and len(set(digests)) == 1
    e2e = end_to_end(res, setup_s)
    print(f"workload {args.workload}  seed {args.seed}  input digest {digests[0][:16]}"
          f"  ({'same' if len(set(digests)) == 1 else 'DIFFERENT'} over {GEN_REPEATS} generations)")
    for k, (v, unit) in named(res, e2e).items():
        print(f"  {k:<22} {v:>12.4f} {unit}")
    print(f"  {'error_rate':<22} {failed / attempted:>12.4f} ({failed} of {attempted} ops)")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    if args.trace:
        metrics = {k: {"value": v, "unit": u}
                   for (k, u), v in zip(PER_LAYER, per_layer(res, input_bytes).values())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    for k, m in metrics.items():
        print(f"  {k:<26} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
