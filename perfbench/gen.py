"""Seeded input generator.

Derives one seed's dataset from a source scale-factor directory (the ten
TPC-H-like tables plus events/documents/embeddings): dimension tables are
kept whole, orders/events/documents/embeddings are sampled with the seed
(a fixed share, so every seed loads the same number of rows),
lineitem keeps exactly the lines of the sampled orders, and every table's
row order is a seeded permutation. It also writes the seeded `etl_cycle`
delta extract:

  delta/orders.parquet, delta/lineitem.parquet
      cloned orders with fresh keys, dated past the base's last order date
  delta/part.parquet
      price increases for a seeded slice of parts (SCD2 changes)
  delta/customer.parquet
      the full customer snapshot with a seeded slice renamed and moved to
      another market segment (SCD1 changes)

The same seed gives byte-identical files; `digest()` hashes them.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Share of each sampled table kept. Sized so one ETL load, one curation pass
# and a hundred star queries each fit in a few seconds on 4 cores.
ORDER_FRAC = 0.05
EVENT_FRAC = 0.05
DOC_FRAC = 0.1
EMB_FRAC = 0.1
# Delta extract sizes, as shares of the sampled base.
DELTA_ORDER_FRAC = 0.05
DELTA_PART_FRAC = 0.02
DELTA_CUST_FRAC = 0.02


def _write(table, path):
    # drop the pandas metadata the source files carry; everything else
    # (types, compression, format version) stays pyarrow's fixed default
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy")


def _permute(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _sample(table, frac, rng):
    # a fixed count, so every seed loads the same amount of data
    k = round(table.num_rows * frac)
    return table.take(pa.array(rng.choice(table.num_rows, k, replace=False)))


def _delta(base, rng):
    orders, lineitem = base["orders"], base["lineitem"]
    # new orders: clones of a seeded slice, fresh keys past the max, dated
    # 1..60 days after the base's last order (strictly past the watermark)
    n_new = max(1, int(orders.num_rows * DELTA_ORDER_FRAC))
    picked = orders.take(pa.array(np.sort(
        rng.choice(orders.num_rows, n_new, replace=False))))
    key_base = pc.max(orders["o_orderkey"]).as_py() + 1
    new_keys = np.arange(key_base, key_base + n_new, dtype=np.int64)
    shift_days = rng.integers(1, 61, n_new)
    last = pc.max(orders["o_orderdate"]).as_py()
    last_us = np.datetime64(last, "us")
    new_dates = last_us + shift_days.astype("timedelta64[D]")
    new_orders = picked.set_column(
        picked.schema.get_field_index("o_orderkey"), "o_orderkey",
        pa.array(new_keys)).set_column(
        picked.schema.get_field_index("o_orderdate"), "o_orderdate",
        pa.array(new_dates, type=orders.schema.field("o_orderdate").type))
    remap = dict(zip(picked["o_orderkey"].to_pylist(), range(n_new)))
    lk = lineitem["l_orderkey"].to_numpy()
    idx = np.flatnonzero(np.isin(lk, np.array(list(remap), dtype=np.int64)))
    lines = lineitem.take(pa.array(idx))
    pos = np.array([remap[k] for k in lines["l_orderkey"].to_pylist()],
                   dtype=np.int64)
    ship = lines["l_shipdate"].to_numpy().astype("datetime64[us]") \
        + shift_days[pos].astype("timedelta64[D]")
    new_lines = lines.set_column(
        lines.schema.get_field_index("l_orderkey"), "l_orderkey",
        pa.array(new_keys[pos])).set_column(
        lines.schema.get_field_index("l_shipdate"), "l_shipdate",
        pa.array(ship, type=lineitem.schema.field("l_shipdate").type))

    # SCD2: a seeded slice of parts gets a 5-25% price increase (the
    # loader keeps the highest staged price per part as the active one)
    part = base["part"]
    n_p = max(1, int(part.num_rows * DELTA_PART_FRAC))
    p_idx = np.sort(rng.choice(part.num_rows, n_p, replace=False))
    p_rows = part.take(pa.array(p_idx))
    bump = 1.05 + 0.2 * rng.random(n_p)
    new_price = np.round(p_rows["p_retailprice"].to_numpy() * bump, 2)
    new_part = p_rows.set_column(
        p_rows.schema.get_field_index("p_retailprice"), "p_retailprice",
        pa.array(new_price))

    # SCD1: the full customer snapshot, a seeded slice renamed and moved
    # to another market segment
    cust = base["customer"]
    n_c = max(1, int(cust.num_rows * DELTA_CUST_FRAC))
    changed = np.zeros(cust.num_rows, dtype=bool)
    changed[rng.choice(cust.num_rows, n_c, replace=False)] = True
    names = cust["c_name"].to_pylist()
    segs = cust["c_mktsegment"].to_pylist()
    seg_set = sorted(set(s for s in segs if s is not None))
    for i in np.flatnonzero(changed):
        names[i] = f"{names[i]} Renamed"
        if seg_set:
            cur = seg_set.index(segs[i]) if segs[i] in seg_set else -1
            segs[i] = seg_set[(cur + 1) % len(seg_set)]
    new_cust = cust.set_column(
        cust.schema.get_field_index("c_name"), "c_name",
        pa.array(names, type=pa.string())).set_column(
        cust.schema.get_field_index("c_mktsegment"), "c_mktsegment",
        pa.array(segs, type=pa.string()))

    return {"orders": _permute(new_orders, rng),
            "lineitem": _permute(new_lines, rng),
            "part": _permute(new_part, rng),
            "customer": _permute(new_cust, rng)}


def generate(src_dir, out_dir, seed):
    """Write the seed's base tables to `out_dir/base` and the delta
    extract to `out_dir/delta`; return the digest of both."""
    rng = np.random.default_rng(seed)
    read = {t: pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
            for t in TABLES}
    base = {}
    for t in ["region", "nation", "customer", "supplier", "part"]:
        base[t] = _permute(read[t], rng)
    base["orders"] = _sample(read["orders"], ORDER_FRAC, rng)
    keys = base["orders"]["o_orderkey"]
    li = read["lineitem"]
    base["lineitem"] = _permute(
        li.filter(pc.is_in(li["l_orderkey"], value_set=keys)), rng)
    base["events"] = _sample(read["events"], EVENT_FRAC, rng)
    base["documents"] = _sample(read["documents"], DOC_FRAC, rng)
    base["embeddings"] = _sample(read["embeddings"], EMB_FRAC, rng)
    delta = _delta(base, rng)
    for sub, tables in (("base", base), ("delta", delta)):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
        for t, tab in tables.items():
            _write(tab, os.path.join(out_dir, sub, f"{t}.parquet"))
    return digest(out_dir)


def digest(out_dir):
    """SHA-256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for sub in ("base", "delta"):
        d = os.path.join(out_dir, sub)
        for name in sorted(os.listdir(d)):
            h.update(f"{sub}/{name}\0".encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
