package perfbench

import graft.{Sessions, SparkEntry}
import graft.operators.{ModelWarm, QueryCaches, Staging}
import graft.plans.Orchestrator
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import scala.collection.mutable

/** The benchmark's JVM side: one single-threaded closed-loop client that
  * runs one workload against the program's public entry points and writes
  * raw timings, check results and (when traced) spans and Spark jobs to a
  * JSON file. `run.py` turns that file into metrics.
  *
  * Usage: Harness --workload W --base DIR --delta DIR --work DIR
  *          --seed N --seconds S --trace 0|1 --out FILE
  */
object Harness {
  /** A round of every workload is three steps, reported one by one. A
    * query workload's step is one query family, run in a seeded order;
    * steps of a few seconds each keep single fast queries from deciding a
    * metric. */
  val starSteps: Seq[Seq[String]] = Seq(
    Seq("q01_fact_agg", "q02_sales_by_type", "q03_top_nations", "q04_having_groups",
      "q05_conditional_agg", "q06_topk_per_group", "q07_log_rollup", "q08_minmax_range",
      "q09_sales_pivot"),
    Seq("q16_ci_hierarchy_join", "q24_exists_semi", "q25_not_exists_anti",
      "q27_asof_price", "q28_range_join"),
    Seq("q66_sales_by_state", "q67_sales_by_category", "q73_geo_rollup", "q253_margin_kpi"))
  val curationSteps: Seq[Seq[String]] = Seq(
    Seq("q44_dedup_exact", "q46_minhash_lsh", "q47_simhash", "q65_simhash_wide_pairs",
      "q68_dedup_clusters", "q88_chunk_dedup", "q144_near_decontaminate"),
    Seq("q50_cosine_knn", "q118_ivfadc", "q77_stream_ingest"),
    Seq("q139_pagerank", "q195_crossmodal_clusters", "q220_incremental_cc",
      "q255_cc_alternating_star"))
  /** The ModelWarm steps whose caches the curation queries read: q46, q68,
    * q144 and q220 the near-duplicate pairs, q50 exact kNN, q118 the IVF
    * index and PQ model. A cache miss inside the timed loop shows up as
    * cache.misses in a traced run. */
  val curationModels: Seq[String] = Seq(
    "warm_lsh_pairs", "warm_exact_knn", "warm_ivf_index", "warm_pq_model")
  val noopRepeats = 3
  /** Star rounds continue past the time limit until this many queries ran,
    * so the tail percentile rule can report p90. */
  val minStarOps = 100

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val conf = Conf(kv("workload"), kv("base"), kv("delta"), kv("work"), kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1", kv("out"), cores)
    System.setProperty("graft.quietRddWarns", "1")
    val spark = Sessions.local(cores.toString, "perfbench")
    val result = try new Run(spark, conf).go()
    finally spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(conf.out), Json(result))
  }
}

final case class Conf(workload: String, base: String, delta: String, work: String,
                      seed: Long, seconds: Double, trace: Boolean, out: String, cores: Int)

/** One timed call into the program. */
final case class Op(round: Int, phase: String, step: Int, name: String, wallS: Double,
                    count: Option[Long], error: Option[String])

final class Run(spark: SparkSession, c: Conf) {
  private val tracer = new Tracer
  private val listener = new JobListener
  private val ops = mutable.ArrayBuffer[Op]()
  private val etlChecks = mutable.ArrayBuffer[Map[String, Any]]()
  private val checks = mutable.LinkedHashMap[String, Map[String, Any]]()
  private val loadPhases = mutable.ArrayBuffer[Map[String, Any]]()
  private var storagePeak = 0L
  private lazy val queryFns = SparkEntry.queries

  def go(): Map[String, Any] = {
    val steps = c.workload match {
      case "star_queries"  => Harness.starSteps
      case "curation_pass" => Harness.curationSteps
      case "etl_cycle"     => Seq(Seq("load"), Seq("delta"), Seq("noop"))
      case w               => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val round: (Int, String, Boolean) => Unit =
      if (c.workload == "etl_cycle") etlCycle else queryRound(steps)

    // set-up: model training (curation_pass) and, for star_queries, one
    // untimed round; etl_cycle and curation_pass time their first round
    if (c.workload == "curation_pass")
      ModelWarm.steps.filter(s => Harness.curationModels.contains(s._1)).foreach(_._2(spark, c.base))
    if (c.workload == "star_queries") round(0, "warm", false)
    def traceOn(on: Boolean): Unit = if (c.trace && on != tracer.on) {
      if (on) spark.sparkContext.addSparkListener(listener)
      else {
        org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracer.on = on
    }

    // Whole rounds until --seconds have passed, at least one (star_queries:
    // until at least minStarOps queries ran). A traced run traces them.
    val loopStartNs = Clock.now()
    val steal0 = Host.cpuTimes()
    val (hits0, misses0) = QueryCaches.stats
    traceOn(true)
    val limitNs = loopStartNs + (c.seconds * 1e9).toLong
    var r = 1
    def starShort = c.workload == "star_queries" && ops.count(_.phase == "timed") < Harness.minStarOps
    while (r == 1 || Clock.now() < limitNs || starShort) {
      round(r, "timed", c.trace)
      r += 1
    }
    val loopEndNs = Clock.now()
    val steal1 = Host.cpuTimes()
    val (hits1, misses1) = QueryCaches.stats
    traceOn(false)

    Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores,
      "loop_start_ns" -> loopStartNs, "loop_end_ns" -> loopEndNs,
      "cpu_times" -> Seq(steal0, steal1),
      "cache" -> Map("hits" -> (hits1 - hits0), "misses" -> (misses1 - misses0),
        "storage_peak_bytes" -> storagePeak),
      "peak_rss_kb" -> Host.peakRssKb(),
      "ops" -> ops.map(o => Map("round" -> o.round, "phase" -> o.phase, "step" -> o.step,
        "name" -> o.name, "wall_s" -> o.wallS, "count" -> o.count, "error" -> o.error)).toSeq,
      "checks" -> checks.toMap,
      "etl_checks" -> etlChecks.toSeq,
      "oracle_sql" -> steps.flatten.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "load_phases" -> loadPhases.toSeq,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
        "attrs" -> s.attrs.toMap)).toSeq,
      "jobs" -> listener.jobs.values.toArray(Array.empty[JobRec]).toSeq.sortBy(_.id).map(j =>
        Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
          "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "read_bytes" -> j.readBytes, "read_records" -> j.readRecords,
          "write_bytes" -> j.writeBytes, "shuffle_read" -> j.shuffleRead,
          "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
          "task_intervals" -> j.taskIntervals.map { case (a, b) => Seq(a, b) }.toSeq)))
  }

  private def drainIfTraced(traced: Boolean): Unit =
    if (traced) org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  private def sampleStorage(): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    storagePeak = math.max(storagePeak, bytes)
  }

  /** A seeded permutation per round and step: the same seed replays the
    * same order. */
  private def order(names: Seq[String], round: Int, step: Int): Seq[String] =
    new scala.util.Random(new java.util.Random(c.seed * 1000003L + round * 31L + step)).shuffle(names)

  private def queryRound(steps: Seq[Seq[String]])(round: Int, phase: String, traced: Boolean): Unit =
    for ((names, step) <- steps.zipWithIndex; name <- order(names, round, step)) {
      val t0 = Clock.now()
      var df: DataFrame = null
      val res = scala.util.Try {
        tracer.span(name, "op", "workload" -> c.workload, "seed" -> c.seed,
          "round" -> round, "phase" -> phase) {
          df = tracer.span("entry.build", "entry")(queryFns(name)(spark, c.base))
          tracer.span("engine.exec", "engine")(df.count())
        }
      }
      val t1 = Clock.now()
      drainIfTraced(traced)
      sampleStorage()
      ops += Op(round, phase, step, name, (t1 - t0) / 1e9, res.toOption,
        res.failed.toOption.map(Run.describe))
      if (!checks.contains(name)) checks(name) = writeCheck(name, df)
    }

  /** Untimed: the first executed plan of each query is written out once more
    * for the DuckDB comparison. */
  private def writeCheck(name: String, df: DataFrame): Map[String, Any] =
    if (df == null) Map("error" -> "the query threw before returning a plan")
    else {
      val dir = s"${c.work}/check/$name"
      scala.util.Try(df.write.mode("overwrite").parquet(dir)) match {
        case scala.util.Success(_) => Map("dir" -> dir)
        case scala.util.Failure(e) => Map("error" -> Run.describe(e))
      }
    }

  /** Full load, seeded delta, idempotent re-run, on a fresh warehouse. */
  private def etlCycle(round: Int, phase: String, traced: Boolean): Unit = {
    val whRoot = s"${c.work}/wh/r$round"
    Files.delete(whRoot)
    val orch = new Orchestrator(spark, c.base, whRoot)
    val wh = orch.wh
    /** Runs one step `times` times; the op's wall time is the median. */
    def step(name: String, times: Int = 1)(body: => Unit): Boolean = {
      val runs = (1 to times).map { _ =>
        val filesBefore = if (traced) Files.listing(whRoot) else Map.empty[String, (Long, Long)]
        val t0 = Clock.now()
        val res = scala.util.Try(tracer.span(name, "plans", "workload" -> c.workload,
          "seed" -> c.seed, "round" -> round, "phase" -> phase)(body))
        val t1 = Clock.now()
        drainIfTraced(traced)
        if (traced) {
          val changed = Files.listing(whRoot).filter { case (p, v) => !filesBefore.get(p).contains(v) }
          tracer.spans.reverseIterator.find(s => s.name == name && s.layer == "plans").foreach { s =>
            s.attrs("files_written") = changed.size
          }
        }
        ((t1 - t0) / 1e9, res.failed.toOption.map(Run.describe))
      }
      val walls = runs.map(_._1).sorted
      ops += Op(round, phase, Seq("load", "delta", "noop").indexOf(name), name,
        walls(walls.size / 2), None, runs.flatMap(_._2).headOption)
      runs.forall(_._2.isEmpty)
    }
    def summary(after: String): Unit = etlChecks += (scala.util.Try {
      wh.readPartitioned("bl_dm", "fct_sales", "order_month")
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_sales"), sum(col("sale_total")).cast("double").as("sum_total"))
        .collect().map(r => Seq(r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    } match {
      case scala.util.Success(rows) => Map("round" -> round, "after" -> after, "rows" -> rows)
      case scala.util.Failure(e) => Map("round" -> round, "after" -> after, "error" -> Run.describe(e))
    })
    def factFiles(): Map[String, (Long, Long)] =
      Files.listing(wh.path("bl_3nf", "ce_sales")) ++ Files.listing(wh.path("bl_dm", "fct_sales"))

    val loaded = step("load") {
      val probeAt = Clock.now()
      val phases = mutable.ArrayBuffer[(String, Double)]()
      orch.runFullEtl((phase, sec) => phases.synchronized { phases += (phase -> sec) }: Unit)
      // the orchestrator reports each phase's span by duration; place them
      // on the load's interval (staging starts with it, dm ends with it)
      val end = Clock.now()
      phases.foreach { case (phase, sec) =>
        val ns = (sec * 1e9).toLong
        val (s, e) = phase match {
          case "staging" => (probeAt, probeAt + ns)
          case _         => (end - ns, end)
        }
        tracer.placed(s"plans.$phase", "plans.phase", s, e)
      }
      loadPhases += Map("round" -> round, "wall_s" -> (end - probeAt) / 1e9, "phases" -> phases.toMap)
    }
    summary("load")
    val deltaOk = loaded && step("delta") {
      applyDelta(orch)
      orch.run3nfDm(): Unit
    }
    summary("delta")
    if (deltaOk) {
      // the no-op step is the median of a few idempotent re-runs; none may
      // rewrite a fact partition file
      val before = factFiles()
      step("noop", Harness.noopRepeats)(orch.run3nfDm(): Unit)
      etlChecks += Map("round" -> round, "after" -> "noop_files", "unchanged" -> (factFiles() == before))
      summary("noop")
    }
    Files.delete(whRoot)
  }

  /** Stage the delta extract the way a production re-run lands new data:
    * the customer snapshot replaces its staging table (SCD1 changes reach
    * the 3NF merge), and price changes, new orders and their lines are
    * anti-join appended on the staging loaders' business keys. The four
    * tables are independent and staged concurrently. */
  private def applyDelta(orch: Orchestrator): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val wh = orch.wh
    def land(table: String, src: DataFrame, keys: Option[Seq[String]]): Unit = {
      val target = wh.read("staging", table)
      val cleaned = Staging.clean(src, target.columns.toIndexedSeq)
      wh.overwrite(keys.fold(cleaned)(k => Staging.antiJoinAppend(cleaned, target, k)),
        "staging", table): Unit
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val landed = Seq(
        Future(land("customers", Tables.customer(spark, c.delta), None)),
        Future(land("products", Tables.part(spark, c.delta), Some(Seq("p_partkey", "p_retailprice")))),
        Future(land("orders", Tables.orders(spark, c.delta), Some(Seq("o_orderkey")))),
        Future(land("sales", Tables.lineitem(spark, c.delta), Some(Seq("l_orderkey", "l_linenumber")))))
      val settled = landed.map(f => Await.ready(f, Duration.Inf).value.get)
      settled.foreach(_.get)
    } finally pool.shutdown()
  }
}

object Run {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
}

object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuTimes(): Seq[Long] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Seq(if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    } finally f.close()
  }.getOrElse(Seq(0L, 0L))

  def peakRssKb(): Long = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally f.close()
  }.getOrElse(0L)
}

object Files {
  import java.io.File
  /** path -> (size, mtime) of every regular file under `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Seq.empty
    walk(new File(root)).map(f => f.getPath -> ((f.length, f.lastModified))).toMap
  }

  def delete(root: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new File(root))
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double               => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number               => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(apply).mkString("[", ",", "]")
    case Some(x)                 => apply(x)
    case None                    => "null"
    case other                   => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch           => ch.toString
  } + "\""
}
