package graft.plans

import graft.operators.{DimDates, Hierarchy, Relational, Scd, Staging}
import graft.sources.{Tables, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.{ExecutionContext, Future}

/** Full ETL pipeline — the reference's master procedure re-expressed as
  * one Spark driver program (reference: sql/utils/run_full_etl_process
  * .sql:36-104, staging → 3NF → dimensional, strict parent-first order),
  * with the testdata star schema playing the role of the retailer CSVs:
  * customer→customers (SCD1), part→products (SCD2), region/nation→geo
  * hierarchy, orders+lineitem→sales fact.
  *
  * Every loader is idempotent (anti-join/merge no-ops on re-run) and
  * every table write is an atomic directory swap, so a second run is a
  * no-op and a crashed run never corrupts a table — matching the
  * reference's idempotency test (reference: python/dw_etl_tests.py:371-410).
  *
  * Scale shape: dims are broadcast in every fact join; the fact load's
  * only wide operations are the orders⋈lineitem join and the final
  * month-partitioned write (partition pruning for downstream readers).
  */
class Orchestrator(spark: SparkSession, sfDir: String, whRoot: String) {
  import Orchestrator.Node

  val wh = new Warehouse(whRoot, spark)
  val log = new EtlLog(wh, spark)
  private val dec = DecimalType(18, 2)
  private implicit val ec: ExecutionContext = Orchestrator.loaderPool

  /** Runs every node of the loader DAG ([[nodes]]); returns per-table
    * row counts. `probe` receives (layer, seconds) per layer — the
    * bench ledger's sub-timing hook (q60 publishes staging/3nf/dm
    * through [[graft.BenchProbes]] so a blown-up ETL row names a
    * layer); the default is a no-op for every other caller. Each span
    * runs from the layer's first node start to its last node end; the
    * spans OVERLAP (3NF dims run beside the sales/orders staging, DM
    * dims beside the 3NF fact), so their sum can exceed the pipeline
    * wall. The log is flushed on every exit, failure included.
    */
  def runFullEtl(probe: (String, Double) => Unit = (_, _) => ()): Map[String, Long] = {
    val t0 = System.nanoTime()
    try {
      val counts = runNodes(nodes, probe)
      log.append("run_full_etl", f"pipeline completed in ${(System.nanoTime() - t0) / 1e9}%.2f s",
        counts.values.sum)
      counts
    } finally log.flush() // failure outside a logged{} block still lands buffered events
  }

  /** The 3NF + DM nodes over the already-staged inputs — the
    * incremental path's unit of work (q74 runs it three times over a
    * staged-inputs delta). Same scheduler and node bodies as
    * [[runFullEtl]]; the staging deps count as published.
    */
  def run3nfDm(): Map[String, Long] =
    runNodes(nodes.filter(_.layer != "staging"), (_, _) => ())

  /** The loader DAG, in dependency order: the reference's master
    * procedure (run_full_etl_process.sql:36-104) with its parent-first
    * ORDER kept and the false barriers between independent loaders
    * dropped (guide §2.6: actions are only sequential because driver
    * code calls them sequentially). Each node starts the moment the
    * tables it READS are written: the five staging loads at once; the
    * 3NF dims once customers/suppliers/products are staged; the 3NF
    * fact on sales/orders staging + the dims; the DM dims on the 3NF
    * dims alone; dim_dates + fct_sales on the 3NF fact alone.
    */
  private def nodes: Seq[Node] = stagingNodes ++ Seq(
    Node("3nf_dims", "3nf", Seq("staging_customers", "staging_suppliers", "staging_products"),
      () => dims3nfGroup()),
    Node("3nf_fact", "3nf", Seq("staging_sales", "staging_orders", "3nf_dims"),
      () => Future(Map("ce_sales" -> load3nfFact()))),
    Node("dm_dims", "dm", Seq("3nf_dims"), () => dmDimsGroup()),
    Node("dm_fact_dates", "dm", Seq("3nf_fact"), () => dmFactAndDates()))

  /** The one scheduler. Composes each node after its deps with
    * `flatMap`, so no loaderPool thread ever waits on another pool
    * future; the single blocking wait is [[await]] on the caller's
    * thread. Deps outside `run` count as already published. A node
    * runs only if all its deps succeeded, and nothing rethrows until
    * every started node has settled ([[settleAll]]).
    */
  private def runNodes(run: Seq[Node], probe: (String, Double) => Unit): Map[String, Long] = {
    val layerStart = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    val layerEnd = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    val started = scala.collection.mutable.LinkedHashMap.empty[String, Future[Map[String, Long]]]
    run.foreach { n =>
      started(n.name) = Future.sequence(n.deps.flatMap(started.get)).flatMap { _ =>
        layerStart.putIfAbsent(n.layer, System.nanoTime()): Unit
        Future.delegate(n.body()).andThen { case _ =>
          layerEnd.merge(n.layer, System.nanoTime(), (a, b) => if (a >= b) a else b)
        }
      }
    }
    try await(settleAll(started.values.toSeq)).flatten.toMap
    finally {
      // spans of whatever layers ran — on failure too (attribution)
      layerStart.forEach { (layer, s) =>
        Option(layerEnd.get(layer)).foreach(e => probe(layer, (e - s) / 1e9))
      }
    }
  }

  /** Completes once EVERY future has settled, then fails with the
    * first failure in `fs` order. Failing fast would rethrow while
    * sibling loaders are still mid-directory-swap — an immediate retry
    * would then start a second writer against a table whose first
    * writer is still live, and the stragglers' log events would land
    * after the caller's flush.
    */
  private def settleAll[T](fs: Seq[Future[T]]): Future[Seq[T]] =
    Future.sequence(fs.map(_.transform(scala.util.Success(_)))).map(_.map(_.get))

  /** Independent loads run concurrently — Spark schedules jobs from
    * multiple driver threads onto the same executors, so
    * single-digit-second write jobs overlap instead of queueing. */
  private[plans] def inParallel(tasks: Seq[() => (String, Long)]): Future[Map[String, Long]] =
    settleAll(tasks.map(t => Future(t()))).map(_.toMap)

  /** The ETL's one blocking wait: callers' threads only, never a
    * loaderPool thread (a pool thread waiting on pool futures can
    * starve the fixed pool when orchestrations share it). */
  private[plans] def await[T](f: Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  // -- Staging — cast-to-string clean + distinct + anti-join append
  //    (reference: sql/staging/load_staging_*_table.sql)
  private def stagingNodes: Seq[Node] = {
    def load(name: String, src: => DataFrame, cols: Seq[String], keys: Seq[String]): Node =
      Node(s"staging_$name", "staging", Nil, () => Future {
        val cleaned = Staging.clean(src, cols)
        // additive schema evolution (pad-with-NULL, keep history) or full
        // reload on a non-additive change — at 100 TB a one-column
        // extract change must not trigger a full staging reload
        // (reference: load_staging_sales_table.sql:52-73)
        val merged =
          if (!wh.exists("staging", name)) cleaned
          else Staging.evolveAppend(cleaned, wh.read("staging", name), keys)
        Map(name -> log.logged(s"load_staging_$name")(wh.overwrite(merged, "staging", name)))
      })
    Seq(
      load("customers", Tables.customer(spark, sfDir),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"), Seq("c_custkey")),
      load("products", Tables.part(spark, sfDir),
        Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
        Seq("p_partkey", "p_retailprice")), // key+price: lets a price change re-enter (SURVEY §3.4.4)
      load("suppliers", Tables.supplier(spark, sfDir),
        Seq("s_suppkey", "s_name", "s_acctbal", "s_nationkey"), Seq("s_suppkey")),
      load("sales", Tables.lineitem(spark, sfDir),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_shipdate"),
        Seq("l_orderkey", "l_linenumber")),
      load("orders", Tables.orders(spark, sfDir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"), Seq("o_orderkey")))
  }

  // ---- O(changed) loader-group skip --------------------------------
  // A re-run whose INPUT FILES are bit-identical to the last completed
  // load — and whose OUTPUT files nobody touched since — would, by the
  // loaders' determinism, rewrite every output to the same rows. The
  // reference re-runs its MERGE procedures unconditionally (row-compare
  // work each time); at 100 TB an incremental pass that re-merges every
  // unchanged dimension is the difference between O(changed) and
  // O(warehouse), so each independent loader GROUP records the exact
  // file listing (relative path, size, mtime) of its inputs AND outputs
  // after a completed load, plus the row counts it returned.
  //   Listing-identity caveat: "identical listing ⇒ same bytes" holds
  // for everything Spark writes (fresh part names per rewrite) but is
  // NOT absolute for externally editable inputs — an in-place edit
  // preserving name, size, AND ms-mtime (touch -r, same-ms rewrite,
  // coarse-mtime filesystems) would wrongly skip with stale dims. mtime
  // is DELIBERATELY kept here even though QueryCaches.fingerprint
  // deliberately DROPS it: the two contracts optimize opposite error
  // costs. A skip-ledger false INVALIDATION merely re-runs a load
  // (cheap, correct), while a false SKIP is silent stale data — so the
  // ledger keeps every discriminating bit it can get. A cache false
  // invalidation is a full model retrain (the round-10 430 s blow-up),
  // while its false hit needs a byte-identical (name,size) multiset
  // under Spark-written names — so the cache trades mtime away for key
  // stability. Do not "unify" them into either shape.
  // A later run with an identical listing skips the group,
  // logs the skip per group (the O2 audit trail stays complete), and
  // returns the recorded counts. Any change — a staged extract, an
  // external table edit, a schema upgrade — changes some file and
  // re-runs the group. Fact loaders are NOT skipped this way: their
  // watermark probe + empty-slice short-circuit (P3/O1) is the
  // mechanism under test in the gates and already O(new data).
  private def stateFile(group: String) =
    new java.io.File(s"$whRoot/_etl_state/$group.state")

  private def listingOf(dirs: Seq[String]): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Seq.empty
    dirs.distinct.sorted.flatMap { d =>
      val root = new java.io.File(d)
      walk(root).map(f =>
        s"$d::${f.getAbsolutePath.stripPrefix(root.getAbsolutePath)}" +
          s"\t${f.length}\t${f.lastModified}")
    }.sorted.mkString("\n")
  }

  /** Recorded counts iff the group's input+output files are unchanged
    * since its last completed load. */
  private def groupUnchanged(group: String, dirs: Seq[String]): Option[Map[String, Long]] = {
    val f = stateFile(group)
    if (!f.isFile) return None
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val (head, listing) = text.split("\n==LISTING==\n", 2) match {
      case Array(h, l) => (h, l)
      case _           => return None // unreadable/partial record: re-run
    }
    if (listing != listingOf(dirs)) None
    else Some(head.linesIterator.filter(_.nonEmpty).map { ln =>
      val Array(t, n) = ln.split("\t", 2); t -> n.toLong
    }.toMap)
  }

  /** Record a completed group load: counts + the listing taken NOW
    * (after the writes). Atomic via temp-file move so a crash mid-write
    * reads as "no record" (re-run), never as a wrong skip. */
  private def recordGroup(group: String, dirs: Seq[String],
                          counts: Map[String, Long]): Unit = {
    val f = stateFile(group)
    f.getParentFile.mkdirs()
    val tmp = java.io.File.createTempFile(group, ".tmp", f.getParentFile)
    val text = counts.toSeq.sorted.map { case (t, n) => s"$t\t$n" }
      .mkString("", "\n", "\n==LISTING==\n") + listingOf(dirs)
    java.nio.file.Files.write(tmp.toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private val dims3nf = Seq("ce_categories", "ce_subcategories",
    "ce_continents", "ce_countries", "ce_states", "ce_cities",
    "ce_customers", "ce_suppliers", "ce_products_scd")

  /** The 3NF dim group's full file-dependency set: the three staging
    * tables the dims derive from, the two SOURCE parquet tables the geo
    * roots read directly (region/nation), and the nine outputs. */
  private def dims3nfDirs: Seq[String] =
    Seq(wh.path("staging", "customers"), wh.path("staging", "suppliers"),
      wh.path("staging", "products"),
      s"$sfDir/region.parquet", s"$sfDir/nation.parquet") ++
      dims3nf.map(wh.path("bl_3nf", _))

  // -- 3NF — 4-level geo hierarchy + 2-level product tree
  //    (insert-only), SCD1 customers (split name, city link), SCD2
  //    products (subcategory link), supplier dim, incremental sales fact

  /** The nine 3NF dimension loads as one skip-able group (every 3NF
    * loader except the fact). */
  private def dims3nfGroup(): Future[Map[String, Long]] = {
    val runDt = current_date()
    val runTs = date_trunc("second", current_timestamp())

    groupUnchanged("3nf_dims", dims3nfDirs) match {
      case Some(counts) =>
        log.append("load_3nf_dims",
          "skipped: staging/source inputs and dim outputs unchanged since last load",
          counts.values.sum)
        Future.successful(counts)
      case None =>
        // Staging tables consumed by MORE THAN ONE loader below are read
        // once and persisted for the duration of the group — customers
        // feed both the geo derivation and the SCD1 source, suppliers both
        // geo and the supplier dim, products three product-tree relations.
        // Without the persist each parallel loader re-runs the same parquet
        // scan + string-clean; with it the scan happens once per table per
        // run (at 100 TB staging re-scans are the difference between one
        // pass and four).
        val custStaged = wh.read("staging", "customers").persist()
        val supStaged = wh.read("staging", "suppliers").persist()
        val prodStaged = wh.read("staging", "products").persist()
        Future.delegate(stage3nfDims(runDt, runTs, custStaged, supStaged, prodStaged))
          .andThen { case _ =>
            custStaged.unpersist(); supStaged.unpersist(); prodStaged.unpersist()
          }
          .map { counts => recordGroup("3nf_dims", dims3nfDirs, counts); counts }
    }
  }

  private def stage3nfDims(runDt: org.apache.spark.sql.Column,
                           runTs: org.apache.spark.sql.Column,
                           custStaged: DataFrame, supStaged: DataFrame,
                           prodStaged: DataFrame): Future[Map[String, Long]] = {
    // Hierarchy SOURCE relations (SURVEY §2.3 J3/J4 at reference depth):
    // all are deterministic functions of the staged data — geo ids are
    // stable arithmetic (Hierarchy), tree ids are max-offset
    // row_numbers — so loaders can derive them with no write-order
    // dependency between the parallel dimension loads.
    val continentsSrc = withDefaultRow(
      Hierarchy.continentsFrom(Tables.region(spark, sfDir)),
      Seq(lit(-1L), lit("n.a.")))
    val countriesSrc = withDefaultRow(
      Hierarchy.countriesFrom(Tables.nation(spark, sfDir)),
      Seq(lit(-1L), lit("n.a."), lit(-1L)))
    val realCountries = countriesSrc.filter(col("country_id") =!= -1)
    val custGeo = Hierarchy.custGeoFrom(custStaged)
    val supGeo = Hierarchy.supGeoFrom(supStaged)
    // Two INDEPENDENT driver-materialization chains (each a pair of
    // bounded collects) — run them concurrently so the critical path
    // pays two collects, not four (guide §2.6: the collects are
    // independent Spark jobs the driver was serializing for no reason).
    //   geo chain — states/cities are bounded (≤ 125 / ≤ 500 rows) but
    // their derivation scans the two largest staging tables — localize
    // so the four loaders sharing them don't re-run the distinct-
    // shuffle each.
    //   product chain — tiny fixed-cardinality relations (≤ ~6
    // categories, ≤ ~150 subcategories), materialized ONCE on the
    // driver: the tree writes and the products SCD2 merge below then
    // all run in the same parallel batch sharing identical resolved
    // ids, with no read-after-swap race and no sequential stage on the
    // critical path. New names get ids past the existing max — the
    // reference's NEXTVAL (F19, reference:
    // sql/3nf/load_3nf_ce_categories_table.sql).
    val geoF = Future {
      val st = localize(withDefaultRow(
        Hierarchy.states(custGeo, supGeo, realCountries),
        Seq(lit(-1L), lit("n.a."), lit(-1L))))
      val ci = localize(withDefaultRow(
        Hierarchy.cities(custGeo, realCountries, st),
        Seq(lit(-1L), lit("n.a."), lit(-1L))))
      (st, ci)
    }
    val prodF = Future {
      val cats = localize(resumeSurrogates(
        prodStaged.select(Hierarchy.categoryOf(col("p_type")).as("category_name")).distinct(),
        "bl_3nf", "ce_categories", "category_name", "category_id"))
      val subsSrc = prodStaged.select(
          Hierarchy.subcategoryOf(col("p_type"), col("p_brand")).as("subcategory_name"),
          Hierarchy.categoryOf(col("p_type")).as("category_ref")).distinct()
        .join(broadcast(cats), upper(col("category_ref")) === upper(col("category_name")), "left")
        .select(col("subcategory_name"),
          coalesce(col("category_id"), lit(-1L)).as("subcategory_category_id"))
      val subs = localize(resumeSurrogates(subsSrc, "bl_3nf", "ce_subcategories",
        "subcategory_name", "subcategory_id"))
      (cats, subs)
    }
    settleAll(Seq(geoF, prodF)).flatMap { case Seq((statesSrc, citiesSrc), (catsLocal, subsLocal)) =>
      // Geo levels + SCD1 customers + SCD2 products + suppliers are
      // independent of each other — loaded concurrently; the fact load
      // below waits on them.
      inParallel(Seq(
        () => "ce_categories" -> log.logged("load_3nf_ce_categories")(
          wh.overwrite(catsLocal, "bl_3nf", "ce_categories")),
        () => "ce_subcategories" -> log.logged("load_3nf_ce_subcategories")(
          wh.overwrite(subsLocal, "bl_3nf", "ce_subcategories")),
        () => "ce_continents" -> log.logged("load_3nf_ce_continents")(
          wh.overwrite(insertOnly(continentsSrc, "bl_3nf", "ce_continents", Seq("continent_id")),
            "bl_3nf", "ce_continents")),
        () => "ce_countries" -> log.logged("load_3nf_ce_countries")(
          wh.overwrite(insertOnly(countriesSrc, "bl_3nf", "ce_countries", Seq("country_id")),
            "bl_3nf", "ce_countries")),
        // states from customers ∪ suppliers (reference:
        // sql/3nf/load_3nf_ce_states_table.sql:31-49); cities resolve
        // their parent state by case-insensitive name (J1, reference:
        // sql/3nf/load_3nf_ce_cities_table.sql:31-32)
        () => "ce_states" -> log.logged("load_3nf_ce_states")(
          wh.overwrite(insertOnly(statesSrc, "bl_3nf", "ce_states", Seq("state_id")),
            "bl_3nf", "ce_states")),
        () => "ce_cities" -> log.logged("load_3nf_ce_cities")(
          wh.overwrite(insertOnly(citiesSrc, "bl_3nf", "ce_cities", Seq("city_id")),
            "bl_3nf", "ce_cities")),
        () => {
          // Customers: SCD Type 1 on (first_name, last_name, segment) —
          // the split-then-track composition the reference runs
          // (load_3nf_ce_customers_scd_table_type1.sql:24-25,128-138);
          // city link rides along untracked.
          val custSrc = Hierarchy.customersSource(custStaged, realCountries, citiesSrc)
          // a target written by an older schema (e.g. pre-name-split) has
          // no history the new tracked columns can continue — rebuild
          val targetOk = wh.exists("bl_3nf", "ce_customers") && {
            val cols = wh.read("bl_3nf", "ce_customers").columns.toSet
            custSrc.columns.forall(cols.contains)
          }
          val custTarget =
            if (targetOk) wh.read("bl_3nf", "ce_customers").drop("scd_status")
            else custSrc.limit(0)
              .withColumn("insert_dt", runDt).withColumn("update_dt", runDt)
          "ce_customers" -> log.logged("load_3nf_ce_customers_scd1")(
            wh.overwrite(
              Scd.scd1Merge(custTarget, custSrc, Seq("customer_id"),
                Seq("first_name", "last_name", "segment"), runDt),
              "bl_3nf", "ce_customers"))
        },
        () => {
          // Suppliers — the reference's stores: state-level geo link +
          // numeric attribute, insert-only
          // (reference: sql/3nf/load_3nf_ce_stores_table.sql:17-33)
          val supSrc = withDefaultRow(
            Hierarchy.suppliersSource(supStaged, realCountries, statesSrc),
            Seq(lit(-1L), lit("n.a."), lit(null), lit(null), lit(-1L)))
          "ce_suppliers" -> log.logged("load_3nf_ce_suppliers")(
            wh.overwrite(insertOnly(supSrc, "bl_3nf", "ce_suppliers", Seq("supplier_id")),
              "bl_3nf", "ce_suppliers"))
        },
        () => {
          // Products: SCD Type 2 on retail price; subcategory resolved by
          // case-insensitive name (J1) into an untracked attribute
          val subs = subsLocal
          val prodSrc = prodStaged
            .withColumn("sub_ref", Hierarchy.subcategoryOf(col("p_type"), col("p_brand")))
            .join(broadcast(subs.select(col("subcategory_id"), col("subcategory_name"))),
              upper(col("sub_ref")) === upper(col("subcategory_name")), "left")
            .select(
              col("p_partkey").cast(LongType).as("product_id"),
              col("p_name").as("product_name"),
              col("p_brand").as("brand"),
              col("p_type").as("product_type"),
              coalesce(col("subcategory_id"), lit(-1L)).as("product_subcategory_id"),
              col("p_retailprice").cast(DecimalType(9, 2)).as("unit_price"))
            // staging dedups on (key, price); one current row per key enters SCD2
            .transform(df => Staging.dedupFirstWins(df, Seq("product_id"), Seq(col("unit_price").desc)))
          val prodTarget =
            if (wh.exists("bl_3nf", "ce_products_scd")) wh.read("bl_3nf", "ce_products_scd")
            else prodSrc.limit(0)
              .withColumn("start_ts", runTs.cast(TimestampType))
              .withColumn("end_ts", runTs.cast(TimestampType))
              .withColumn("is_active", lit("Y"))
          "ce_products_scd" -> log.logged("load_3nf_ce_products_scd2")(
            wh.overwrite(
              Scd.scd2Merge(prodTarget, prodSrc, Seq("product_id"), Seq("unit_price"), runTs),
              "bl_3nf", "ce_products_scd"))
        }))
    }
  }

  /** The 3NF fact load — always runs (its watermark probe + empty-slice
    * short-circuit is the O(new data) path the gates verify). Reads its
    * dim dependencies from disk, so it composes with a skipped dim
    * group unchanged.
    */
  private def load3nfFact(): Long = {
    // Sales fact: incremental watermark + dim lookups + measures
    val sales = wh.read("staging", "sales").select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("sale_src_id"),
      col("l_orderkey").cast(LongType).as("order_id"),
      col("l_partkey").cast(LongType).as("product_src_id"),
      col("l_suppkey").cast(LongType).as("supplier_src_id"),
      col("l_quantity").cast(dec).as("quantity"),
      col("l_extendedprice").cast(dec).as("extended_price"),
      to_date(col("l_shipdate")).as("ship_dt"))
    val orders = wh.read("staging", "orders").select(
      col("o_orderkey").cast(LongType).as("order_id"),
      col("o_custkey").cast(LongType).as("customer_src_id"),
      to_date(col("o_orderdate")).as("order_dt"))
    val activeProducts = wh.read("bl_3nf", "ce_products_scd")
      .filter(col("is_active") === "Y")
      .select(col("product_id"), col("unit_price"))
    // the supplier FK now resolves against its dimension (J10) — the
    // fact never carries a key no dim can explain
    val suppliersDim = wh.read("bl_3nf", "ce_suppliers").select(col("supplier_id"))
    // products/suppliers scale with the data — no forced broadcast (AQE
    // decides per run; at 100 TB these become shuffle joins, never OOMs)
    val factNew = sales
      .join(orders, Seq("order_id"), "left")
      .join(activeProducts,
        col("product_src_id") === col("product_id"), "left")
      .join(suppliersDim,
        col("supplier_src_id") === col("supplier_id"), "left")
      .select(
        col("sale_src_id"),
        coalesce(col("order_dt"), lit("1900-01-01").cast(DateType)).as("order_dt"),
        coalesce(col("customer_src_id"), lit(-1L)).as("customer_id"),
        coalesce(col("product_id"), lit(-1L)).as("product_id"),
        coalesce(col("supplier_id"), lit(-1L)).as("supplier_id"),
        col("quantity"),
        // reference semantics: total = quantity × currently-ACTIVE price
        // (SURVEY §3.4.5), falling back to extended price when unknown dim
        coalesce((col("quantity") * col("unit_price")).cast(DecimalType(18, 2)),
          col("extended_price")).as("sale_total"),
        col("ship_dt"))
      .withColumn("order_month", date_format(col("order_dt"), "yyyyMM"))
    log.logged("load_3nf_ce_sales")(
      loadFactIncremental(factNew, "bl_3nf", "ce_sales"))
  }

  /** Pin a BOUNDED dimension relation in driver memory (hierarchy trees
    * are ≤ a few hundred rows by construction) so parallel loaders can
    * share it without re-deriving or racing a directory swap. Never use
    * for anything that scales with the data.
    */
  private def localize(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  /** Incremental month-partitioned fact load: the first run writes the
    * full table; later runs touch ONLY the months that received rows.
    * The watermark (P3) bounds the READ to post-watermark source rows
    * and the per-partition swap bounds the WRITE to affected months —
    * both O(new data), the property that keeps a 100 TB incremental
    * load from rewriting the table every run.
    */
  private def loadFactIncremental(src: DataFrame, layer: String, table: String): Long = {
    if (!wh.exists(layer, table))
      return wh.overwrite(src, layer, table, partitionBy = Seq("order_month"))
    val existing = wh.readPartitioned(layer, table, "order_month")
    // one probe scan serves both the watermark AND the no-op branch's
    // returned row count (it used to re-scan the whole fact just to
    // report an unchanged count)
    val probe = existing.agg(max(col("order_dt")), count(lit(1))).head()
    val wm = probe.get(0)
    val nExisting = probe.getLong(1)
    if (wm == null)
      return wh.overwrite(src, layer, table, partitionBy = Seq("order_month"))
    val wmMonth = new java.text.SimpleDateFormat("yyyyMM")
      .format(wm.asInstanceOf[java.util.Date])
    // insert-dedup (J8) needs only the months where an existing
    // sale_src_id could collide with a post-watermark row: the boundary
    // months — fresh rows are strictly newer than the watermark and
    // order_dt is otherwise immutable, so every other month is
    // collision-free and the existing-side read stays partition-pruned.
    // Boundary NEVER includes 190001: a fresh row colliding with the
    // fallback partition is a CORRECTION to move, not a duplicate to
    // drop (and with a degenerate all-orphan table, wmMonth itself is
    // "190001" — including it would pin every orphan forever).
    val boundary = existing.filter(
      col("order_month") >= wmMonth && col("order_month") =!= "190001")
    val fallback = existing.filter(col("order_month") === "190001")
    // ONE scan of the derived fact feeds both fresh branches: the
    // watermark rows and the candidate orphans (order still missing →
    // order_dt 1900-01-01, below any watermark — a date filter alone
    // would drop them forever). The candidate set is O(new data +
    // current orphans), cheap to persist; without it each union branch
    // would re-run the staged-sales scan + dim-join tree.
    val candidates = src.filter(
      col("order_dt") > lit(wm) || col("order_month") === "190001").persist()
    try {
      val freshWm = candidates.filter(col("order_dt") > lit(wm))
        .join(boundary.select("sale_src_id"), Seq("sale_src_id"), "left_anti")
      // orphans are NEW iff absent from the fallback partition: staged
      // orders are insert-only, so a sale that ever resolved to a real
      // month keeps resolving there and can't hide an orphan twin
      val freshOrphans = candidates.filter(col("order_month") === "190001")
        .join(fallback.select("sale_src_id"), Seq("sale_src_id"), "left_anti")
      val fresh = freshWm.unionByName(freshOrphans).persist()
      // Fallback re-map: a sale first loaded before its order arrived
      // sits in the 190001 partition; when the order lands with a
      // post-watermark date, the src row re-enters `fresh` — MOVE it:
      // drop it from the fallback partition and let the fresh copy land
      // in its real month. Never both (duplicate), never neither. An
      // order backfilled BELOW the watermark stays pinned — that is the
      // watermark contract, same as the reference's.
      //   The corrected COUNT and the affected month set ride ONE
      // aggregation job (they used to be a count plus a distinct-
      // collect — two scans of `fresh`). The marker join must keep
      // SEMI-join row semantics — sale_src_id is NOT unique in either
      // relation (the source data carries duplicate (orderkey,
      // linenumber) pairs), so the fallback ids are deduped before the
      // left join and the count is of MATCHED FRESH ROWS, exactly what
      // correctedIds.count() measured.
      val correctedIds = fresh
        .join(fallback.select("sale_src_id"), Seq("sale_src_id"), "left_semi")
        .select("sale_src_id")
      try {
        val probeRow = fresh
          .join(fallback.select(col("sale_src_id")).distinct()
            .withColumn("__infb", lit(1)), Seq("sale_src_id"), "left")
          .agg(sort_array(collect_set(col("order_month"))).as("m"),
            count(col("__infb")).as("nc")).head()
        val affected = probeRow.getSeq[String](0).toArray
        val nCorrected = probeRow.getLong(1)
        if (affected.isEmpty && nCorrected == 0) nExisting // no-op run
        else {
          // whenever 190001 is rewritten (corrections out, new orphans
          // in, or both) the surviving existing rows must ride the swap;
          // emptiness is decided from counts — no extra probe job
          val hasFreshFb = affected.contains("190001")
          val nFallback =
            if (nCorrected > 0 || hasFreshFb) fallback.count() else 0L
          val emptiedFb = nCorrected > 0 && nCorrected == nFallback && !hasFreshFb
          val carryFb: Option[DataFrame] =
            if (nCorrected == 0 && !hasFreshFb) None // 190001 untouched
            else if (emptiedFb) None
            else if (nCorrected == 0) Some(fallback)
            else Some(fallback.join(correctedIds, Seq("sale_src_id"), "left_anti"))
          // the slice must not reference files the drop below removes:
          // with !hasFreshFb the orphan branch is empty, so rebuild the
          // slice from the watermark branch only — its lineage touches
          // src and the non-fallback boundary months, never 190001
          val freshForSlice = if (hasFreshFb) fresh else freshWm
          if (emptiedFb) {
            // drop BEFORE the month swaps (see Warehouse.dropPartition
            // for why remove-then-add is the crash-safe order)
            wh.dropPartition(layer, table, "order_month", "190001")
          }
          val slice0 = boundary.filter(col("order_month").isin(affected.toIndexedSeq: _*))
            .unionByName(freshForSlice.select(existing.columns.toIndexedSeq.map(col): _*))
          val slice = carryFb.fold(slice0)(slice0.unionByName(_))
          wh.overwritePartitions(slice, layer, table, "order_month")
          wh.read(layer, table).count() // zero-column footer scan
        }
      } finally { fresh.unpersist(); () }
    } finally { candidates.unpersist(); () }
  }

  /** DM-side month sync: rebuild only the months whose 3NF rows are
    * newer than the DM watermark. BOTH the discovery scan and the
    * rebuild read are partition-pruned: a post-watermark order_dt can
    * only live in a month >= the watermark's month, so the discovery
    * filter leads with the partition column (without it the discovery
    * would scan every month each run and the loader's O(new data) claim
    * would hold only for the rebuild half).
    */
  private def syncFactMonths(src3nf: DataFrame, layer: String, table: String): Long = {
    if (!wh.exists(layer, table))
      return wh.overwrite(src3nf, layer, table, partitionBy = Seq("order_month"))
    val existing = wh.readPartitioned(layer, table, "order_month")
    // ONE probe scan of the existing fact serves the watermark, the
    // unchanged count the no-op branch returns, AND the fallback-drift
    // signature of the 190001 partition (it used to be a separate
    // pruned scan — a whole extra job on every incremental/no-op pass).
    // Drift compares a count + key-checksum, not counts alone (a
    // move-k-in/move-k-out run would collide on count); the when()
    // restricts both signature aggregates to the fallback partition
    // (aggregates skip the NULLs every other row contributes).
    val isFb = col("order_month") === "190001"
    val probe = existing.agg(max(col("order_dt")), count(lit(1)),
      count(when(isFb, 1)),
      coalesce(bit_xor(when(isFb, xxhash64(col("sale_src_id")))), lit(0L))).head()
    val wm = probe.get(0)
    val nExisting = probe.getLong(1)
    if (wm == null)
      return wh.overwrite(src3nf, layer, table, partitionBy = Seq("order_month"))
    val (dmFbN, dmFbChk) = (probe.getLong(2), probe.getLong(3))
    val wmMonth = new java.text.SimpleDateFormat("yyyyMM")
      .format(wm.asInstanceOf[java.util.Date])
    // One discovery scan of the 3NF side serves the affected-month set
    // AND the source fallback signature (previously two jobs). The
    // leading disjunction references ONLY the partition column, so the
    // scan stays pruned to months >= the watermark's plus 190001; the
    // second conjunct restores row-exactness on the watermark branch.
    val srcProbe = src3nf
      .filter((col("order_month") >= wmMonth || isFb) &&
        (col("order_dt") > lit(wm) || isFb))
      .agg(sort_array(collect_set(
        when(col("order_month") >= wmMonth && col("order_dt") > lit(wm),
          col("order_month")))).as("m"),
        count(when(isFb, 1)),
        coalesce(bit_xor(when(isFb, xxhash64(col("sale_src_id")))), lit(0L))).head()
    val affected = srcProbe.getSeq[String](0).toArray
    val (srcFbN, srcFbChk) = (srcProbe.getLong(1), srcProbe.getLong(2))
    val fbDrift = srcFbN != dmFbN || srcFbChk != dmFbChk
    if (affected.isEmpty && !fbDrift) nExisting
    else {
      if (fbDrift && srcFbN == 0)
        wh.dropPartition(layer, table, "order_month", "190001")
      val months = (if (fbDrift && srcFbN > 0) affected.toSeq :+ "190001"
                    else affected.toSeq).distinct.sorted
      if (months.nonEmpty)
        wh.overwritePartitions(
          src3nf.filter(col("order_month").isin(months: _*)),
          layer, table, "order_month"): Unit
      wh.read(layer, table).count()
    }
  }

  /** F19 NEXTVAL-style id continuity: existing rows keep their ids, new
    * names get row_number ids offset past the existing max.
    */
  private def resumeSurrogates(src: DataFrame, layer: String, table: String,
                               nameCol: String, idCol: String): DataFrame =
    if (wh.exists(layer, table)) {
      val existing = wh.read(layer, table)
      // coalesce: an existing-but-empty table has a NULL max
      val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L))).head().getLong(0)
      val fresh = Relational.surrogateKeys(
        Staging.newRowsOnly(src, existing, Seq(nameCol)), nameCol, maxId, idCol)
      existing.unionByName(fresh.select(existing.columns.toIndexedSeq.map(col): _*))
    } else
      Relational.surrogateKeys(src, nameCol, 0L, idCol)

  // -- Dimensional — date dim, snowflake-flattened dims,
  //    DM-layer SCD2 re-versioning, partition-wise incremental fact
  /** The DM dim group's dependency set: the seven 3NF relations the
    * three flatten/re-version loaders read, plus their outputs. The
    * date dimension is its OWN group — it depends on the FACT's date
    * range, not the dims, so a fact-only incremental wave re-ranges
    * dates without re-flattening unchanged dimensions. */
  private def dimsDmDirs: Seq[String] =
    Seq("ce_customers", "ce_cities", "ce_states", "ce_countries",
      "ce_continents", "ce_suppliers", "ce_products_scd")
      .map(wh.path("bl_3nf", _)) ++
      Seq("dim_customers", "dim_suppliers", "dim_products_scd")
        .map(wh.path("bl_dm", _))

  private def dimDatesDirs: Seq[String] =
    Seq(wh.path("bl_3nf", "ce_sales"), wh.path("bl_dm", "dim_dates"))

  /** The three DM dimension loads as one skip-able group. */
  private def dmDimsGroup(): Future[Map[String, Long]] = {
    val runTs = date_trunc("second", current_timestamp())
    val dmDimsSkip = groupUnchanged("dm_dims", dimsDmDirs)
    val dimTasks: Seq[() => (String, Long)] = if (dmDimsSkip.isDefined) Seq.empty else Seq(
      () => {
        // J3 at reference depth: the 4-join snowflake flatten
        // customer → city → state → country → continent (reference:
        // load_dim_customers_dimension_scd_type1.sql:88-95)
        val dimCustomers = Hierarchy.flattenCustomers(
          wh.read("bl_3nf", "ce_customers"),
          wh.read("bl_3nf", "ce_cities"),
          wh.read("bl_3nf", "ce_states"),
          wh.read("bl_3nf", "ce_countries"),
          wh.read("bl_3nf", "ce_continents"))
        "dim_customers" -> log.logged("load_dim_customers")(
          wh.overwrite(dimCustomers, "bl_dm", "dim_customers"))
      },
      () => {
        // store-analog dimension flatten (reference:
        // sql/dimensional/load_dim_stores_dimension.sql:79-84)
        val dimSuppliers = Hierarchy.flattenSuppliers(
          wh.read("bl_3nf", "ce_suppliers"),
          wh.read("bl_3nf", "ce_states"),
          wh.read("bl_3nf", "ce_countries"),
          wh.read("bl_3nf", "ce_continents"))
        "dim_suppliers" -> log.logged("load_dim_suppliers")(
          wh.overwrite(dimSuppliers, "bl_dm", "dim_suppliers"))
      },
      () => {
        // DM-layer SCD2: an INDEPENDENT re-versioning merge over the
        // 3NF active slice — its own change detection across ALL
        // attributes, so DM history accumulates even though each 3NF
        // active slice carries only current rows (reference:
        // load_dim_products_dimension_scd_type2.sql:118-234)
        val active = wh.read("bl_3nf", "ce_products_scd")
          .filter(col("is_active") === "Y")
          .drop("start_ts", "end_ts", "is_active")
        val target =
          if (wh.exists("bl_dm", "dim_products_scd")) wh.read("bl_dm", "dim_products_scd")
          else active.limit(0)
            .withColumn("start_ts", runTs.cast(TimestampType))
            .withColumn("end_ts", runTs.cast(TimestampType))
            .withColumn("is_active", lit("Y"))
        val tracked = active.columns.filterNot(_ == "product_id").toSeq
        "dim_products_scd" -> log.logged("load_dim_products_scd2")(
          wh.overwrite(
            Scd.scd2Merge(target, active, Seq("product_id"), tracked, runTs),
            "bl_dm", "dim_products_scd"))
      })
    dmDimsSkip match {
      case Some(counts) =>
        log.append("load_dm_dims",
          "skipped: 3NF inputs and DM dim outputs unchanged since last load",
          counts.values.sum)
        Future.successful(counts)
      case None =>
        inParallel(dimTasks).map { counts => recordGroup("dm_dims", dimsDmDirs, counts); counts }
    }
  }

  /** The DM loads that read ce_sales: the date dimension (its own skip
    * group — it depends on the FACT's date range, not the dims) and the
    * month-partitioned incremental fact sync, run concurrently. */
  private def dmFactAndDates(): Future[Map[String, Long]] = {
    val fact3nf = wh.readPartitioned("bl_3nf", "ce_sales", "order_month")
    val datesSkip = groupUnchanged("dim_dates", dimDatesDirs)
    val datesTask: Seq[() => (String, Long)] = if (datesSkip.isDefined) Seq.empty else Seq(
      () => "dim_dates" -> log.logged("load_dim_dates")(
        wh.overwrite(DimDates.autoRanged(spark, fact3nf, "order_dt"), "bl_dm", "dim_dates")))
    // Fact: month-partitioned (reference's RANGE partitions →
    // partitionBy); incremental runs rebuild only post-watermark months
    inParallel(datesTask :+ (
      () => "fct_sales" -> log.logged("load_fct_sales")(
        syncFactMonths(fact3nf, "bl_dm", "fct_sales"))): Seq[() => (String, Long)]).map { ran =>
      val dates = datesSkip match {
        case Some(counts) =>
          log.append("load_dim_dates",
            "skipped: fact date range and dim_dates output unchanged since last load",
            counts.values.sum)
          counts
        case None =>
          val counts = ran.filter { case (t, _) => t == "dim_dates" }
          recordGroup("dim_dates", dimDatesDirs, counts)
          counts
      }
      dates + ("fct_sales" -> ran("fct_sales"))
    }
  }

  /** C3 insert-only append against the existing warehouse table, with
    * the same additive schema evolution as the staging layer (a target
    * written before a new source column exists is padded and keeps its
    * history — see [[Staging.evolveAppend]]).
    */
  private def insertOnly(src: DataFrame, layer: String, table: String,
                         keys: Seq[String]): DataFrame =
    if (!wh.exists(layer, table)) src
    else Staging.evolveAppend(src, wh.read(layer, table), keys)

  /** The reference's −1 default row ('n.a.', SURVEY §1.4). */
  private def withDefaultRow(df: DataFrame, defaults: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val defaultRow = df.sparkSession.range(1).select(
      defaults.zip(df.columns).map { case (d, c) =>
        d.cast(df.schema(c).dataType).as(c) }: _*)
    df.unionByName(defaultRow)
  }
}

object Orchestrator {
  /** One loader-DAG node: `body` starts the node's loads once every
    * dep has succeeded and completes with the row counts they return. */
  private final case class Node(name: String, layer: String, deps: Seq[String],
                                body: () => Future[Map[String, Long]])

  /** Shared pool for concurrent loader jobs (bounded — loaders are
    * driver-side coordinators; the real work runs on Spark's executors).
    */
  lazy val loaderPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        // daemon: coordinator threads must never block JVM exit
        val t = new Thread(r, "graft-loader")
        t.setDaemon(true)
        t
      }))
}

/** The full pipeline as a verifiable query: run staging→3NF→DM into a
  * fresh warehouse, then summarize the dimensional fact per month. The
  * DuckDB oracle re-derives the same summary relationally (active SCD2
  * price = max price per product on first load), so the entire ETL —
  * staging casts, dedups, SCD init, watermark fact load, month
  * partitioning — is hash-checked end-to-end. Its BENCH timing is the
  * analog of the reference's headline "full ETL 4.171 s"
  * (reference: python/dw_tests.log:21).
  */
object EtlQueries extends graft.QueryPack {

  private[graft] def tmpWarehouse(): String = {
    val base = new java.io.File("/dev/shm")
    val whRoot = (if (base.isDirectory && base.canWrite)
      java.nio.file.Files.createTempDirectory(base.toPath, "graft-etl")
    else java.nio.file.Files.createTempDirectory("graft-etl")).toString
    sys.addShutdownHook { // RAM-backed scratch: reclaim on JVM exit
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      val root = Path.of(whRoot)
      if (Files.exists(root))
        scala.util.Using.resource(Files.walk(root))(
          _.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p): Unit))
    }
    whRoot
  }

  val queries: Map[String, Q] = Map(
    // The incremental path, hash-checked end-to-end: load a 20% order
    // subset, then feed a late-arriving extract (the last month shifted
    // +60 days under fresh keys) through the SAME loaders — watermark,
    // boundary anti-join, per-month partition swaps and all. The oracle
    // computes the from-scratch result over the unioned extracts, so a
    // green hash proves incremental == full reload row-for-row (the
    // reference's idempotency contract, python/dw_etl_tests.py:371-410,
    // promoted from a spec assertion to the correctness gate).
    "q74_incremental_etl" -> ((s, d) => {
      import graft.operators.Staging
      import graft.sources.Tables
      val orch = new Orchestrator(s, d, tmpWarehouse())
      val wh = orch.wh
      // Each orchestrator pass publishes its own duration to BenchProbes:
      // the bench emits them as sub_timings next to q74's wall time, so a
      // ledger anomaly names a PASS (initial / incremental / no-op), not
      // a one-number macro blob (round-11 verdict directive 3 — the
      // official run's 175.7 s vs 16.6 s local had nothing to point at).
      def pass[T](part: String)(body: => T): T =
        graft.BenchProbes.timed("q74_incremental_etl", part)(body)
      def stage(name: String, df: DataFrame, cols: Seq[String]): (String, Long) =
        name -> wh.overwrite(Staging.clean(df, cols), "staging", name)
      val oCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
      val lCols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      val liSub = Tables.lineitem(s, d).filter(col("l_orderkey") % 5 === 0)
      val oSub = Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0)
      pass("stage_inputs") {
        // five independent table writes — overlapped like the staging
        // nodes' (guide §2.6), not serialized on the driver
        orch.await(orch.inParallel(Seq(
          () => stage("customers", Tables.customer(s, d),
            Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
          () => stage("products", Tables.part(s, d),
            Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")),
          () => stage("suppliers", Tables.supplier(s, d),
            Seq("s_suppkey", "s_name", "s_acctbal", "s_nationkey")),
          () => stage("orders", oSub, oCols),
          () => stage("sales", liSub, lCols)))): Unit
      }
      pass("pass1_initial") { orch.run3nfDm() }
      // the late extract: last month's orders + their lines, +60 days,
      // fresh keys — strictly past the watermark
      val month = date_format(to_date(col("o_orderdate")), "yyyyMM")
      pass("late_extract") {
        val lastMonth = oSub.agg(max(month)).head().getString(0)
        val lateO = oSub.filter(month === lastMonth).select(
          (col("o_orderkey").cast(LongType) + 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"),
          date_add(to_date(col("o_orderdate")), 60).as("o_orderdate"))
        val lateL = liSub
          .join(oSub.filter(month === lastMonth).select(col("o_orderkey").as("l_orderkey")),
            Seq("l_orderkey"), "left_semi")
          .select(
            (col("l_orderkey").cast(LongType) + 10000000L).as("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"),
            date_add(to_date(col("l_shipdate")), 60).as("l_shipdate"))
        // two independent staging-table appends — overlapped
        orch.await(orch.inParallel(Seq(
          () => "orders" -> wh.overwrite(Staging.antiJoinAppend(Staging.clean(lateO, oCols),
            wh.read("staging", "orders"), Seq("o_orderkey")), "staging", "orders"),
          () => "sales" -> wh.overwrite(Staging.antiJoinAppend(Staging.clean(lateL, lCols),
            wh.read("staging", "sales"), Seq("l_orderkey", "l_linenumber")), "staging", "sales")))): Unit
      }
      pass("pass2_incremental") { orch.run3nfDm() }
      // Third pass: the reference's idempotency re-run on UNCHANGED
      // data (python/dw_etl_tests.py:371-410) — zero rows staged, so
      // both fact loaders MUST take their no-op branch (empty
      // watermark slice ⇒ no partition swap). The file-signature
      // compare proves O(new data) = 0 work on the corpus-scale
      // tables: if a no-op run ever rewrites a fact partition, the
      // requires below fail the gate loudly. Duration goes to stderr;
      // OrchestratorSpec asserts the same invariants per-table at
      // sf0.001, and perfbench's etl_cycle workload times the full load
      // against the no-op re-run.
      def factSig(layer: String, table: String): Set[(String, Long, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        val rootF = new java.io.File(wh.path(layer, table))
        walk(rootF).map(f => (f.getAbsolutePath.stripPrefix(rootF.getAbsolutePath),
          f.length, f.lastModified)).toSet
      }
      val sigBefore3nf = factSig("bl_3nf", "ce_sales")
      val sigBeforeDm = factSig("bl_dm", "fct_sales")
      val t0 = System.nanoTime()
      pass("pass3_noop") { orch.run3nfDm() }
      val noopS = (System.nanoTime() - t0) / 1e9
      require(factSig("bl_3nf", "ce_sales") == sigBefore3nf,
        "no-op ETL re-run rewrote bl_3nf.ce_sales partition files")
      require(factSig("bl_dm", "fct_sales") == sigBeforeDm,
        "no-op ETL re-run rewrote bl_dm.fct_sales partition files")
      Console.err.println(f"[q74] no-op third pass: $noopS%.2f s, fact partitions untouched")
      wh.readPartitioned("bl_dm", "fct_sales", "order_month")
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_sales"),
          sum(col("sale_total")).cast("double").as("sum_total"))
    }),
    // Compaction, hash-verified end-to-end: fragment a month-partitioned
    // table (8 files per month — the state incremental loads accrete),
    // snapshot a per-partition row checksum, compact to one file per
    // month, and emit booleans proving (a) every partition's row multiset
    // survived byte-for-byte (xxhash64 bit_xor + count, both engines are
    // the same Spark session so the hash is apples-to-apples) and
    // (b) the file count actually collapsed. The oracle pins the
    // aggregates to raw lineitem and the booleans to TRUE.
    "q79_compact" -> ((s, d) => {
      import graft.sources.Tables
      val wh = new graft.sources.Warehouse(tmpWarehouse(), s)
      // one ship-year is enough to prove the machinery (fragment →
      // checksum → compact → identical + collapsed); the full table
      // would only add bench weight, not coverage
      val li = Tables.lineitem(s, d)
        .filter(year(to_date(col("l_shipdate"))) === 1997)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
          date_format(to_date(col("l_shipdate")), "yyyyMM").as("ship_month"))
      wh.overwrite(li.repartition(8), "bl_dm", "li_frag",
        partitionBy = Seq("ship_month"), preClustered = true): Unit
      def fileCount(month: String): Int =
        wh.partitionFileCount("bl_dm", "li_frag", "ship_month", month)
      def chk(df: DataFrame) = df.groupBy(col("ship_month")).agg(
        bit_xor(xxhash64(col("l_orderkey"), col("l_linenumber"), col("qty"))).as("chk"),
        count(lit(1)).as("n"))
      // snapshot BEFORE the swap (bounded: one row + one file count per month)
      val before = chk(wh.readPartitioned("bl_dm", "li_frag", "ship_month"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val filesBefore = before.keys.map(m => m -> fileCount(m)).toMap
      wh.compact("bl_dm", "li_frag", Some("ship_month"),
        targetBytes = Long.MaxValue): Unit
      val after = wh.readPartitioned("bl_dm", "li_frag", "ship_month")
      val bdf = s.createDataFrame(before.toSeq.map { case (m, (c, n)) =>
        (m, c, n, filesBefore(m), fileCount(m)) }.sortBy(_._1))
        .toDF("ship_month", "chk_b", "n_b", "files_b", "files_a")
      chk(after)
        .join(after.groupBy(col("ship_month"))
          .agg(sum(col("qty")).cast(DoubleType).as("sum_qty")), Seq("ship_month"))
        .join(bdf, Seq("ship_month"))
        .select(col("ship_month"), col("n").as("n_rows"), col("sum_qty"),
          (col("chk") === col("chk_b") && col("n") === col("n_b")).as("identical"),
          (col("files_a") === 1 && col("files_b") > 1).as("compacted_ok"))
    }),
    "q60_full_etl" -> ((s, d) => {
      // ephemeral bench warehouse on tmpfs when available: the query
      // measures the pipeline's compute, not the host VM's bursty disk
      val orch = new Orchestrator(s, d, tmpWarehouse())
      orch.runFullEtl((stage, sec) =>
        graft.BenchProbes.record("q60_full_etl", stage, sec))
      orch.wh.read("bl_dm", "fct_sales")
        // partition-column type inference reads the month dir as int
        .withColumn("order_month", col("order_month").cast("string"))
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_sales"),
          sum(col("sale_total")).cast("double").as("sum_total"))
    }),

    // Bucketed co-located join through the warehouse, promoted from the
    // spec-only no-Exchange assert to the hash gate: fact and orders
    // are written bucketBy(orderkey) + sortBy, read back through the
    // catalog, joined on the bucket key, and rolled up. The RESULT is
    // what's hash-checked here; the plan property (bucketed scans join
    // with zero Exchange) stays pinned by RelationalSpec. At 100 TB
    // this is THE shape for repeated fact⋈fact joins: the shuffle is
    // paid once at write time, every subsequent join is co-located.
    "q117_bucketed_join" -> ((s, d) => {
      // bucketed writes register session-global catalog names
      // (bl_3nf_bk_*): drop any stale registration first so the query
      // is self-contained and order-independent within a driver run
      Seq("bl_3nf_bk_lines", "bl_3nf_bk_orders")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"): Unit)
      val wh = new Warehouse(tmpWarehouse(), s)
      val dec = DecimalType(18, 2)
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_quantity").cast(dec).as("qty"))
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      wh.overwriteBucketed(li, "bl_3nf", "bk_lines", Seq("l_orderkey"), 8): Unit
      wh.overwriteBucketed(o, "bl_3nf", "bk_orders", Seq("l_orderkey"), 8): Unit
      wh.readBucketed("bl_3nf", "bk_lines")
        .join(wh.readBucketed("bl_3nf", "bk_orders"), Seq("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("qty")).cast(DoubleType).as("sum_qty"))
    })
  )
  val oracleSql: Map[String, String] = Map(
    "q117_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q74_incremental_etl" ->
      """WITH o0 AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0),
         li0 AS (SELECT * FROM lineitem WHERE l_orderkey % 5 = 0),
         lastm AS (SELECT max(strftime(CAST(o_orderdate AS DATE), '%Y%m')) AS m FROM o0),
         allo AS (
           SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                  CAST(o_orderdate AS DATE) AS order_dt
           FROM o0
           UNION ALL
           SELECT CAST(o_orderkey AS BIGINT) + 10000000,
                  CAST(o_orderdate AS DATE) + 60
           FROM o0 WHERE strftime(CAST(o_orderdate AS DATE), '%Y%m') = (SELECT m FROM lastm)),
         alll AS (
           SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, l_partkey, l_quantity
           FROM li0
           UNION ALL
           SELECT CAST(l.l_orderkey AS BIGINT) + 10000000, l.l_partkey, l.l_quantity
           FROM li0 l
           WHERE EXISTS (SELECT 1 FROM o0
                         WHERE o0.o_orderkey = l.l_orderkey
                           AND strftime(CAST(o0.o_orderdate AS DATE), '%Y%m') = (SELECT m FROM lastm))),
         active_price AS (
           SELECT p_partkey, max(CAST(p_retailprice AS DECIMAL(9,2))) AS unit_price
           FROM part GROUP BY 1)
       SELECT strftime(order_dt, '%Y%m') AS order_month,
              count(*) AS n_sales,
              CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * unit_price
                   AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
       FROM alll
       JOIN allo ON l_orderkey = o_orderkey
       JOIN active_price ON l_partkey = p_partkey
       GROUP BY 1""",
    "q79_compact" ->
      """SELECT strftime(CAST(l_shipdate AS DATE), '%Y%m') AS ship_month,
              count(*) AS n_rows,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              TRUE AS identical, TRUE AS compacted_ok
         FROM lineitem
         WHERE date_part('year', CAST(l_shipdate AS DATE)) = 1997
         GROUP BY 1""",
    "q60_full_etl" ->
      """WITH active_price AS (
           SELECT p_partkey, max(CAST(p_retailprice AS DECIMAL(9,2))) AS unit_price
           FROM part GROUP BY 1)
         SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m') AS order_month,
                count(*) AS n_sales,
                CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * unit_price
                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN active_price ON l_partkey = p_partkey
         GROUP BY 1"""
  )
}
