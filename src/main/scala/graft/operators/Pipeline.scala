package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule, Scratch, Tables}
import graft.CacheScope.TrackedDataset

/** The reference DAG re-expressed as ONE end-to-end driver (SURVEY §2.10;
  * dags/etl_crash_traffic.py:951-1005): transform/merge → idempotent fact
  * load → skip-guarded dimension builds → FK-resolved star fact → the 7
  * topic snapshots. Every step is rerun-safe the way the reference's is:
  * loads are left-anti appends (`INSERT ... ON CONFLICT DO NOTHING`,
  * :619-654), dimension builds check existence first (the skip-guards at
  * :170-173 and :678-690), topic publishes are complete-snapshot
  * overwrites. `q_pipeline_idempotence` runs the WHOLE chain twice and
  * returns the warehouse row counts — stable counts prove run-to-run
  * idempotence of the chain, not merely of the append step.
  *
  * Scale: the chain adds nothing beyond its parts — the one fact-side
  * shuffle is flatFact's lineitem⋈orders, dims are distinct+broadcast,
  * topics are bounded-cardinality aggregates. Parquet directories play the
  * reference's Postgres tables (SURVEY S4).
  */
object Pipeline extends QueryModule {

  /** Delete a scratch warehouse (fresh-run setup; the reference's DDL
    * CREATE-IF-NOT-EXISTS plays this role).
    */
  def reset(warehouse: String): Unit = Scratch.clear(warehouse)

  val factKeys: Seq[String] = Seq("l_orderkey", "l_linenumber")

  val topicBuilders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "topic_signals_by_state"   -> (Topics.transitSignalsByState _),
    "topic_signals_vs_lesions" -> (Topics.signalsVsLesions _),
    "topic_weather_light"      -> (Topics.weatherLightSurface _),
    "topic_accidents_by_time"  -> (Topics.accidentsByTime _),
    "topic_lesions_by_county"  -> (Topics.lesionsByCounty _),
    "topic_infra_vs_lesions"   -> (Topics.hospitalsSchoolsVsLesions _),
    "topic_crossings"          -> (Topics.crossingsVsLesions _))

  /** One DAG run: merge → load → dims → fact → topics. Safe to re-run. */
  def runOnce(s: SparkSession, d: String, warehouse: String): Unit = {
    // topic snapshots read ONLY the source tables (never the warehouse), so
    // they are DAG branches independent of the whole flat→dims→fact chain —
    // submit them FIRST and await them LAST (guide §2.6 overlap): their
    // small jobs back-fill the scheduler gaps of the chain's sequential
    // write/commit phases instead of adding ~7 write jobs of wall at the
    // end. Complete-mode overwrites are rerun-safe by definition, and the
    // reference's Airflow graph runs independent tasks in parallel
    // (dags/etl_crash_traffic.py:1002-1005).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val topicFutures = topicBuilders.map { case (name, build) =>
      Future(build(s, d).write.mode("overwrite").parquet(s"$warehouse/$name"))
    }
    // transform + merge (the reference's accidentes_final build)
    val flat = StarPipeline.flatFact(s, d)
    // idempotent load: only rows whose key is absent get appended
    Star.idempotentWrite(flat, s"$warehouse/flat_fact", factKeys)
    // the loaded fact feeds up to 8 dim builds + the FK resolve, each a
    // plain parquet re-read that scans only its own columns (the
    // runIncremental argument). Every warehouse read-back takes the schema
    // of the frame that wrote the table, so none runs an inference job
    // (Spark makes a given schema all-nullable, as it does an inferred one,
    // so Star.resolveDims takes the same null-safe branch).
    val loadedFlat = s.read.schema(flat.schema).parquet(s"$warehouse/flat_fact")
    // dimension builds, skip-guarded: an existing dim is NOT rebuilt (the
    // reference checks row counts before inserting; surrogate ids must
    // stay stable across runs for the fact FKs to remain valid)
    // the 8 builds are independent DAG branches writing disjoint
    // directories — submit them concurrently (same argument as the topic
    // publishes below: small jobs in sequence leave the cluster idle)
    runConcurrently(StarPipeline.dimSpecs.map { case (name, keys) =>
      () => {
        val path = s"$warehouse/$name"
        if (!Tables.exists(path))
          Star.buildDim(loadedFlat, keys, name + "_id")
            .write.parquet(path)
      }
    })
    // star fact: resolve FKs against the LOADED dims, idempotent load.
    // DELTA-FIRST (same argument as runIncremental): anti-join the narrow
    // key projection BEFORE the 8 dim joins, so a re-run resolves zero
    // rows instead of resolving everything and discarding it in a wide
    // anti join. Resolution is row-local (key-unique broadcast left
    // joins), so delta-then-resolve ≡ the reference's resolve-then-
    // ON-CONFLICT order. (r05: cut the idempotence gate's second run.)
    val dims = loadedDims(s, warehouse, loadedFlat)
    val factPath = s"$warehouse/star_fact"
    val pendingFlat =
      if (!Tables.exists(factPath)) loadedFlat
      else loadedFlat.join(
        // keys are unique in star_fact by construction — no distinct
        // (a distinct here would add a full key shuffle before the anti)
        loadedFactKeys(s, factPath, loadedFlat),
        factKeys, "left_anti")
    val fact = Star.resolveDims(pendingFlat, dims).select(
      (factKeys.map(col) ++
        StarPipeline.dimSpecs.map { case (n, _) => col(n + "_id") } ++
        Seq(col("l_quantity"), col("l_extendedprice"), col("l_discount"))): _*)
    fact.write.mode(SaveMode.Append).parquet(factPath)
    // await the topic snapshots submitted at entry (see above)
    topicFutures.foreach(Await.result(_, Duration.Inf))
  }

  /** The 8 loaded dims, each read back with the schema its builder writes
    * (an extension appends rows of the same schema, Star.newDimRows).
    */
  private def loadedDims(s: SparkSession, warehouse: String,
                         loadedFlat: DataFrame): Seq[(DataFrame, Seq[String])] =
    StarPipeline.dimSpecs.map { case (name, keys) =>
      (s.read.schema(Star.buildDim(loadedFlat, keys, name + "_id").schema)
        .parquet(s"$warehouse/$name"), keys)
    }

  /** The key projection of the loaded star fact; reading only the key
    * columns' schema leaves the other columns unread.
    */
  private def loadedFactKeys(s: SparkSession, factPath: String,
                             loadedFlat: DataFrame): DataFrame = {
    val keys = loadedFlat.select(factKeys.map(col): _*)
    s.read.schema(keys.schema).parquet(factPath)
  }

  /** Submit independent actions concurrently and wait for all (Spark's
    * scheduler interleaves the job stages; FIFO is fine for equal-sized
    * jobs). Any failure propagates.
    */
  private def runConcurrently(actions: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    actions.map(a => Future(a())).foreach(Await.result(_, Duration.Inf))
  }

  /** One INCREMENTAL DAG run: like [[runOnce]], but dimensions GROW —
    * natural keys not yet in a dim are appended with surrogate ids
    * continuing from max(id) (Star.newDimRows), and existing ids never
    * move, so fact rows loaded by earlier runs keep valid FKs while new
    * rows resolve against the extended dims. The reference's skip-guard
    * (dags/etl_crash_traffic.py:678-690) would leave keys that first
    * appear in a later load resolving to NULL FKs — this is the missing
    * capability a daily-cadence warehouse needs. `factFilter` scopes a
    * run to a slice of the source (plays the role of a daily partition).
    * Topic snapshots are runOnce's concern, not repeated here.
    */
  def runIncremental(s: SparkSession, d: String, warehouse: String,
                     factFilter: Option[Column] = None): Unit = {
    val flatAll = StarPipeline.flatFact(s, d)
    val flat = factFilter.map(flatAll.filter).getOrElse(flatAll)
    Star.idempotentWrite(flat, s"$warehouse/flat_fact", factKeys)
    // plain re-reads, NOT persist: the 8 concurrent dim extensions each
    // scan only their own key columns off the parquet (column pruning);
    // a persist would serialize them behind one all-column cache build
    // (measured 12.1 s → 15.8 s at sf0.1)
    val loadedFlat = s.read.schema(flat.schema).parquet(s"$warehouse/flat_fact")
    runConcurrently(StarPipeline.dimSpecs.map { case (name, keys) =>
      () => {
        val path = s"$warehouse/$name"
        if (!Tables.exists(path))
          Star.buildDim(loadedFlat, keys, name + "_id").write.parquet(path)
        else
          Star.extendDim(s, path, loadedFlat, keys, name + "_id")
      }
    })
    val dims = loadedDims(s, warehouse, loadedFlat)
    // resolve ONLY the not-yet-loaded delta: anti-join FIRST, then run the
    // 8 dim joins on the fresh rows alone. runOnce resolves everything and
    // lets the load's anti join discard duplicates (the reference-faithful
    // order); at a daily cadence over a 100 TB warehouse that re-resolves
    // the full history every run — here the join work is proportional to
    // the increment. Resolution is row-local (key-unique broadcast left
    // joins), so delta-then-resolve ≡ resolve-then-delta.
    val factPath = s"$warehouse/star_fact"
    val freshFlat =
      if (!Tables.exists(factPath)) loadedFlat // first load
      else loadedFlat.join(
        // keys are unique in star_fact by construction (the runOnce
        // argument) — and a left_anti is key-multiplicity-insensitive
        // anyway, so the old distinct here was a pure extra key shuffle
        loadedFactKeys(s, factPath, loadedFlat),
        factKeys, "left_anti")
    val fact = Star.resolveDims(freshFlat, dims).select(
      (factKeys.map(col) ++
        StarPipeline.dimSpecs.map { case (n, _) => col(n + "_id") } ++
        Seq(col("l_quantity"), col("l_extendedprice"), col("l_discount"))): _*)
    fact.write.mode(SaveMode.Append).parquet(factPath)
  }

  /** Row counts of every warehouse table, one row per table — ONE lazy
    * union so consuming it is ONE Spark job (17 scans scheduled together,
    * map-side counted) instead of 17 sequential driver-blocking count
    * jobs; per-job scheduling latency doesn't stack.
    */
  def warehouseCounts(s: SparkSession, warehouse: String): DataFrame = {
    val tables = Seq("flat_fact", "star_fact") ++
      StarPipeline.dimSpecs.map(_._1) ++ topicBuilders.map(_._1)
    tables.map { t =>
      s.read.parquet(s"$warehouse/$t")
        .agg(count(lit(1)).as("cnt"))
        .select(lit(t).as("table_name"), col("cnt"))
    }.reduce(_ unionByName _).orderBy("table_name")
  }

  // The oracles' rows: one count per table the DAG writes
  private def flat: String = StarPipeline.flatFactSql
  private def dimCounts: Seq[String] = StarPipeline.dimSpecs.map { case (name, keys) =>
    s"""SELECT '$name' AS table_name,
       | (SELECT count(*) FROM (SELECT DISTINCT ${keys.mkString(", ")} FROM f)) AS cnt""".stripMargin
  }
  private def topicCounts: Seq[String] = Seq(
    "topic_signals_by_state" ->
      """(SELECT count(DISTINCT n_name) FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey)""".stripMargin,
    "topic_signals_vs_lesions" ->
      "(SELECT count(DISTINCT floor((value/10.0)/0.5)*0.5) FROM events)",
    "topic_weather_light" ->
      """(SELECT count(*) FROM
        |  (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders))""".stripMargin,
    "topic_accidents_by_time" ->
      "(SELECT count(DISTINCT hour(ts)) FROM events)",
    "topic_lesions_by_county" ->
      """(SELECT count(DISTINCT n_name) FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)""".stripMargin,
    "topic_infra_vs_lesions" ->
      """(SELECT count(DISTINCT 'bbox_' || printf('%.1f', floor((value/100.0)/0.5)*0.5) ||
        |   '_' || printf('%.1f', floor((CAST(user_id AS DOUBLE)/10.0)/0.5)*0.5))
        |  FROM events)""".stripMargin,
    "topic_crossings" ->
      "(SELECT count(DISTINCT event_type) FROM events)"
  ).map { case (name, sub) =>
    s"SELECT '$name' AS table_name, $sub AS cnt"
  }
  private def factCounts: Seq[String] = Seq(
    "SELECT 'flat_fact' AS table_name, (SELECT count(*) FROM f) AS cnt",
    "SELECT 'star_fact' AS table_name, (SELECT count(*) FROM f) AS cnt")
  private def incrementalRows: Seq[String] = StarPipeline.dimSpecs.map { case (name, keys) =>
    val k = keys.mkString(", ")
    s"""SELECT '$name' AS table_name,
       | (SELECT count(*) FROM (SELECT DISTINCT $k FROM f)) AS cnt,
       | (SELECT count(*) FROM (SELECT DISTINCT $k FROM sub)) AS stable_old_ids,
       | CAST(0 AS BIGINT) AS null_fks""".stripMargin
  }

  def entries: Seq[Q] = Seq(
    // The full DAG run TWICE into a fresh warehouse; the returned counts
    // are oracle-checked against the source tables, so any second-run
    // duplication (a broken guard or non-idempotent load) shows up as a
    // count mismatch.
    Q("q_pipeline_idempotence", { (s, d) =>
      val wh = Scratch.dir("pipeline_wh")
      reset(wh)
      runOnce(s, d, wh)
      runOnce(s, d, wh)
      warehouseCounts(s, wh)
    },
      s"""WITH f AS ($flat)
         |${(factCounts ++ dimCounts ++ topicCounts).mkString("", "\nUNION ALL\n", "")}
         |ORDER BY table_name""".stripMargin),
    // Incremental growth gate: run the DAG on HALF the source (even
    // orderkeys), then on the full source. The audit row per dim checks
    // (a) final dim cardinality covers the full key set, (b) every
    // subset-run surrogate id is UNCHANGED after the extension (stable_
    // old_ids = a fresh subset-only rebuild joined on key AND id), and
    // (c) zero NULL FKs in the star fact — the exact failure the frozen
    // skip-guard would produce on augmented data.
    // expected: every dim holds the FULL key set, every subset-run id
    // survived the extension, and the fact has no null FKs
    Q("q_pipeline_incremental", { (s, d) =>
      val wh = Scratch.dir("pipeline_inc_wh")
      reset(wh)
      val subset = col("l_orderkey") % 2 === 0
      runIncremental(s, d, wh, Some(subset))
      runIncremental(s, d, wh)
      // audit inputs: the subset flat feeds 8 dim rebuilds — persist ONE
      // materialization instead of re-running the lineitem⋈orders join 8×,
      // PROJECTED to the union of dim key columns (the only thing the
      // rebuilds read; caching the full fact row width costs ~2× here)
      val dimKeyCols = StarPipeline.dimSpecs.flatMap(_._2).distinct
      // EAGER: the 8 freshSub broadcast-build futures below all reference
      // this cache concurrently — lazily persisted, whichever futures
      // arrive before the blocks exist serialize on the cache lock with
      // zero CPU (measured: 7 × ~1.9 s blocked stages). One count()
      // materializes it once; the futures then read blocks (r13 finding 2).
      val subFlat = StarPipeline.flatFact(s, d).filter(subset)
        .select(dimKeyCols.map(col): _*)
        .eagerTracked()
      val fact = s.read.parquet(s"$wh/star_fact")
      // all 8 null-FK counts in ONE pass over the fact, melted to rows
      // (the describeAll move — passes don't grow with dim count)
      val nullFkAggs = StarPipeline.dimSpecs.map { case (n, _) =>
        sum(when(col(n + "_id").isNull, 1).otherwise(0))
          .cast("long").as(s"nf_$n")
      }
      val nullFkRows = fact.agg(nullFkAggs.head, nullFkAggs.tail: _*)
        .select(explode(array(StarPipeline.dimSpecs.map { case (n, _) =>
          struct(lit(n).as("table_name"), col(s"nf_$n").as("null_fks"))
        }: _*)).as("r"))
        .select("r.*")
      val dimRows = StarPipeline.dimSpecs.map { case (n, keys) =>
        val dim = s.read.parquet(s"$wh/$n")
        val freshSub = Star.buildDim(subFlat, keys, "__rid")
        val cond = keys.map(k => dim(k) <=> freshSub(k)).reduce(_ && _) &&
          dim(n + "_id") === freshSub("__rid")
        val stable = dim.join(freshSub, cond)
          .agg(count(lit(1)).as("stable_old_ids"))
        dim.agg(count(lit(1)).as("cnt"))
          .crossJoin(stable)
          .select(lit(n).as("table_name"), col("cnt"), col("stable_old_ids"))
      }.reduce(_ unionByName _)
      dimRows.join(nullFkRows, "table_name").orderBy("table_name")
    },
      s"""WITH f AS ($flat),
         |sub AS (SELECT * FROM f WHERE l_orderkey % 2 = 0)
         |${incrementalRows.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY table_name""".stripMargin)
  )
}
