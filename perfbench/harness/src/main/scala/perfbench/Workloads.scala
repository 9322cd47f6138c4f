package perfbench

import graft.{CacheScope, SparkEntry}
import graft.operators.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Marks the phases of one op. Untraced passes run the body bare; the
  * traced pass opens a span per phase.
  */
trait Phases {
  def apply[T](kind: String)(body: => T): T
}

/** One unit of a workload's work, timed on its own. */
final case class Op(name: String, body: Phases => Unit)

/** One output to compare with its oracle: the parquet result written to
  * `dir` and the DuckDB SQL that must give the same rows.
  */
final case class CheckItem(name: String, dir: String, oracleSql: String)

trait Workload {
  /** Untimed set-up before each pass (the ETL's fresh warehouse). */
  def prepare(): Unit = ()
  /** The ops of pass `p`, in the order they run. With `out` set (the
    * untimed check pass) the ops also write every output in [[checks]].
    */
  def pass(p: Int, out: Option[String]): Seq[Op]
  /** The outputs the check pass writes under `out`, with their oracles. */
  def checks(out: String): Seq[CheckItem]
}

object Workload {
  def apply(name: String, s: SparkSession, data: String, work: String,
            seed: Long): Workload = name match {
    case "etl_pipeline"   => new EtlPipeline(s, data, work, seed)
    case "dashboard_mix"  => new QueryMix(s, data, seed, QueryMix.dashboard)
    case "stream_backlog" => new QueryMix(s, data, seed, QueryMix.streams)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The reference DAG, write-heavy: a full first load into a fresh
  * warehouse, then an incremental rerun over a seed-chosen quarter of the
  * `l_orderkey` range, which must append nothing.
  */
final class EtlPipeline(s: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private val wh = s"$work/warehouse"
  private val slice = pmod(col("l_orderkey"), lit(4)) === lit(Math.floorMod(seed, 4L))

  override def prepare(): Unit = Pipeline.reset(wh)

  def pass(p: Int, out: Option[String]): Seq[Op] = {
    // the check pass snapshots the warehouse counts after each call
    def call(name: String)(body: => Unit): Op = Op(name, ph => {
      ph("action")(body)
      out.foreach(o => Pipeline.warehouseCounts(s, wh).write.parquet(s"$o/$name"))
    })
    Seq(
      call("etl.run_once")(Pipeline.runOnce(s, data, wh)),
      call("etl.incremental_slice")(Pipeline.runIncremental(s, data, wh, Some(slice))))
  }

  /** Both snapshots must equal one full load: the incremental rerun
    * appends zero rows.
    */
  def checks(out: String): Seq[CheckItem] =
    Seq("etl.run_once", "etl.incremental_slice")
      .map(n => CheckItem(n, s"$out/$n", Pipeline.oracles("q_pipeline_idempotence")))
}

/** Closed loop, one client: engine entries from `SparkEntry.queries` in a
  * seed-shuffled order per pass. Each op is builder → plan → noop action
  * → cache drain, the way Bench runs a query; a streaming entry drains
  * its stream inside the builder call and returns the final snapshot.
  */
final class QueryMix(s: SparkSession, data: String, seed: Long, pool: Seq[String])
    extends Workload {
  private val queries = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql

  def pass(p: Int, out: Option[String]): Seq[Op] =
    new scala.util.Random(seed * 1000003L + p).shuffle(pool).map { q =>
      Op(q, ph => try {
        val df = ph("build")(queries(q)(s, data))
        ph("plan")(df.queryExecution.executedPlan)
        ph("action")(out.fold(Workload.noop(df))(o => df.write.parquet(s"$o/$q")))
      } finally ph("drain")(CacheScope.drain()))
    }

  def checks(out: String): Seq[CheckItem] =
    pool.map(q => CheckItem(q, s"$out/$q", oracles(q)))
}

object QueryMix {
  /** Read-only EDA and dashboard queries: Topics (K1, K2, K4, K5), EDA
    * (A2, A4, A9), the SQL surface and a Relational dimension chain.
    */
  val dashboard: Seq[String] = Seq(
    "q_k1_signals_by_state", "q_k2_signals_vs_lesions", "q_k4_accidents_by_time",
    "q_k5_lesions_by_county", "q_a2_pivot", "q_a4_distinct", "q_a9_by_year",
    "q_window_analytics", "q_grouping_sets", "q_j2_dim_chain")

  /** `StreamOps` entries, each an AvailableNow drain of the events table:
    * a watermarked tumbling window, a stream-static broadcast join,
    * transformWithState totals on RocksDB, a foreachBatch upsert sink and
    * the Kafka topic-sink codec.
    */
  val streams: Seq[String] = Seq(
    "q_stream_windowed", "q_stream_enriched", "q_stream_tws_totals",
    "q_stream_upsert", "q_stream_topic_sink")
}
