package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.Scalars._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Relational.{sumDec, sumDecSql}

/** The 7 Kafka-topic analytical aggregates (SURVEY.md §2.9; topic names
  * kafka/consumer.py:6-14), reconstructed as batch queries over the test
  * star. Streaming wrappers over the same logic live in
  * graft.streaming.StreamOps (identical semantics: the reference's topics
  * carry complete batch aggregates, not incremental events).
  *
  * Scale: each is one groupBy over the broadcast-joined fact — one shuffle
  * of (group keys, partial aggregates), map-side combined. Group-key
  * cardinality is bounded (states, hours, buckets), so shuffle volume is
  * tiny regardless of fact size.
  */
object Topics extends QueryModule {

  /** K1 transit_signals_by_state — per-state infrastructure totals.
    * Mapped: supplier-nation plays the state; l_quantity the signal count.
    */
  def transitSignalsByState(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("state"))
      .agg(sumDec(col("l_quantity")).as("signals"))
      .orderBy("state")

  /** K2 signals_vs_lesions — bucketed signal count vs injury sum: geo-bin
    * the measure, sum the other (the signals-vs-injuries scatter feed).
    */
  def signalsVsLesions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(geoBin(col("value") / 10.0).as("signal_bucket"),
        parsePyDict(col("props")).getItem("k").cast("int").as("k"))
      .groupBy("signal_bucket")
      .agg(count(lit(1)).as("cnt"), sum(col("k")).cast("long").as("lesions"))
      .orderBy("signal_bucket")

  /** K3 weather_light_surface — 3-way categorical breakdown with count +
    * injury sum (weather × lighting × surface shape).
    */
  def weatherLightSurface(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("weather"),
        col("o_orderpriority").as("lighting"))
      .agg(count(lit(1)).as("cnt"), sumDec(col("o_totalprice")).as("lesions"))
      .orderBy("weather", "lighting")

  /** K4 accidents_by_time — counts by hour of day (the SURVEY §7.2
    * end-to-end slice).
    */
  def accidentsByTime(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("h")

  /** K5 lesions_by_county — per-county injury totals via the geo dim chain
    * (customer → nation plays county lookup).
    */
  def lesionsByCounty(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("county"))
      .agg(sumDec(col("o_totalprice")).as("lesions_total"),
        count(lit(1)).as("accidents"))
      .orderBy("county")

  /** K6 hospitals_schools_vs_lesions — per-bbox infrastructure (constant
    * within the group → min() not first(), for determinism) vs injury sum.
    */
  def hospitalsSchoolsVsLesions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(bboxLabel(geoBin(col("value") / 100.0), geoBin(col("user_id").cast("double") / 10.0)).as("bbox_label"),
        col("value"), col("user_id"))
      .groupBy("bbox_label")
      .agg(min(col("user_id")).as("hospitals"),
        sumDec(col("value")).as("lesions_total"))
      .orderBy("bbox_label")

  /** K7 crossings_vs_lesions — per-type crossing counts vs injuries. */
  def crossingsVsLesions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type").as("crossing_type"))
      .agg(count(lit(1)).as("crossings"), sumDec(col("value")).as("lesions_total"))
      .orderBy("crossing_type")

  def entries: Seq[Q] = Seq(
    Q("q_k1_signals_by_state", transitSignalsByState _,
      s"""SELECT n_name AS state, ${sumDecSql("l_quantity")} AS signals
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_k2_signals_vs_lesions", signalsVsLesions _,
      """SELECT floor((value/10.0)/0.5)*0.5 AS signal_bucket,
        | count(*) AS cnt,
        | CAST(sum(CAST(json_extract_string(props,'$.k') AS INTEGER)) AS BIGINT) AS lesions
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_k3_weather_light", weatherLightSurface _,
      s"""SELECT o_orderstatus AS weather, o_orderpriority AS lighting,
         | count(*) AS cnt, ${sumDecSql("o_totalprice")} AS lesions
         |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    Q("q_k4_accidents_by_time", accidentsByTime _,
      "SELECT CAST(hour(ts) AS INTEGER) AS h, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),
    Q("q_k5_lesions_by_county", lesionsByCounty _,
      s"""SELECT n_name AS county, ${sumDecSql("o_totalprice")} AS lesions_total,
         | count(*) AS accidents
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_k6_infra_vs_lesions", hospitalsSchoolsVsLesions _,
      s"""SELECT 'bbox_' || printf('%.1f', floor((value/100.0)/0.5)*0.5)
         |  || '_' || printf('%.1f', floor((CAST(user_id AS DOUBLE)/10.0)/0.5)*0.5) AS bbox_label,
         | min(user_id) AS hospitals,
         | ${sumDecSql("value")} AS lesions_total
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_k7_crossings_vs_lesions", crossingsVsLesions _,
      s"""SELECT event_type AS crossing_type, count(*) AS crossings,
         | ${sumDecSql("value")} AS lesions_total
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
