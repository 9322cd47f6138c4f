package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins beyond vanilla Spark (builder brief, custom-operator
  * preference (a): compose existing ops when semantics allow).
  *
  * As-of join: for each left row, the latest right row with
  * `right.ts <= left.ts` per key. Implemented as union + ordered
  * carry-forward window (`last(..., ignoreNulls)`) — ONE shuffle by key,
  * no range explosion, no per-row probe: the idiomatic distributed as-of.
  * At 100 TB this beats any broadcast/bucket range trick because state per
  * key is a single carried value and the sort is the shuffle's sort.
  *
  * Range join: measure-to-interval binding. The band side here is
  * dimension-sized, so the right plan is a broadcast join with the range
  * predicate evaluated at the probe (BroadcastNestedLoop over a handful of
  * rows — deliberately; a shuffle range join would only win when BOTH
  * sides are large, where the banding trick in Dedup applies instead).
  */
object TemporalJoins extends QueryModule {

  /** As-of join via union + carry-forward.
    *
    * @param left     probe rows (keep all columns)
    * @param right    reference rows: (keyCol, tsCol, valueCol)
    * @param keyCol   equality key
    * @param tsCol    event-time column (both sides)
    * @param valueCol right-side value carried to each left row (null when
    *                 no right row precedes it)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, valueCol: String): DataFrame = {
    val leftCols = left.columns
    val l = left
      .withColumn("__is_left", lit(1))
      .withColumn("__asof_val", lit(null).cast(right.schema(valueCol).dataType))
    val r = right.select(
      col(keyCol), col(tsCol),
      lit(0).as("__is_left"), col(valueCol).as("__asof_val"))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort BEFORE left rows at equal ts (<= semantics); the
    // trailing value tie-break makes equal-ts right rows deterministic
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col("__is_left"), col("__asof_val"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__carried", last(col("__asof_val"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
      .select(leftCols.map(col) :+ col("__carried").as(valueCol): _*)
  }

  /** Range join of a measure against interval bands: broadcast the bands,
    * bind with `lo <= x < hi`.
    */
  def rangeJoin(facts: DataFrame, bands: DataFrame, measure: String,
                lo: String, hi: String): DataFrame =
    facts.join(broadcast(bands),
      col(measure) >= col(lo) && col(measure) < col(hi), "left")

  /** As-of join with a staleness tolerance and a direction — the full
    * market-data/asof surface (pandas `merge_asof(direction=, tolerance=)`,
    * kdb `aj` with a window). Same union + carry-forward plan as
    * [[asofJoin]] (one shuffle by key, O(1) carried state per key), with
    * two twists:
    *   - the carried payload is `struct(right_ts, value)` so the match's
    *     own timestamp survives the carry and the tolerance check is a
    *     pure post-projection (no second join);
    *   - `direction = "forward"` scans the SAME sorted frame in reverse
    *     (ts DESC window) — the nearest following right row is the last
    *     one seen when walking backwards. No extra shuffle: both
    *     directions are one window pass over the union.
    * Tie-break at equal (key, ts): the trailing struct in window order is
    * carried, i.e. the max (ts, value) — identical to [[asofJoin]]'s rule,
    * mirrored in the oracle's per-(key, ts) max(value) pre-aggregate.
    */
  def asofJoinWithin(left: DataFrame, right: DataFrame, keyCol: String,
                     tsCol: String, valueCol: String, toleranceSec: Long,
                     direction: String = "backward"): DataFrame = {
    val leftCols = left.columns
    val payloadT = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rts", left.schema(tsCol).dataType),
      org.apache.spark.sql.types.StructField("v", right.schema(valueCol).dataType)))
    val l = left
      .withColumn("__is_left", lit(1))
      .withColumn("__asof_val", lit(null).cast(payloadT))
    val r = right.select(
      col(keyCol), col(tsCol),
      lit(0).as("__is_left"),
      struct(col(tsCol).as("rts"), col(valueCol).as("v")).as("__asof_val"))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // backward: right rows sort before left at equal ts (<= matches);
    // forward: DESC scan, right rows still before left (>= matches).
    val ord =
      if (direction == "forward")
        Seq(col(tsCol).desc, col("__is_left").asc, col("__asof_val").asc)
      else Seq(col(tsCol).asc, col("__is_left").asc, col("__asof_val").asc)
    val w = Window.partitionBy(keyCol).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapOk =
      if (direction == "forward")
        unix_timestamp(col("__carried.rts")) - unix_timestamp(col(tsCol)) <= toleranceSec
      else
        unix_timestamp(col(tsCol)) - unix_timestamp(col("__carried.rts")) <= toleranceSec
    unioned
      .withColumn("__carried", last(col("__asof_val"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
      .select(leftCols.map(col) :+
        when(col("__carried").isNotNull && gapOk, col("__carried.v"))
          .as(valueCol): _*)
  }

  /** Per-day peak concurrency of half-open intervals `[ts, ts + durSec)`
    * via the classic sweep line, made distributed by splitting each
    * interval at day boundaries so the cumulative sum runs INSIDE a
    * day partition (Window.partitionBy(day) — never a global sort; at
    * 100 TB each day's boundary list is an independent partition and the
    * peak per day is exact). Boundary rules keep the within-day curve
    * exact without cross-day state:
    *   - +1 at start (its own day);
    *   - -1 at end only when the end lands strictly inside the same day
    *     (an end at/after midnight can only lower the curve after the
    *     day's domain, so it is irrelevant to that day's max);
    *   - an interval spilling past midnight re-opens with +1 at the next
    *     day's 00:00 and closes with -1 at its true end (duration < 1 day
    *     by contract, so at most one split).
    * Ties at one instant: -1 sorts before +1 (half-open semantics), and
    * the default RANGE window frame gives every tied row the same
    * cumulative value on both engines — order within ties can't drift
    * the result.
    */
  def peakConcurrency(intervals: DataFrame, tsCol: String,
                      durSec: Long): DataFrame = {
    val endC = col(tsCol) + expr(s"INTERVAL $durSec SECONDS")
    val dayEnd = date_trunc("DAY", col(tsCol)) + expr("INTERVAL 1 DAY")
    val bounds = intervals.select(explode(array(
      struct(col(tsCol).as("bts"), lit(1).as("delta")),
      when(endC < dayEnd, struct(endC.as("bts"), lit(-1).as("delta")))
        .otherwise(when(endC > dayEnd,
          struct(dayEnd.as("bts"), lit(1).as("delta")))),
      when(endC > dayEnd, struct(endC.as("bts"), lit(-1).as("delta")))
    )).as("b"))
      .filter(col("b").isNotNull)
      .select(to_date(col("b.bts")).as("day"), col("b.bts").as("bts"),
        col("b.delta").as("delta"))
    val scan = Window.partitionBy("day").orderBy(col("bts"), col("delta"))
    val all = Window.partitionBy("day")
    bounds
      .withColumn("running", sum(col("delta")).over(scan))
      .withColumn("day_peak", max(col("running")).over(all))
      .groupBy("day")
      .agg(max(col("running")).cast("long").as("peak"),
        min(when(col("running") === col("day_peak"), col("bts"))).as("peak_ts"))
      .orderBy("day")
  }

  /** The as-of entries' inputs: purchase probes and signup values, event
    * times truncated to the second.
    */
  private def purchasesAndSignups(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val evs = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"),
        col("event_type"), col("value"))
    val purchases = evs.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = evs.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("signup_value"))
    (purchases, signups)
  }

  /** The as-of oracles' shared CTEs: `e` the truncated events, `p` the
    * purchases, `sg` one signup value per user and second.
    */
  private def asofCtesSql: String =
    """WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts,
      |                  event_type, value FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |sg AS (SELECT user_id, ts, max(value) AS signup_value FROM e
      |       WHERE event_type = 'signup' GROUP BY user_id, ts)
      |""".stripMargin

  def entries: Seq[Q] = Seq(
    // As-of: each purchase event picks up the latest preceding signup
    // value of the same user (the profile-enrichment shape).
    // DuckDB has a native ASOF JOIN — an independent implementation of the
    // same semantics (ties: value-max among equal-ts right rows matches the
    // carry-forward's trailing tie-break).
    Q("q_asof_join", { (s, d) =>
      val (purchases, signups) = purchasesAndSignups(s, d)
      asofJoin(purchases, signups, "user_id", "ts", "signup_value")
        .orderBy("event_id")
    },
      asofCtesSql +
        """SELECT p.event_id, p.user_id, p.ts, sg.signup_value
          |FROM p ASOF LEFT JOIN sg
          |  ON p.user_id = sg.user_id AND sg.ts <= p.ts
          |ORDER BY p.event_id""".stripMargin),
    // As-of with staleness tolerance: same enrichment, but a signup older
    // than 3 days is too stale to carry (the pandas merge_asof(tolerance=)
    // contract). Matched-but-stale rows keep the row, null the value.
    Q("q_asof_tolerance", { (s, d) =>
      val (purchases, signups) = purchasesAndSignups(s, d)
      asofJoinWithin(purchases, signups, "user_id", "ts", "signup_value",
          toleranceSec = 259200L)
        .orderBy("event_id")
    },
      asofCtesSql +
        """SELECT p.event_id, p.user_id, p.ts,
          | CASE WHEN sg.ts IS NOT NULL
          |       AND date_diff('second', sg.ts, p.ts) <= 259200
          |      THEN sg.signup_value END AS signup_value
          |FROM p ASOF LEFT JOIN sg
          |  ON p.user_id = sg.user_id AND sg.ts <= p.ts
          |ORDER BY p.event_id""".stripMargin),
    // Forward as-of: each purchase picks the NEAREST FOLLOWING signup
    // within 3 days (merge_asof(direction='forward') / the "next
    // observation" shape). Same single-shuffle carry plan, reversed scan.
    Q("q_asof_forward", { (s, d) =>
      val (purchases, signups) = purchasesAndSignups(s, d)
      asofJoinWithin(purchases, signups, "user_id", "ts", "signup_value",
          toleranceSec = 259200L, direction = "forward")
        .orderBy("event_id")
    },
      asofCtesSql +
        """SELECT p.event_id, p.user_id, p.ts,
          | CASE WHEN sg.ts IS NOT NULL
          |       AND date_diff('second', p.ts, sg.ts) <= 259200
          |      THEN sg.signup_value END AS signup_value
          |FROM p ASOF LEFT JOIN sg
          |  ON p.user_id = sg.user_id AND sg.ts >= p.ts
          |ORDER BY p.event_id""".stripMargin),
    // Sweep-line peak concurrency: treating each event as a 30-minute
    // session, the per-day maximum number of simultaneously open sessions
    // and the earliest instant it is reached. The capacity-planning query
    // every event system runs; O(n) boundaries, day-partitioned cumsum,
    // no self-join.
    Q("q_peak_concurrency", { (s, d) =>
      peakConcurrency(
        Tables.events(s, d).select(date_trunc("second", col("ts")).as("ts")),
        "ts", durSec = 1800L)
    },
      """WITH iv AS (
        | SELECT date_trunc('second', ts) AS ts,
        |  date_trunc('second', ts) + INTERVAL 1800 SECOND AS e,
        |  date_trunc('day', ts) + INTERVAL 1 DAY AS de
        | FROM events),
        |b AS (
        | SELECT ts AS bts, 1 AS delta FROM iv
        | UNION ALL SELECT e, -1 FROM iv WHERE e < de
        | UNION ALL SELECT de, 1 FROM iv WHERE e > de
        | UNION ALL SELECT e, -1 FROM iv WHERE e > de),
        |r AS (
        | SELECT CAST(bts AS DATE) AS day, bts, delta,
        |  sum(delta) OVER (PARTITION BY CAST(bts AS DATE)
        |                   ORDER BY bts, delta) AS running
        | FROM b),
        |p AS (
        | SELECT day, bts, running,
        |  max(running) OVER (PARTITION BY day) AS day_peak
        | FROM r)
        |SELECT day, CAST(max(running) AS BIGINT) AS peak,
        | min(CASE WHEN running = day_peak THEN bts END) AS peak_ts
        |FROM p GROUP BY day ORDER BY day""".stripMargin),
    // Range: orders bound to price bands.
    Q("q_range_join", { (s, d) =>
      val bands = s.createDataFrame(Seq(
        (0.0, 50000.0, "low"), (50000.0, 150000.0, "mid"),
        (150000.0, 1e9, "high")))
        .toDF("lo", "hi", "band")
      rangeJoin(Tables.orders(s, d), bands, "o_totalprice", "lo", "hi")
        .groupBy("band")
        .agg(count(lit(1)).as("cnt"),
          Relational.sumDec(col("o_totalprice")).as("total"))
        .orderBy("band")
    },
      """WITH bands(lo, hi, band) AS (
        | VALUES (0.0, 50000.0, 'low'), (50000.0, 150000.0, 'mid'),
        |        (150000.0, 1e9, 'high'))
        |SELECT band, count(*) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders LEFT JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
