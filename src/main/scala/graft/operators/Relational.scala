package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.Scalars._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core (SURVEY.md §2.1–§2.6): scans, projections/filters,
  * joins, aggregations, set ops, sorts/limits — each shipped as an
  * oracle-tested `queries` entry.
  *
  * Conventions for driver-oracle parity (the driver hashes values after
  * sorting columns by name):
  *  - every aggregate/computed column is aliased identically here and in
  *    the DuckDB SQL;
  *  - double sums go through an exact DECIMAL(18,2) intermediate and are
  *    cast back to double, so Spark's partial-aggregation order can never
  *    drift from DuckDB's single-threaded sum;
  *  - every result ends with a deterministic ORDER BY on a unique key.
  */
object Relational extends QueryModule {

  /** Exact-then-double sum: immune to float summation order. */
  def sumDec(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  /** DuckDB rendering of [[sumDec]]. */
  def sumDecSql(c: String): String = s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  val priorityLevels: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def entries: Seq[Q] = Seq(
    // S3 + P1 + P2 + P5 — projected, filtered, cast parquet scan. The filter
    // and the 4-column projection both reach the scan (PushedFilters /
    // ReadSchema) — at 100 TB this reads 4 of 11 columns and skips row
    // groups via min/max stats.
    Q("q_s3_scan_pushdown", { (s, d) =>
      // The money cast goes through an exact DECIMAL(12,2) but is emitted as
      // double: raw DECIMAL outputs canonicalize differently across engines
      // on the driver's hash (r02 finding), while the double rendering is
      // bit-identical.
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice").cast(DecimalType(12, 2)).cast("double").as("price_dec"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
        | CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P1 — projection + cast (DECIMAL(10,2) money, rounded int), the shape
    // of the reference's `::DECIMAL(10,6)` / `::INTEGER` source projection
    // (dags/etl_crash_traffic.py:266-290).
    Q("q_p1_project_cast", { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          // exact DECIMAL(10,2) rounding, emitted as double (see q_s3 note)
          col("c_acctbal").cast(DecimalType(10, 2)).cast("double").as("bal_dec"),
          round(col("c_acctbal")).cast("long").as("bal_int"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(10,2)) AS DOUBLE) AS bal_dec,
        | CAST(round(c_acctbal) AS BIGINT) AS bal_int
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // P4 — membership filter + A1 group-count.
    Q("q_p4_filter_isin", { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE l_returnflag IN ('A','R') GROUP BY 1 ORDER BY 1""".stripMargin),

    // P7 — null policy: '' → null → 'unknown' fallback.
    Q("q_p7_null_policy", { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          coalesce(emptyToNull(col("event_type")), lit("unknown")).as("et"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | COALESCE(CASE WHEN trim(event_type)='' THEN NULL ELSE event_type END,
        |          'unknown') AS et
        |FROM events ORDER BY event_id""".stripMargin),

    // P8 — floor-division geo binning incl. negative values (c_acctbal < 0
    // exercises the round-toward−∞ branch).
    Q("q_p8_geo_bin", { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          geoBin(col("c_acctbal") / 100.0).as("bin"),
          geoBin(col("c_acctbal") / 100.0, 0.25).as("bin_q"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
        | floor((c_acctbal/100.0)/0.5)*0.5 AS bin,
        | floor((c_acctbal/100.0)/0.25)*0.25 AS bin_q
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // P9 — bbox label synthesis + parse round-trip.
    Q("q_p9_bbox_label", { (s, d) =>
      val binned = Tables.customer(s, d)
        .select(col("c_custkey"),
          geoBin(col("c_acctbal") / 100.0).as("lat_bin"),
          geoBin(col("c_acctbal") / -50.0).as("lng_bin"))
      binned
        .select(col("c_custkey"),
          bboxLabel(col("lat_bin"), col("lng_bin")).as("label"))
        .withColumn("lat_rt", bboxLat(col("label")))
        .withColumn("lng_rt", bboxLng(col("label")))
        .orderBy("c_custkey")
    },
      """WITH b AS (
        | SELECT c_custkey,
        |  floor((c_acctbal/100.0)/0.5)*0.5 AS lat_bin,
        |  floor((c_acctbal/-50.0)/0.5)*0.5 AS lng_bin
        | FROM customer),
        |l AS (
        | SELECT c_custkey,
        |  'bbox_' || printf('%.1f', lat_bin) || '_' || printf('%.1f', lng_bin) AS label
        | FROM b)
        |SELECT c_custkey, label,
        | CAST(regexp_extract(label, '^bbox_(-?\d+\.\d+)_(-?\d+\.\d+)$', 1) AS DOUBLE) AS lat_rt,
        | CAST(regexp_extract(label, '^bbox_(-?\d+\.\d+)_(-?\d+\.\d+)$', 2) AS DOUBLE) AS lng_rt
        |FROM l ORDER BY c_custkey""".stripMargin),

    // P10 — date-part extraction (year/month/day/hour/weekday-name/time-of-
    // day), the reference's dim_fecha key derivations.
    Q("q_p10_date_parts", { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("dom"), hour(col("ts")).as("h"),
          date_format(col("ts"), "EEEE").as("dayname"),
          date_format(col("ts"), "HH:mm:ss").as("tod"))
        .orderBy("event_id")
    },
      """SELECT event_id, CAST(year(ts) AS INTEGER) AS y,
        | CAST(month(ts) AS INTEGER) AS m, CAST(day(ts) AS INTEGER) AS dom,
        | CAST(hour(ts) AS INTEGER) AS h, dayname(ts) AS dayname,
        | strftime(ts, '%H:%M:%S') AS tod
        |FROM events ORDER BY event_id""".stripMargin),

    // P11 + P15 — categorical normalizers over a column that exercises every
    // branch: whitelist hit (after trim+lower), ';' → combinations, miss →
    // unknown. Cases mirror reference test/test_bbox.py:6-12.
    Q("q_p11_normalizers", { (s, d) =>
      val src = Tables.events(s, d).select(col("event_id"),
        when(col("event_type") === "click", lit(" SIGNAL "))
          .when(col("event_type") === "view", lit("marked;unmarked"))
          .when(col("event_type") === "purchase", lit("Zebra"))
          .otherwise(col("event_type")).as("raw"))
      src.select(col("event_id"),
          mapTrafficSignal(col("raw")).as("signal_norm"),
          mapCrossing(col("raw")).as("crossing_norm"))
        .orderBy("event_id")
    },
      """WITH src AS (
        | SELECT event_id,
        |  CASE WHEN event_type='click' THEN ' SIGNAL '
        |       WHEN event_type='view' THEN 'marked;unmarked'
        |       WHEN event_type='purchase' THEN 'Zebra'
        |       ELSE event_type END AS raw
        | FROM events)
        |SELECT event_id,
        | CASE WHEN lower(trim(raw)) IN
        |   ('traffic_lights','signal','pedestrian_crossing','ramp_meter',
        |    'level_crossing','emergency','bridge')
        |  THEN lower(trim(raw)) ELSE 'unknown' END AS signal_norm,
        | CASE WHEN contains(lower(trim(raw)), ';') THEN 'combinations'
        |      WHEN lower(trim(raw)) IN
        |   ('uncontrolled','marked','unmarked','zebra','pelican','puffin','toucan')
        |  THEN lower(trim(raw)) ELSE 'unknown' END AS crossing_norm
        |FROM src ORDER BY event_id""".stripMargin),

    // P12 + P16 — map parse (JSON / python-dict string) + getItem projection
    // + address-style coalesce fallback.
    Q("q_p12_map_parse", { (s, d) =>
      val m = parsePyDict(col("props"))
      Tables.events(s, d)
        .select(col("event_id"),
          m.getItem("k").cast("int").as("k"),
          coalesce(m.getItem("city"), m.getItem("town"), lit("unknown")).as("city"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        | COALESCE(json_extract_string(props, '$.city'),
        |          json_extract_string(props, '$.town'), 'unknown') AS city
        |FROM events ORDER BY event_id""".stripMargin),

    // P13 + P14 — Y/N-style indicator + ordered-categorical severity rank
    // over the 5-level o_orderpriority (the most_severe_injury shape).
    Q("q_p13_p14_indicator_rank", { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("finished_ind"),
          ordinalRank(col("o_orderpriority"), priorityLevels).as("prio_rank"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END AS finished_ind,
        | CASE trim(o_orderpriority)
        |  WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
        |  WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 ELSE 0 END AS prio_rank
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // J1 — inner broadcast hash equi-join (fact × small dim), grouped. The
    // 209k-accidents × 36-bbox join shape: build side broadcast, zero
    // fact-side shuffle before the aggregation.
    Q("q_j1_broadcast_join", { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), sumDec(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    },
      s"""SELECT c_mktsegment, count(*) AS cnt,
         | ${sumDecSql("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // J2 — successive broadcast left joins up a dimension chain
    // (lineitem → supplier → nation → region), the 8×-dim lookup shape.
    Q("q_j2_dim_chain", { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"), "left")
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"), "left")
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("cnt"), sumDec(col("l_quantity")).as("qty"))
        .orderBy("r_name", "n_name")
    },
      s"""SELECT r_name, n_name, count(*) AS cnt, ${sumDecSql("l_quantity")} AS qty
         |FROM lineitem
         |LEFT JOIN supplier ON l_suppkey = s_suppkey
         |LEFT JOIN nation ON s_nationkey = n_nationkey
         |LEFT JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // J3 — left-anti join (idempotent insert: drop rows whose id already
    // exists).
    Q("q_j3_anti_join", { (s, d) =>
      val orders = Tables.orders(s, d)
      val existing = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      Star.idempotentAppend(orders, existing, Seq("o_orderkey"))
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey NOT IN
        | (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
        |ORDER BY o_orderkey""".stripMargin),

    // J4 — decimal-keyed join: keys cast to DECIMAL(12,2) end-to-end so
    // equality is exact (never raw-double join keys).
    Q("q_j4_decimal_join", { (s, d) =>
      val li = Tables.lineitem(s, d)
        .withColumn("qk", col("l_quantity").cast(DecimalType(12, 2)))
      val dim = li.select("qk").distinct().filter(col("qk") > 40)
      li.join(broadcast(dim), Seq("qk"), "inner")
        .groupBy("qk").agg(count(lit(1)).as("cnt"))
        // the JOIN runs on exact decimal keys; only the emitted column is
        // re-rendered as double for cross-engine hash parity (see q_s3 note)
        .select(col("qk").cast("double").as("qk"), col("cnt"))
        .orderBy("qk")
    },
      """SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qk, count(*) AS cnt
        |FROM lineitem
        |WHERE CAST(l_quantity AS DECIMAL(12,2)) > 40
        |GROUP BY CAST(l_quantity AS DECIMAL(12,2)) ORDER BY 1""".stripMargin),

    // Scale pattern: BLOOM-FILTER SEMI-JOIN REDUCTION. The probe side is
    // pre-filtered by a compact bloom sketch built from the (already
    // filtered) build side's keys, so at 100 TB the fact-side shuffle
    // carries only rows that can possibly join (plus the fpp). The exact
    // join afterwards removes false positives — the result is provably
    // identical to the plain join, which is exactly what the oracle
    // checks. This is the manual, always-on form of Spark's own runtime
    // bloom pruning (spark.sql.optimizer.runtime.bloomFilter.*), for the
    // regime where the build side is too big to broadcast as a hash
    // relation but its key bloom (a few MB at fpp 1%) is not. The
    // membership probe is a scala UDF on purpose: the sketch ships to
    // executors ONCE as a broadcast variable — embedding it as a plan
    // literal (the custom-Expression route) would serialize the whole
    // bloom into every task description.
    // bloom pruning is result-invisible: oracle = the plain join
    Q("q_bloom_join", { (s, d) =>
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
      val bf = cust.stat.bloomFilter("c_custkey", 200000L, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val mightContain =
        udf((k: java.lang.Long) => k != null && bfB.value.mightContain(k.longValue))
      Tables.orders(s, d)
        .filter(mightContain(col("o_custkey")))
        .join(cust.select("c_custkey"), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sumDec(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },
      s"""SELECT o_orderstatus, count(*) AS cnt,
         | ${sumDecSql("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // U — FULL-OUTER reconciliation: the source-vs-warehouse row-level
    // audit (which keys are only upstream, only loaded, or in both). At
    // scale both sides project to (key, presence) before the join, so the
    // exchange carries keys, not rows; the rollup is a scalar aggregate.
    Q("q_full_outer_audit", { (s, d) =>
      val o = Tables.orders(s, d)
      val src = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("k"), lit(1).as("in_src"))
      val wh = o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey").as("k"), lit(1).as("in_wh"))
      src.join(wh, Seq("k"), "full_outer")
        .agg(
          count(when(col("in_src").isNotNull && col("in_wh").isNotNull, 1)).as("in_both"),
          count(when(col("in_wh").isNull, 1)).as("only_src"),
          count(when(col("in_src").isNull, 1)).as("only_wh"))
    },
      """SELECT
        | count(CASE WHEN s.k IS NOT NULL AND w.k IS NOT NULL THEN 1 END) AS in_both,
        | count(CASE WHEN w.k IS NULL THEN 1 END) AS only_src,
        | count(CASE WHEN s.k IS NULL THEN 1 END) AS only_wh
        |FROM (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 <> 0) s
        |FULL OUTER JOIN (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 <> 0) w
        | ON s.k = w.k""".stripMargin),

    // A2 — pivot with a fixed value list + fill 0 (static schema, no extra
    // distinct-collection job; SURVEY §2.4 A2).
    Q("q_a2_pivot", { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        | COUNT(*) FILTER (WHERE l_linestatus='F') AS "F",
        | COUNT(*) FILTER (WHERE l_linestatus='O') AS "O"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // A3 — scalar COUNT(*).
    Q("q_a3_count_star", { (s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))
    },
      "SELECT count(*) AS cnt FROM lineitem"),

    // A4 — distinct natural-key extraction (dimension content).
    Q("q_a4_distinct", { (s, d) =>
      Tables.customer(s, d)
        .select("c_nationkey", "c_mktsegment").distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY 1, 2""".stripMargin),

    // A5 + W1 — frequency table ordered by count desc (value_counts).
    Q("q_a5_value_counts", { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("o_orderpriority"))
    },
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |GROUP BY 1 ORDER BY cnt DESC, o_orderpriority""".stripMargin),

    // A6 — descriptive stats (count/min/max/mean) with an order-insensitive
    // exact mean (decimal sum / count); approx quartiles deliberately
    // excluded from the oracle (SURVEY §7.5).
    Q("q_a6_describe", { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sumDec(col("l_quantity")).as("sum_qty"),
        (sumDec(col("l_quantity")) / count(lit(1))).as("mean_qty"))
    },
      s"""SELECT count(*) AS cnt, min(l_quantity) AS min_qty,
         | max(l_quantity) AS max_qty,
         | ${sumDecSql("l_quantity")} AS sum_qty,
         | ${sumDecSql("l_quantity")} / count(*) AS mean_qty
         |FROM lineitem""".stripMargin),

    // A6 — exact quartiles via the distributed percentile (value-count
    // shuffle + interpolation, Analytics.exactPercentiles) — matches the
    // builtin exact `percentile` aggregate value-for-value WITHOUT its
    // all-values-in-one-buffer memory profile (the builtin buffers every
    // group value — an executor OOM at 100 TB).
    Q("q_a6_quartiles", { (s, d) =>
      Analytics.exactPercentiles(Tables.lineitem(s, d), "l_quantity",
        Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75))
    },
      """SELECT quantile_cont(l_quantity, 0.25) AS q1,
        | quantile_cont(l_quantity, 0.5) AS q2,
        | quantile_cont(l_quantity, 0.75) AS q3
        |FROM lineitem""".stripMargin),

    // A6/P-family — WINSORIZATION: clip a value column at exact P01/P99
    // (the outlier-cleaning step before stats/training). Thresholds come
    // from the distributed exact percentile (no value buffering at any
    // cardinality) and broadcast back as a 1-row dimension; the clip is
    // map-side. DECIMAL(24,8) for the winsorized sum: original values are
    // 2dp-exact and interpolated thresholds are arbitrary doubles, so an
    // 8dp cast can't hit a cross-engine rounding tie (a tie needs a
    // dyadic with ≤8 decimal digits — interpolated midpoints aren't).
    Q("q_winsorize", { (s, d) =>
      val li = Tables.lineitem(s, d)
      val thr = Analytics.exactPercentiles(li, "l_extendedprice",
        Seq("p01" -> 0.01, "p99" -> 0.99))
      val v = col("l_extendedprice")
      li.crossJoin(broadcast(thr))
        .groupBy("p01", "p99")
        .agg(
          sum(when(v < col("p01"), 1L).otherwise(0L)).as("n_lo_clipped"),
          sum(when(v > col("p99"), 1L).otherwise(0L)).as("n_hi_clipped"),
          sum(when(v < col("p01"), col("p01"))
            .when(v > col("p99"), col("p99"))
            .otherwise(v).cast(DecimalType(24, 8))).cast("double")
            .as("sum_winsorized"))
    },
      """WITH t AS (SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
        |  quantile_cont(l_extendedprice, 0.99) AS p99 FROM lineitem)
        |SELECT p01, p99,
        | CAST(sum(CASE WHEN l_extendedprice < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_clipped,
        | CAST(sum(CASE WHEN l_extendedprice > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_clipped,
        | CAST(sum(CAST(CASE WHEN l_extendedprice < p01 THEN p01
        |   WHEN l_extendedprice > p99 THEN p99
        |   ELSE l_extendedprice END AS DECIMAL(24,8))) AS DOUBLE) AS sum_winsorized
        |FROM lineitem, t GROUP BY p01, p99""".stripMargin),

    // A6 — PER-GROUP exact quartiles: the grouped two-pass percentile
    // (every group's value ranges cumulate in parallel — no per-group
    // value buffering, no single-task window at any cardinality).
    Q("q_grouped_quartiles", { (s, d) =>
      Analytics.groupedExactPercentiles(
          Tables.lineitem(s, d)
            .select(col("l_returnflag"), col("l_extendedprice")),
          "l_returnflag", "l_extendedprice",
          Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS q1,
        | quantile_cont(l_extendedprice, 0.5) AS q2,
        | quantile_cont(l_extendedprice, 0.75) AS q3
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // A6 — categorical describe (count / unique / top / freq — the
    // `describe(include='all')` string-column stats, 002_EDA_csv cell 18).
    // Top tie-break: highest count, then lexicographically last value.
    Q("q_a6_categorical", { (s, d) =>
      val o = Tables.orders(s, d)
      val freq = o.groupBy(col("o_orderpriority").as("top"))
        .agg(count(lit(1)).as("top_freq"))
        .orderBy(desc("top_freq"), desc("top")).limit(1)
      o.agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderpriority")).as("n_unique"))
        .crossJoin(freq)
    },
      """WITH f AS (SELECT o_orderpriority AS top, count(*) AS top_freq
        |           FROM orders GROUP BY 1)
        |SELECT (SELECT count(*) FROM orders) AS cnt,
        | (SELECT count(DISTINCT o_orderpriority) FROM orders) AS n_unique,
        | (SELECT top FROM f ORDER BY top_freq DESC, top DESC LIMIT 1) AS top,
        | (SELECT max(top_freq) FROM f) AS top_freq""".stripMargin),

    // Scale pattern: two-phase SALTED aggregation — phase 1 aggregates on
    // (key, salt) spreading a hot key over nSalts reducers, phase 2 rolls
    // up to the key. Result must equal the plain aggregation (the oracle
    // is the unsalted SQL) — this is the skew-mitigation idiom from
    // SCALE.md, proven semantics-preserving.
    Q("q_skew_salted_agg", { (s, d) =>
      val nSalts = 8
      val salted = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(nSalts)))
        .groupBy("l_returnflag", "salt")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("partial_qty"),
          count(lit(1)).as("partial_cnt"))
      salted.groupBy("l_returnflag")
        .agg(sum(col("partial_qty")).cast("double").as("qty"),
          sum(col("partial_cnt")).as("cnt"))
        .orderBy("l_returnflag")
    },
      s"""SELECT l_returnflag, ${sumDecSql("l_quantity")} AS qty, count(*) AS cnt
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Scale pattern: KEY-SKEW AUDIT — the measurement that DECIDES when
    // the two salting rewrites above are worth applying. Per-key counts
    // (one map-side-combined aggregation), then the top-10 heaviest keys
    // with their corpus share and their multiple of the mean key load,
    // all in integer ppm (one double division at the end, identical on
    // both engines). At 100 TB this runs as a cheap pre-flight on the
    // join/agg key; skew_x_mean_ppm >> 10^6 on the head key = salt it.
    Q("q_skew_audit", { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val totals = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_keys"))
      counts.crossJoin(broadcast(totals))
        .select(col("user_id"), col("cnt"),
          floor(col("cnt") * 1000000L / col("total")).cast("long")
            .as("share_ppm"),
          floor(col("cnt") * col("n_keys") * 1000000L / col("total"))
            .cast("long").as("skew_x_mean_ppm"))
        .orderBy(col("cnt").desc, col("user_id")).limit(10)
    },
      """WITH counts AS (
        | SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |tot AS (
        | SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM counts)
        |SELECT user_id, cnt,
        | CAST(floor(cnt * 1000000 / total) AS BIGINT) AS share_ppm,
        | CAST(floor(cnt * n_keys * 1000000 / total) AS BIGINT) AS skew_x_mean_ppm
        |FROM counts CROSS JOIN tot
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin),

    // Scale pattern: SALTED JOIN (replicate-small-side) — the join twin of
    // q_skew_salted_agg. lineitem joined on l_returnflag alone has 3
    // distinct keys: a plain shuffle join lands the entire table on 3
    // reducers (one per key — the canonical hot-key skew). Salting: the
    // big side gets salt = hash(row) mod nSalts, the small side is
    // replicated once per salt value, and the join key becomes
    // (key, salt) — the hot key now spreads over nSalts reducers. The
    // oracle is the UNSALTED join SQL, proving the rewrite is
    // semantics-preserving. (At this dim size broadcast is the right
    // plan — the salt idiom is for when the skewed-key side is too big
    // to broadcast; the shuffle_hash hint pins the shuffle-join path so
    // the pattern is actually exercised and spec-asserted.)
    // the UNSALTED join: salting must not change the result
    Q("q_skew_salted_join", { (s, d) =>
      import s.implicits._
      val nSalts = 8
      val dim = Seq(("A", "async_return"), ("N", "no_return"), ("R", "returned"))
        .toDF("l_returnflag", "flag_label")
      val replicated = dim.withColumn("salt",
        explode(sequence(lit(0), lit(nSalts - 1))))
      val salted = Tables.lineitem(s, d)
        .withColumn("salt",
          pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(nSalts)).cast("int"))
      salted.join(replicated.hint("shuffle_hash"), Seq("l_returnflag", "salt"))
        .groupBy("l_returnflag", "flag_label")
        .agg(count(lit(1)).as("cnt"), sumDec(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag")
    },
      s"""SELECT l_returnflag, flag_label, count(*) AS cnt,
         | ${sumDecSql("l_quantity")} AS qty
         |FROM lineitem
         |JOIN (VALUES ('A', 'async_return'), ('N', 'no_return'),
         |      ('R', 'returned')) AS dimv(l_returnflag, flag_label)
         | USING (l_returnflag)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // Scale pattern: Z-ORDER layout key over the two geo-bin dimensions —
    // writing the table sorted by this key co-locates rows close in BOTH
    // bins, so row-group min/max stats prune either dimension's range
    // predicate (a plain compound sort only prunes its leading column).
    // The query materializes the key and the deterministic layout order
    // the writer would use.
    Q("q_zorder_layout", { (s, d) =>
      import graft.functions.Scalars
      Tables.events(s, d)
        .select(col("event_id"),
          hour(col("ts")).as("xb"),
          pmod(col("user_id"), lit(64)).cast("int").as("yb"))
        .withColumn("z", Scalars.zorder(col("xb"), col("yb")))
        .orderBy("z", "event_id")
        .limit(100)
    }, {
      val zExpr = (0 until 16).map { i =>
        s"((CAST(xb AS BIGINT) >> $i) & 1) * ${1L << (2 * i)} + ((CAST(yb AS BIGINT) >> $i) & 1) * ${1L << (2 * i + 1)}"
      }.mkString("(", "\n  + ", ")")
      s"""SELECT event_id, xb, yb, $zExpr AS z
         |FROM (SELECT event_id, CAST(hour(ts) AS INTEGER) AS xb,
         |       CAST(user_id % 64 AS INTEGER) AS yb FROM events)
         |ORDER BY z, event_id LIMIT 100""".stripMargin
    }),

    // ZONE-MAP PRUNING AUDIT — quantifies WHY the sorted layout matters
    // at 100 TB: carve the fact into 64 equal-width "files" under two
    // layouts (date-range = the sorted writer, orderkey-range = raw
    // insertion order), compute per-file min/max zone maps (ONE map-side
    // combined groupBy each, 64-row frames), and replay a one-month
    // probe: a file is scanned iff its [min,max] intersects the range —
    // exactly parquet row-group pruning. The sorted layout scans ~1/80
    // of rows, insertion order scans ~everything; the delta IS the
    // data-layout argument q_zorder_layout's key enables.
    Q("q_zonemap_prune", { (s, d) =>
      val nF = 64
      val li = Tables.lineitem(s, d)
        .select(to_date(col("l_shipdate")).as("sd"), col("l_orderkey"))
      val mm = li.agg(min(col("sd")).as("lo"), max(col("sd")).as("hi"),
        min(col("l_orderkey")).as("klo"), max(col("l_orderkey")).as("khi"))
      val f = li.crossJoin(broadcast(mm))
        .select(col("sd"),
          expr(s"(datediff(sd, lo) * $nF) div (datediff(hi, lo) + 1)")
            .as("f_sorted"),
          expr(s"((l_orderkey - klo) * $nF) div (khi - klo + 1)")
            .as("f_ins"))
      val (pLo, pHi) = ("1997-03-01", "1997-03-31")
      def audit(fileCol: String, label: String) = {
        val files = f.groupBy(fileCol)
          .agg(min(col("sd")).as("mn"), max(col("sd")).as("mx"),
            count(lit(1)).as("n"))
        val scanned = col("mn") <= lit(pHi).cast("date") &&
          col("mx") >= lit(pLo).cast("date")
        files.agg(count(lit(1)).as("files_total"),
          coalesce(sum(when(scanned, 1L)), lit(0L)).as("files_scanned"),
          sum(col("n")).as("rows_total"),
          coalesce(sum(when(scanned, col("n"))), lit(0L)).as("rows_scanned"))
          .select(lit(label).as("layout"), col("files_total"),
            col("files_scanned"), col("rows_total"), col("rows_scanned"))
      }
      audit("f_sorted", "date_sorted")
        .unionByName(audit("f_ins", "insertion"))
        .orderBy("layout")
    },
      """WITH li AS (
        | SELECT CAST(l_shipdate AS DATE) AS sd, l_orderkey FROM lineitem),
        |mm AS (SELECT min(sd) AS lo, max(sd) AS hi,
        |        min(l_orderkey) AS klo, max(l_orderkey) AS khi FROM li),
        |f AS (
        | SELECT sd,
        |  (datediff('day', lo, sd) * 64) // (datediff('day', lo, hi) + 1)
        |   AS f_sorted,
        |  ((l_orderkey - klo) * 64) // (khi - klo + 1) AS f_ins
        | FROM li, mm),
        |s1 AS (SELECT f_sorted, min(sd) AS mn, max(sd) AS mx,
        |        count(*) AS n FROM f GROUP BY 1),
        |s2 AS (SELECT f_ins, min(sd) AS mn, max(sd) AS mx,
        |        count(*) AS n FROM f GROUP BY 1),
        |a1 AS (
        | SELECT 'date_sorted' AS layout, count(*) AS files_total,
        |  COALESCE(CAST(sum(CASE WHEN mn <= DATE '1997-03-31'
        |    AND mx >= DATE '1997-03-01' THEN 1 END) AS BIGINT), 0)
        |   AS files_scanned,
        |  CAST(sum(n) AS BIGINT) AS rows_total,
        |  COALESCE(CAST(sum(CASE WHEN mn <= DATE '1997-03-31'
        |    AND mx >= DATE '1997-03-01' THEN n END) AS BIGINT), 0)
        |   AS rows_scanned
        | FROM s1),
        |a2 AS (
        | SELECT 'insertion' AS layout, count(*) AS files_total,
        |  COALESCE(CAST(sum(CASE WHEN mn <= DATE '1997-03-31'
        |    AND mx >= DATE '1997-03-01' THEN 1 END) AS BIGINT), 0)
        |   AS files_scanned,
        |  CAST(sum(n) AS BIGINT) AS rows_total,
        |  COALESCE(CAST(sum(CASE WHEN mn <= DATE '1997-03-31'
        |    AND mx >= DATE '1997-03-01' THEN n END) AS BIGINT), 0)
        |   AS rows_scanned
        | FROM s2)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2 ORDER BY layout""".stripMargin),

    // S3/API surface — the spark.sql() entry path over registered views
    // (the reference's SQL-text surface): same Catalyst plan as the
    // DataFrame API, proven by the shared oracle.
    Q("q_sql_api", { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql(
        """SELECT c_mktsegment, count(*) AS cnt,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM v_orders JOIN v_customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      """SELECT c_mktsegment, count(*) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // A9 headline — the pricing-summary report (TPC-H Q1 shape): the
    // canonical wide aggregate with exact-decimal money math; one shuffle,
    // map-side combined, 4-6 groups.
    Q("q_pricing_summary", { (s, d) =>
      // narrow casts keep the chained products inside exact decimal range
      // on BOTH engines (wide×wide×wide would overflow 38 digits and
      // trigger engine-specific rounding)
      val qty = col("l_quantity").cast(DecimalType(12, 2))
      val price = col("l_extendedprice").cast(DecimalType(12, 2))
      val disc = col("l_discount").cast(DecimalType(4, 2))
      val tax = col("l_tax").cast(DecimalType(4, 2))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
          sum(price * (lit(1) - disc) * (lit(1) + tax)).cast("double").as("sum_charge"),
          (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(price).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // Typed Aggregator — bounded per-group top-k (k values per group per
    // task through the shuffle, no full window sort). Exploded to rows so
    // the window-based oracle can replicate it.
    Q("q_topk_aggregator", { (s, d) =>
      import org.apache.spark.sql.functions.udaf
      val top3 = udaf(new graft.functions.TopKAggregator(3))
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(top3(col("l_extendedprice")).as("tops"))
        .select(col("l_returnflag"),
          posexplode(col("tops")).as(Seq("rank", "price")))
        .withColumn("rank", col("rank") + 1)
        .orderBy("l_returnflag", "rank")
    },
      """SELECT l_returnflag, CAST(rn AS INTEGER) AS rank, price FROM (
        | SELECT l_returnflag, l_extendedprice AS price,
        |  row_number() OVER (PARTITION BY l_returnflag
        |                     ORDER BY l_extendedprice DESC) AS rn
        | FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_returnflag, rank""".stripMargin),

    // A7 — missing-value audit: per-column null-or-sentinel counts.
    Q("q_a7_null_audit", { (s, d) =>
      val doc = Tables.documents(s, d)
      doc.agg(
        count(when(col("text").isNull || col("text") === "", 1)).as("text_missing"),
        count(when(col("lang").isNull || col("lang") === "UNKNOWN", 1)).as("lang_missing"),
        count(when(col("source").isNull, 1)).as("source_missing"))
    },
      """SELECT
        | COUNT(*) FILTER (WHERE text IS NULL OR text='') AS text_missing,
        | COUNT(*) FILTER (WHERE lang IS NULL OR lang='UNKNOWN') AS lang_missing,
        | COUNT(*) FILTER (WHERE source IS NULL) AS source_missing
        |FROM documents""".stripMargin),

    // OBSERVED METRICS — `Dataset.observe`: data-quality counters
    // computed DURING a pass the job runs anyway (here: a noop-sink
    // execution standing in for the real write), not by a second scan.
    // At 100 TB this is the only affordable way to emit per-load audit
    // numbers — the aggregates ride the existing tasks as accumulators.
    // Restricted to commutative-associative aggregates by the API; the
    // money sum uses the exact-decimal cents idiom so the observed value
    // is order-independent and oracle-stable.
    Q("q_observe_metrics", { (s, d) =>
      val obs = org.apache.spark.sql.Observation("load_audit")
      Tables.lineitem(s, d)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          count(when(col("l_discount") > 0.05, 1)).as("n_hi_discount"),
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long")).as("price_cents"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      // sum() observes NULL on empty input — surface 0, never an unboxing NPE
      def asLong(v: Any): Long = v match {
        case null => 0L
        case x => x.asInstanceOf[Long]
      }
      import s.implicits._
      Seq((asLong(m("n_rows")), asLong(m("n_hi_discount")),
          asLong(m("price_cents"))))
        .toDF("n_rows", "n_hi_discount", "price_cents")
    },
      """SELECT count(*) AS n_rows,
        | count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_hi_discount,
        | CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem""".stripMargin),

    // W2 — deterministic LIMIT (top-5 by key).
    Q("q_w2_limit", { (s, d) =>
      Tables.orders(s, d)
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .limit(5)
    },
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderkey LIMIT 5""".stripMargin),

    // W3 + A4 — surrogate-key generation: distinct + row_number over the
    // natural key (deterministic; SURVEY §7.4).
    Q("q_w3_surrogate_keys", { (s, d) =>
      Star.buildDim(Tables.customer(s, d), Seq("c_mktsegment"), "seg_id")
        .orderBy("seg_id")
    },
      """SELECT c_mktsegment,
        | CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT) AS seg_id
        |FROM (SELECT DISTINCT c_mktsegment FROM customer)
        |ORDER BY seg_id""".stripMargin),

    // U1 — schema-aligned union-all then re-aggregate (the per-bbox
    // group-counts union shape, dags/etl_crash_traffic.py:458-463).
    Q("q_u1_union", { (s, d) =>
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), lit("finished").as("src"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), lit("open").as("src"))
      a.unionByName(b).groupBy("src").agg(count(lit(1)).as("cnt")).orderBy("src")
    },
      """WITH u AS (
        | SELECT o_orderkey, 'finished' AS src FROM orders WHERE o_orderstatus='F'
        | UNION ALL
        | SELECT o_orderkey, 'open' AS src FROM orders WHERE o_orderstatus='O')
        |SELECT src, count(*) AS cnt FROM u GROUP BY 1 ORDER BY 1""".stripMargin),

    // W1 flagship — top-k per key through the CUSTOM PHYSICAL OPERATOR
    // (graft.plans.TopKPerKey: logical node + Strategy + heap-based exec).
    // Same single hash exchange as the row_number window plan, but no
    // partition sort — O(n log k) with O(keys·k) state instead of a full
    // sort of every customer's rows. The oracle is the window SQL; the
    // final orderBy presents the (already tiny) result deterministically.
    Q("q_topk_native", { (s, d) =>
      graft.plans.TopKPerKey.topKPerKey(
          Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
          keys = Seq("o_custkey"),
          order = Seq(("o_totalprice", false), ("o_orderkey", true)),
          k = 2)
        .orderBy(col("o_custkey"), desc("o_totalprice"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin),

    // The SPILL path of the same exec under full oracle: a deliberately
    // tiny epoch threshold forces multi-epoch spilling (flush + key-merge)
    // on both the partial and final passes at every gated SF — the result
    // must STILL be row-identical to the window idiom. This is the gate
    // behind SCALE.md's "bounded memory at any per-partition key
    // cardinality" claim for the r7 spill story.
    Q("q_topk_spill", { (s, d) =>
      graft.plans.TopKPerKey.topKPerKey(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_linenumber", "l_extendedprice"),
          keys = Seq("l_orderkey"),
          order = Seq(("l_extendedprice", false), ("l_linenumber", true)),
          k = 2, spillRows = 1024)
        .orderBy(col("l_orderkey"), desc("l_extendedprice"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        | SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        | FROM lineitem)
        |WHERE rn <= 2
        |ORDER BY l_orderkey, l_extendedprice DESC, l_linenumber""".stripMargin)
  )
}
