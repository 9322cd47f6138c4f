package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType}
import Relational.{sumDec, sumDecSql}
import graft.CacheScope.TrackedDataset

/** EDA / dashboard analytics (SURVEY.md §2.4 A6–A9): descriptive stats,
  * missing-value audit, correlation matrix, dashboard sums/counts.
  *
  * Correlation is computed from exact DECIMAL moment sums cast to double at
  * the end, so the result is bit-identical regardless of partial-aggregation
  * order — plain `corr()` over doubles is non-deterministic in the last bits
  * across partitionings and would flake the oracle hash.
  */
object Analytics extends QueryModule {

  /** Pearson correlation from exact decimal moments; both engines evaluate
    * the same IEEE double expression over identical exact inputs. The
    * result is rounded to 12 decimals: the decimal sums themselves are
    * exact, but casting a decimal whose UNSCALED value exceeds 2^53 to
    * double is not guaranteed bit-equal across engines (found at sf0.1:
    * the (18,2)² moment sums drift by 1 ulp → corr drifts in its 16th
    * significant digit). 12 decimals keep 9+ significant digits of any
    * correlation while sitting ~4 orders above the drift.
    */
  def exactCorr(df: DataFrame, x: String, y: String): DataFrame = {
    val xd = col(x).cast(DecimalType(18, 2))
    val yd = col(y).cast(DecimalType(18, 2))
    df.agg(
        count(lit(1)).cast("double").as("n"),
        sum(xd).cast("double").as("sx"),
        sum(yd).cast("double").as("sy"),
        sum(xd * xd).cast("double").as("sxx"),
        sum(yd * yd).cast("double").as("syy"),
        sum(xd * yd).cast("double").as("sxy"))
      .select(round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 12).as("corr"))
  }

  /** Full correlation matrix in ONE pass: every per-column and pairwise
    * moment lands in a single wide aggregate (k·2 + k(k−1)/2 + 1 sums),
    * then the scalar row is exploded to (x, y, corr) rows. The per-pair
    * formulation (one `exactCorr` per pair) scans the table k(k−1)/2
    * times — at 100 TB that is k²/2 full reads; this is exactly one.
    * The double arithmetic per pair is the same expression as
    * [[exactCorr]] over the same exact decimal sums, so results are
    * bit-identical and the per-pair DuckDB oracle is unchanged.
    */
  def exactCorrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for (x <- cols; y <- cols if x < y) yield (x, y)
    def dec(c: String) = col(c).cast(DecimalType(18, 2))
    val aggs = Seq(count(lit(1)).cast("double").as("n")) ++
      cols.flatMap { c =>
        Seq(sum(dec(c)).cast("double").as(s"s_$c"),
          sum(dec(c) * dec(c)).cast("double").as(s"ss_$c"))
      } ++
      pairs.map { case (x, y) =>
        sum(dec(x) * dec(y)).cast("double").as(s"sp_${x}_$y")
      }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (x, y) =>
        val (sx, sy) = (col(s"s_$x"), col(s"s_$y"))
        val (sxx, syy, sxy) = (col(s"ss_$x"), col(s"ss_$y"), col(s"sp_${x}_$y"))
        struct(lit(x).as("x"), lit(y).as("y"),
          round((col("n") * sxy - sx * sy) /
            sqrt((col("n") * sxx - sx * sx) *
                 (col("n") * syy - sy * sy)), 12).as("corr"))
      }: _*)).as("r"))
      .select("r.*")
      .orderBy("x", "y")
  }

  private def exactCorrSql(x: String, y: String, table: String): String =
    s"""WITH m AS (
       | SELECT CAST(count(*) AS DOUBLE) AS n,
       |  CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
       |  CAST(sum(CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |  CAST(sum(CAST($x AS DECIMAL(18,2)) * CAST($x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
       |  CAST(sum(CAST($y AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS syy,
       |  CAST(sum(CAST($x AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS sxy
       | FROM $table)
       |SELECT round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 12) AS "corr"
       |FROM m""".stripMargin

  /** Cumulative value-count frame behind the exact percentiles: one row
    * per (group, distinct value) with its count `c`, inclusive running
    * count `cum`, and group total `n` — with NO single-task window
    * anywhere. The r03 formulation cumulated through one unpartitioned
    * `Window.orderBy(v)`: fine for low-cardinality columns, but on a
    * continuous column (distinct ≈ rows — l_extendedprice, a 100 TB
    * quality score) it funnels the whole dataset through ONE task.
    * Here instead:
    *   1. value counts — map-side-combined shuffle, carries (value,
    *      count) pairs bounded by distinct cardinality, not row count;
    *   2. range-repartition by (group, v): each task owns a contiguous
    *      value range, ranges ascending with partition id;
    *   3. per-(group, range) subtotals → exclusive prefix offsets + group
    *      totals via windows over the RANGE IDS — ≤ shuffle-partition-
    *      count rows per group, driver-config-bounded, never data-bounded;
    *   4. per-range inner cumulative sums, all ranges in parallel;
    *      global cum = range offset + inner cum.
    * `cum`/`n` are sums of the same longs in a different grouping order —
    * exactly equal to the single-window formulation, so interpolation
    * downstream stays bit-identical (ScaleSpec asserts equality with the
    * builtin `percentile`). Group columns must be non-null (ours are
    * literals); the (group, pid) join back is an equi-join of a
    * range-count-sized frame — broadcast under AQE.
    */
  private def cumulativeValueCounts(df: DataFrame, groupCols: Seq[String],
                                    valueCol: String): DataFrame =
    cumulativeValueWeights(df, groupCols, valueCol, lit(1L))

  /** The weighted generalization: `c` becomes the Σweight of each distinct
    * value (weight 1 ≡ the row-count frame). Same range-partitioned shape —
    * no single-task stage at any value cardinality.
    */
  private def cumulativeValueWeights(df: DataFrame, groupCols: Seq[String],
                                     valueCol: String,
                                     weight: Column): DataFrame = {
    val g = groupCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(g :+ col(valueCol).cast("double").as("v"): _*)
      .agg(sum(weight).as("c"))
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = counts
      .repartitionByRange(nPart, g :+ col("v"): _*)
      .withColumn("pid", spark_partition_id())
      .persistTracked()
    val wOff = Window.partitionBy(g: _*).orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = ranged.groupBy(g :+ col("pid"): _*)
      .agg(sum(col("c")).as("rc"))
      .withColumn("off", coalesce(sum(col("rc")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("rc")).over(wTot))
      .drop("rc")
    val wIn = Window.partitionBy(g :+ col("pid"): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(offsets, groupCols :+ "pid")
      .withColumn("cum", col("off") + sum(col("c")).over(wIn))
      .drop("pid", "off")
  }

  /** The `percentile` aggregate's own interpolation — (higher−pos)·lower
    * + (pos−lower)·higher at pos = p·(n−1), DuckDB quantile_cont's exact
    * formula too (verified bitwise) — evaluated per group from the two
    * boundary order statistics of the cumulative frame.
    */
  private def percentileAgg(cum: DataFrame, groupCols: Seq[String],
                            ps: Seq[(String, Double)]): DataFrame = {
    def pos(p: Double) = lit(p) * (col("n").cast("double") - 1)
    val aggCols = ps.flatMap { case (name, p) =>
      Seq(
        min(when(col("cum") >= floor(pos(p)) + 1, col("v"))).as(s"__lo_$name"),
        min(when(col("cum") >= ceil(pos(p)) + 1, col("v"))).as(s"__hi_$name"))
    } :+ max(col("n")).as("__n")
    val outCols = ps.map { case (name, p) =>
      val rn = lit(p) * (col("__n").cast("double") - 1)
      val lower = floor(rn)
      val higher = ceil(rn)
      when(lower === higher, col(s"__lo_$name"))
        .otherwise((higher - rn) * col(s"__lo_$name") +
          (rn - lower) * col(s"__hi_$name"))
        .as(name)
    }
    if (groupCols.isEmpty)
      cum.agg(aggCols.head, aggCols.tail: _*).select(outCols: _*)
    else
      cum.groupBy(groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        .select(groupCols.map(col) ++ outCols: _*)
  }

  /** Exact percentiles WITHOUT buffering values (the quality-gate /
    * quartile scale path): Spark's exact `percentile` aggregate holds
    * every value of the group in one buffer — an executor OOM at 100 TB.
    * Output: one row, one double column per requested (name, p). Matches
    * the builtin aggregate bit-for-bit at any column cardinality with no
    * single-task stage (see [[cumulativeValueCounts]]).
    */
  def exactPercentiles(df: DataFrame, valueCol: String,
                       ps: Seq[(String, Double)]): DataFrame =
    percentileAgg(cumulativeValueCounts(df, Nil, valueCol), Nil, ps)

  /** Per-group exact percentiles — same machinery, one output row per
    * group (used by [[describeAll]] for per-column quartiles: the melt
    * turns "k columns" into "k groups", so every column's cumulative
    * ranges run in parallel in one job).
    */
  def groupedExactPercentiles(df: DataFrame, groupCol: String,
                              valueCol: String,
                              ps: Seq[(String, Double)]): DataFrame =
    percentileAgg(cumulativeValueCounts(df, Seq(groupCol), valueCol),
      Seq(groupCol), ps)

  /** The per-day revenue series of an `orders` frame, the spine of the
    * daily-revenue family: `day` (the session-zone calendar date of
    * `o_orderdate`) and `dt`, the day's exact DECIMAL sum of prices
    * rounded to cents — no float enters. `extra` aggregates ride in the
    * same pass. One row per day with orders, so the frame is
    * calendar-bounded: the family's unpartitioned windows and array
    * folds all run on it, never on orders.
    */
  private[graft] def dailyRevenue(orders: DataFrame,
                                  extra: Column*): DataFrame =
    orders.groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("dt"),
        extra: _*)

  /** [[dailyRevenue]] as (day, the day's exact revenue in integer cents
    * as `name`): a LONG, or `DecimalType(18, 0)` for the consumers that
    * fold decimal moments.
    */
  private[graft] def dailyCents(orders: DataFrame, name: String,
                                tpe: DataType = LongType): DataFrame =
    dailyRevenue(orders)
      .select(col("day"), (col("dt") * 100).cast(tpe).as(name))

  /** `daily` with `day` replaced by its index t (LONG) = days since the
    * series' first day, for phase and block arithmetic on the day spine.
    * The first day is an ungrouped aggregate, one row on any input, so it
    * attaches as a scalar subquery.
    */
  private def dayIndexed(daily: DataFrame): DataFrame = {
    val t = datediff(col("day"), daily.agg(min(col("day"))).scalar())
    daily.select(t.cast("long").as("t") +:
      daily.columns.filter(_ != "day").map(col): _*)
  }

  /** The last `windowDays` of the daily cents series as (t, y), t = days
    * since 1970-01-01, persisted: the day spine q_theil_sen and
    * q_mann_kendall each self-join into its pair frame.
    */
  private def trailingDays(orders: DataFrame, windowDays: Int): DataFrame = {
    val daily = dailyCents(orders, "y")
      .select(datediff(col("day"), lit("1970-01-01")).as("t"), col("y"))
    val mx = daily.agg(max(col("t")).as("mt"))
    daily.crossJoin(broadcast(mx))
      .filter(col("t") > col("mt") - windowDays)
      .select("t", "y")
      .persistTracked()
  }

  /** Integer EWMA (α = ½) of the daily revenue: ewma_u₁ = rc₁ and
    * ewma_uₜ = (rcₜ + ewma_uₜ₋₁) div 2, in exact integer cents, so the
    * state carries no float and no per-step rounding to disagree across
    * engines. One ordered array and one sequential fold over the
    * calendar-bounded day spine. Rows are (day, rev, ewma_u) with `rev`
    * (the day's revenue as a double), else (day, rc, ewma_u).
    */
  private def dailyEwma(orders: DataFrame, rev: Boolean = false): DataFrame = {
    val (carry, tpe) = if (rev) ("rev", "double") else ("rc", "bigint")
    val cents = (col("dt") * 100).cast("long").as("rc")
    val days = dailyRevenue(orders).select(
      (if (rev) Seq(col("day"), col("dt").cast("double").as("rev"), cents)
       else Seq(col("day"), cents)): _*)
    days.agg(array_sort(collect_list(struct(days.columns.map(col): _*)))
        .as("a"))
      .selectExpr(
        s"""inline(aggregate(
          |  a,
          |  cast(array() as array<struct<day:date,$carry:$tpe,ewma_u:bigint>>),
          |  (acc, e) -> array_append(acc, named_struct(
          |    'day', e.day, '$carry', e.$carry,
          |    'ewma_u', case when size(acc) = 0 then e.rc
          |              else (e.rc + element_at(acc, -1).ewma_u) div 2
          |              end))))""".stripMargin)
  }

  /** Classical additive decomposition of a (day, rc) cents series. The
    * trend is the centred 7-day moving average, floored (s7 div 7), on
    * the days whose window holds 7 days (the edges drop — the textbook
    * contract); the first frame is those days as (day, rc, det = rc −
    * trend, dow = ISO weekday). The second is each weekday's seasonal
    * component (dow, n_days, seasonal = mean det). det goes negative,
    * where integer division's floor and truncation differ across
    * engines, so the mean runs on 2^40-offset values (positive by
    * construction) and shifts back.
    */
  private def weeklyDetrend(daily: DataFrame): (DataFrame, DataFrame) = {
    val K = 1099511627776L // 2^40
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val det = daily
      .withColumn("cnt7", count(lit(1)).over(w7))
      .withColumn("s7", sum(col("rc")).over(w7))
      .filter(col("cnt7") === 7)
      .select(col("day"), col("rc"), (col("rc") - expr("s7 div 7")).as("det"),
        (weekday(col("day")) + 1).as("dow"))
    val seas = det.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum(col("det") + K).as("so"))
      .select(col("dow"), col("n_days"),
        (expr("so div n_days") - K).as("seasonal"))
    (det, seas)
  }

  /** The cumulative-count spine of column `v`: (v, c = rows at v, cum =
    * rows at or below v), one row per distinct value.
    */
  private def valueCum(df: DataFrame, v: String): DataFrame =
    df.groupBy(v).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Type-1 order statistic j/k of a [[valueCum]] spine: the least
    * `value` whose running count reaches j/k of the total, k·cum ≥ j·n —
    * integer rank math, never an interpolated quantile. `n` comes from
    * the one-row `tot`; `carry` aggregates over the qualifying rows ride
    * along.
    */
  private def orderStat(cum: DataFrame, tot: DataFrame, value: String,
                        n: String, j: Int, k: Int, as: String,
                        carry: Column*): DataFrame = {
    val rank = if (j == 1) col(n) else col(n) * j
    cum.crossJoin(broadcast(tot)).filter(col("cum") * k >= rank)
      .agg(min(col(value)).as(as), carry: _*)
  }

  /** One-call `describe(include='all')` (the reference's full-frame EDA
    * summary, notebooks/002_EDA_csv.ipynb cells 18/31/33): one output row
    * per column — numeric columns get count/mean/std/min/max plus exact
    * 25/50/75% quartiles (full pandas `describe` parity), categorical
    * columns get count/unique/top/freq (top ties broken by highest count
    * then lexicographically last value). Std is the sample standard
    * deviation (pandas ddof=1) computed from exact DECIMAL moments cast to
    * double — partial-aggregation order can't drift the oracle, unlike
    * stddev() over raw doubles. ONE scan for all numeric columns (a wide
    * scalar aggregate exploded to rows) + ONE melt for all categorical
    * columns — passes over the table don't grow with column count, and
    * no value buffering anywhere.
    */
  def describeAll(df: DataFrame, numeric: Seq[String],
                  categorical: Seq[String]): DataFrame = {
    // (r13: measured a defaultParallelism spread of the input — 3.2 → 3.8 s
    // steady; the wide-row shuffle costs more than the 3-task scan limits.
    // Left on the scan partitioning.)
    // ALL numeric columns in ONE aggregation pass — a scan per column
    // would read the table N times at 100 TB. The single wide scalar row
    // (5 aggregates × N columns) is then exploded to one row per column.
    val numAggs = numeric.flatMap { c =>
      val xd = col(c).cast(DecimalType(18, 2))
      Seq(count(col(c)).as(s"cnt_$c"),
        sum(xd).cast("double").as(s"sx_$c"),
        sum(xd * xd).cast("double").as(s"sxx_$c"),
        min(col(c)).cast("double").as(s"min_$c"),
        max(col(c)).cast("double").as(s"max_$c"))
    }
    val moments = df.agg(numAggs.head, numAggs.tail: _*)
      .select(explode(array(numeric.map { c =>
        val n = col(s"cnt_$c")
        val sx = col(s"sx_$c")
        val sxx = col(s"sxx_$c")
        // mean/std rounded to 6 decimals: the (18,2)² moment sums exceed
        // 2^53 unscaled at a few hundred thousand rows, and decimal→double
        // casts of such values are not bit-equal across engines (1-ulp
        // drift found at sf0.1); 6 decimals is pandas-describe display
        // precision and ~5 orders above the drift
        struct(lit(c).as("col_name"), n.as("cnt"),
          round(sx / n, 6).as("mean"),
          round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6).as("std"),
          col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v"),
          lit(null).cast("long").as("n_unique"),
          lit(null).cast("string").as("top"),
          lit(null).cast("long").as("top_freq"))
      }: _*)).as("r"))
      .select("r.*")
    // 25/50/75% per numeric column (pandas describe emits them; the r03
    // gap). ONE extra melted scan: k columns become k GROUPS of the
    // grouped exact percentile, so every column's cumulative ranges run
    // in parallel in one job — passes still don't grow with column count.
    val quartiles = groupedExactPercentiles(
      df.select(explode(array(numeric.map { c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("nv"))
      }: _*)).as("kv")).select("kv.*"),
      "col_name", "nv", Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75))
    val numRows = moments.join(quartiles, Seq("col_name"), "left")
    // ALL categorical columns through ONE melt → (col, value) count →
    // per-column rollup. Two shuffles total regardless of column count;
    // the second input is already value-frequency-sized. max_by on
    // struct(cnt, value) = highest count, ties to lexicographically
    // last value — pinned so both engines agree.
    val catRows = if (categorical.isEmpty) Seq.empty[DataFrame] else {
      val melted = df.select(explode(array(categorical.map { c =>
          struct(lit(c).as("col_name"), col(c).cast("string").as("v"))
        }: _*)).as("kv"))
        .select("kv.*")
      Seq(melted.groupBy("col_name", "v").agg(count(lit(1)).as("c"))
        .groupBy("col_name")
        .agg(
          sum(when(col("v").isNotNull, col("c")).otherwise(lit(0L))).as("cnt"),
          count(col("v")).as("n_unique"),
          max_by(col("v"), when(col("v").isNotNull, struct(col("c"), col("v"))))
            .as("top"),
          max(when(col("v").isNotNull, struct(col("c"), col("v"))))
            .getField("c").as("top_freq"))
        .select(col("col_name"), col("cnt"),
          lit(null).cast("double").as("mean"),
          lit(null).cast("double").as("std"),
          lit(null).cast("double").as("min_v"),
          lit(null).cast("double").as("max_v"),
          col("n_unique"), col("top"), col("top_freq"),
          lit(null).cast("double").as("q1"),
          lit(null).cast("double").as("q2"),
          lit(null).cast("double").as("q3")))
    }
    (Seq(numRows) ++ catRows).reduce(_ unionByName _).orderBy("col_name")
  }

  /** Equi-width histogram with data-driven bounds — the EDA distribution
    * plot (the reference's notebook hist() calls) as a two-pass aggregate:
    * pass 1 computes min/max/count (a scalar, broadcast back via cross
    * join), pass 2 bins with pure arithmetic and map-side-combines. All
    * binning runs on integer CENTS (exact decimal → long), so bin edges
    * are cross-engine exact — deriving edges from double min/max invites
    * 1-ulp boundary flips between engines. The float division inside
    * `floor` is identical IEEE arithmetic on identical integer inputs on
    * both sides. nBins is fixed up front: output cardinality is bounded
    * and never data-dependent.
    */
  def equiWidthHistogram(df: DataFrame, valueCol: String,
                         nBins: Int): DataFrame = {
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * 100).cast("long")
    val bounds = df.agg(min(cents).as("mn"), max(cents).as("mx"),
      count(cents).as("n"))
    df.select(cents.as("c"))
      .crossJoin(broadcast(bounds))
      .withColumn("w", greatest(lit(1L),
        floor((col("mx") - col("mn") + lit(nBins)) / lit(nBins)).cast("long")))
      .withColumn("bin",
        least(floor((col("c") - col("mn")) / col("w")).cast("long"), lit(nBins - 1L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"),
        round((min(col("mn")) + col("bin") * max(col("w"))).cast("double") / 100, 2).as("lo"),
        round((min(col("mn")) + (col("bin") + 1) * max(col("w"))).cast("double") / 100, 2).as("hi"),
        round(count(lit(1)).cast("double") / max(col("n")), 6).as("share"))
      .orderBy("bin")
  }

  /** Per-group z-score outlier audit: group moments (exact decimal sums →
    * mean/std rounded to 6 dp, the cross-engine contract of
    * [[describeAll]]) broadcast back onto the rows; a row is an outlier
    * when |z| > `zThresh`. Two scans of the fact, zero fact-sized
    * shuffles: the stats join is group-cardinality-sized and broadcast,
    * the final rollup map-side-combines. z arithmetic is the same IEEE
    * expression over identical rounded inputs on both engines, so the
    * boundary comparison can never flip across engines.
    */
  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     zThresh: Double): DataFrame = {
    val xd = col(valueCol).cast(DecimalType(18, 2))
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(xd).cast("double").as("sx"),
        sum(xd * xd).cast("double").as("sxx"))
      .select(col(groupCol), col("n"),
        round(col("sx") / col("n"), 6).as("mean"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))), 6).as("std"))
    val z = abs((col(valueCol).cast("double") - col("mean")) / col("std"))
    df.join(broadcast(stats), groupCol)
      .groupBy(col(groupCol), col("n"))
      .agg(count(when(z > zThresh, 1)).as("n_outliers"),
        round(max(z), 6).as("max_abs_z"))
      .orderBy(groupCol)
  }

  /** Population-drift report (PSI) between two slices of a corpus — the
    * train-vs-incoming distribution monitor a 100 TB ingestion pipeline
    * runs per batch. Three bounded passes, no data-sized shuffle:
    *   1. global integer bounds + per-slice totals (scalar, broadcast);
    *   2. equi-width binning (pure arithmetic, map-side-combined counts —
    *      at most `nBins` rows leave the exchange);
    *   3. a generated bin spine (so bins empty in BOTH slices still
    *      appear — their smoothed shares still contribute) left-joined
    *      with the counts, PSI per bin from Laplace-smoothed shares
    *      (cnt+1)/(n+nBins) — the standard guard that keeps ln() finite
    *      when one slice misses a bin entirely.
    * All binning runs on exact integer values (same rationale as
    * [[equiWidthHistogram]]); the ln/division arithmetic is the same IEEE
    * expression over identical integer inputs on both engines, rounded to
    * 6 dp for the cross-engine hash.
    */
  def driftPsi(df: DataFrame, valueCol: Column, inSliceA: Column,
               nBins: Int): DataFrame = {
    val spark = df.sparkSession
    val v = valueCol.cast("long")
    val bounds = df.agg(min(v).as("mn"), max(v).as("mx"),
      sum(when(inSliceA, 1L).otherwise(0L)).as("na"),
      sum(when(inSliceA, 0L).otherwise(1L)).as("nb"))
    val cnts = df.select(v.as("c"), inSliceA.as("ga"))
      .crossJoin(broadcast(bounds))
      .withColumn("w", greatest(lit(1L),
        floor((col("mx") - col("mn") + lit(nBins)) / lit(nBins)).cast("long")))
      .withColumn("bin",
        least(floor((col("c") - col("mn")) / col("w")).cast("long"), lit(nBins - 1L)))
      .groupBy("bin")
      .agg(count(when(col("ga"), 1)).as("ca"),
        count(when(!col("ga"), 1)).as("cb"))
    val spine = spark.range(nBins).select(col("id").as("bin"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + lit(nBins)).cast("double")
    val pb = (col("cb") + 1).cast("double") / (col("nb") + lit(nBins)).cast("double")
    spine.crossJoin(broadcast(bounds))
      .withColumn("w", greatest(lit(1L),
        floor((col("mx") - col("mn") + lit(nBins)) / lit(nBins)).cast("long")))
      .join(cnts, Seq("bin"), "left")
      .na.fill(0L, Seq("ca", "cb"))
      .select(col("bin"),
        (col("mn") + col("bin") * col("w")).cast("double").as("lo"),
        (col("mn") + (col("bin") + 1) * col("w")).cast("double").as("hi"),
        col("ca"), col("cb"),
        round(pa, 6).as("share_a"), round(pb, 6).as("share_b"),
        round((pa - pb) * log(pa / pb), 6).as("psi_contrib"))
      .orderBy("bin")
  }

  /** Events with a per-user session number — the strict ">gap" rule
    * shared by q_sessionize / q_session_paths (boundary re-derived in r5
    * against `session_window`'s adjacent-merge semantics).
    */
  private def withSessionNo(events: DataFrame, gapSec: Int = 1800): DataFrame = {
    // Total order (ts, event_id) in BOTH the lag and the cumsum windows,
    // mirrored in the oracle SQL: under ts ties the default RANGE frame
    // would pool tied rows in Spark while the oracle's ROWS frame splits
    // them — with a total order the frames coincide on every engine.
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("ts", date_trunc("second", col("ts")))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec, 1)
          .otherwise(0))
      .withColumn("sess_no", sum(col("new_sess")).over(byUser))
  }

  /** First-order Markov (src, dst, n) transition counts within sessions;
    * the in-session lag runs over the TOTAL order (ts, event_id).
    */
  def sessionTransitions(events: DataFrame): DataFrame = {
    val bySess = Window.partitionBy("user_id", "sess_no")
      .orderBy("ts", "event_id")
    withSessionNo(events)
      .withColumn("src", lag(col("event_type"), 1).over(bySess))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .orderBy("src", "dst")
  }

  /** In-session inter-event gap distribution (seconds): count + exact
    * P50/P90/P99 through the distributed percentile engine. Gaps across
    * session boundaries are excluded by construction (the lag restarts
    * per (user, session)).
    */
  def thinkTime(events: DataFrame): DataFrame = {
    val bySess = Window.partitionBy("user_id", "sess_no")
      .orderBy("ts", "event_id")
    val gaps = withSessionNo(events)
      .withColumn("gap", unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(bySess)))
      .filter(col("gap").isNotNull)
      .select("gap")
    gaps.agg(count(col("gap")).as("n_gaps"))
      .crossJoin(broadcast(exactPercentiles(gaps, "gap",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))))
  }

  /** Two-proportion z-test on purchase conversion under a deterministic
    * md5 user split; z is NULL when conversion is degenerate (se = 0).
    */
  def abTest(events: DataFrame): DataFrame = {
    val variant = when(
      conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 2 === 0, "control").otherwise("treatment")
    val perUser = events
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("converted"))
      .withColumn("variant", variant)
    val a = perUser.agg(
      count(when(col("variant") === "control", 1)).as("n_c"),
      sum(when(col("variant") === "control", col("converted"))
        .otherwise(0)).as("x_c"),
      count(when(col("variant") === "treatment", 1)).as("n_t"),
      sum(when(col("variant") === "treatment", col("converted"))
        .otherwise(0)).as("x_t"))
    val rateC = col("x_c") / col("n_c").cast("double")
    val rateT = col("x_t") / col("n_t").cast("double")
    val pool = (col("x_c") + col("x_t")) /
      (col("n_c") + col("n_t")).cast("double")
    val se = sqrt(pool * (lit(1).cast("double") - pool) *
      (lit(1).cast("double") / col("n_c").cast("double") +
        lit(1).cast("double") / col("n_t").cast("double")))
    a.select(col("n_c"), col("x_c"), col("n_t"), col("x_t"),
        rateC.as("rc"), rateT.as("rt"), se.as("se"))
      .select(col("n_c"), col("x_c"), col("n_t"), col("x_t"),
        round(col("rc"), 6).as("rate_c"), round(col("rt"), 6).as("rate_t"),
        when(col("se") > 0,
          round((col("rt") - col("rc")) / col("se"), 6)).as("z"))
  }

  /** SAX over any ordered (day, c) integer series — see q_sax_symbolic's
    * comment for the contract (PAA → z-normalize → 4-symbol quantize at
    * Gaussian breakpoints, symbol assigned from the 6dp-rounded z).
    * Full a..d alphabet is exercised on a planted trending series in
    * Round9Spec; the stationary natural series concentrates in b/c by
    * construction (PAA averaging shrinks segment variance).
    */
  def saxSymbolic(days: DataFrame, w: Int = 30): DataFrame = {
    val mom = days.agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
      sum(col("c").cast(DecimalType(19, 0)) * col("c")).as("ss"))
    val segs = days
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .crossJoin(broadcast(mom))
      .withColumn("seg", expr(s"((rn - 1) * $w) div n"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        max(col("n")).as("n"), max(col("s")).as("s"),
        max(col("ss")).as("ss"))
    val mu = col("s").cast("double") / col("n").cast("double")
    val sigma = sqrt((col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")) / col("n").cast("double"))
    val z = round((col("sc").cast("double") / col("n_days").cast("double")
      - mu) / sigma, 6)
    segs.select(col("seg"), col("n_days"), z.as("paa_z"))
      .withColumn("symbol",
        when(col("paa_z") < -0.6745, "a")
          .when(col("paa_z") < 0.0, "b")
          .when(col("paa_z") < 0.6745, "c").otherwise("d"))
      .orderBy("seg")
  }

  /** A/A NEGATIVE CONTROL: a two-sample z-test on purchases-per-user
    * replayed under K independent salted md5 splits of the SAME
    * population with NO treatment applied. Any |z| ≥ 1.96 row is a red
    * flag on the experimentation stack itself (broken hashing, biased
    * assignment, interference) rather than on any experiment — the QA
    * gate platforms run before trusting q_ab_test readouts (Kohavi et
    * al., "A/A Testing"). The metric is a per-user COUNT, not the
    * purchase indicator, because indicators degenerate (se = 0) on a
    * population where everyone converts — a count metric keeps the gate
    * non-vacuous at any SF. Deterministic: each salt's split is a pure
    * function of (user_id, salt), so the readout is hash-stable across
    * engines; the z tree is IEEE doubles from EXACT integer moments
    * (Σx, Σx² as Longs), rounded once at 6dp.
    *
    * Scale posture: ONE user-keyed aggregate (bounded by user
    * cardinality, map-side combined), then a K-way literal explode —
    * the K× blow-up happens AFTER per-user reduction, so the shuffle
    * carries K·|users| thin rows, not K·|events| — and a K-group
    * conditional rollup. No joins, no windows, no driver state.
    */
  def aaCheck(events: DataFrame, salts: Int = 5): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("m"))
    val salted = perUser
      .select(col("user_id"), col("m"),
        explode(array((0 until salts).map(lit): _*)).as("salt"))
      .withColumn("arm",
        conv(substring(md5(concat(col("user_id").cast("string"), lit(":"),
          col("salt").cast("string"))), 1, 4), 16, 10)
          .cast("long") % 2)
    val a = salted.groupBy("salt").agg(
      count(when(col("arm") === 0, 1)).as("n_a"),
      sum(when(col("arm") === 0, col("m")).otherwise(0L)).as("s_a"),
      sum(when(col("arm") === 0, col("m") * col("m")).otherwise(0L))
        .as("ss_a"),
      count(when(col("arm") === 1, 1)).as("n_b"),
      sum(when(col("arm") === 1, col("m")).otherwise(0L)).as("s_b"),
      sum(when(col("arm") === 1, col("m") * col("m")).otherwise(0L))
        .as("ss_b"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    // unbiased variance from exact integer moments: (Σx² − (Σx)²/n)/(n−1)
    def variance(ss: String, s: String, n: String) =
      (col(ss).cast("double") -
        col(s).cast("double") * col(s).cast("double") /
          col(n).cast("double")) / (col(n).cast("double") - lit(1.0))
    val se = sqrt(variance("ss_a", "s_a", "n_a") / col("n_a").cast("double")
      + variance("ss_b", "s_b", "n_b") / col("n_b").cast("double"))
    val a2 = a.select(col("salt"), col("n_a"), col("n_b"),
      round(mean("s_a", "n_a"), 6).as("mean_a"),
      round(mean("s_b", "n_b"), 6).as("mean_b"),
      when(se > 0, round((mean("s_b", "n_b") - mean("s_a", "n_a")) / se, 6))
        .as("z"))
    a2.withColumn("healthy", col("z").isNull || abs(col("z")) < lit(1.96))
      .orderBy("salt")
  }

  /** Median-absolute-deviation outlier audit: (med, mad, n_total,
    * n_outliers) at the 3σ-consistent 4.4478·MAD threshold. Both medians
    * run through the exact-percentile engine and broadcast back.
    */
  def madOutliers(df: DataFrame, valueCol: String): DataFrame = {
    val o = df.select(col(valueCol))
    val med = exactPercentiles(o, valueCol, Seq("med" -> 0.5))
    val dev = o.crossJoin(broadcast(med))
      .select(col("med"), abs(col(valueCol) - col("med")).as("adev"))
    val mad = exactPercentiles(dev, "adev", Seq("mad" -> 0.5))
    dev.crossJoin(broadcast(mad))
      .groupBy("med", "mad")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("adev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Mean of the inner 5%–95%: exact-percentile thresholds broadcast
    * back, exact-DECIMAL inner sum cast to double once.
    */
  def trimmedMean(df: DataFrame, valueCol: String): DataFrame = {
    val o = df.select(col(valueCol))
    val thr = exactPercentiles(o, valueCol,
      Seq("p05" -> 0.05, "p95" -> 0.95))
    val in = col(valueCol) >= col("p05") && col(valueCol) <= col("p95")
    o.crossJoin(broadcast(thr))
      .groupBy("p05", "p95")
      .agg(count(when(in, 1)).as("n_kept"), count(lit(1)).as("n_total"),
        (sum(when(in, col(valueCol)).cast(DecimalType(18, 2)))
          .cast("double") / count(when(in, 1))).as("mean_trimmed"))
  }

  /** Gini coefficient via the rank identity on the cumulative
    * value-count frame: value v occupies ranks (cum−c+1)..cum, so
    * Σ rank·x = Σ v·c·(2·cum−c+1)/2 over DISTINCT values only; the /2 is
    * folded into G = S2/(n·Σx) − (n+1)/n. Exact-DECIMAL accumulation,
    * rounded to 6dp once.
    */
  def gini(df: DataFrame, valueCol: String): DataFrame = {
    val cum = cumulativeValueCounts(df.select(col(valueCol)), Nil, valueCol)
    val a = cum.agg(
      max(col("n")).as("n_rows"),
      sum(col("v").cast(DecimalType(18, 2)) * col("c")).as("sxd"),
      sum(col("v").cast(DecimalType(18, 2)) * giniRankTerm).as("s2d"))
    a.select(col("n_rows"), giniFromMoments.as("gini"))
  }

  /** Per-group Gini — same rank identity, every group's cumulative
    * ranges computed in parallel by the grouped value-count frame (the
    * per-source token/length concentration report a data-mix audit runs
    * before training).
    */
  def groupedGini(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val cum = cumulativeValueCounts(
      df.select(col(groupCol), col(valueCol))
        .filter(col(groupCol).isNotNull),
      Seq(groupCol), valueCol)
    val a = cum.groupBy(col(groupCol)).agg(
      max(col("n")).as("n_rows"),
      sum(col("v").cast(DecimalType(18, 2)) * col("c")).as("sxd"),
      sum(col("v").cast(DecimalType(18, 2)) * giniRankTerm).as("s2d"))
    a.select(col(groupCol), col("n_rows"), giniFromMoments.as("gini"))
      .orderBy(groupCol)
  }

  /** Shannon diversity of a categorical mix: entropy in bits over the
    * group shares plus the effective category count 2^H (the "how many
    * sources is this corpus really drawing from" report). Each term is
    * rounded to 6dp and summed as exact DECIMAL — the q_text_entropy
    * float-parity recipe, immune to accumulation order; the share and
    * term expression trees are evaluated identically in both engines.
    */
  def mixEntropy(df: DataFrame, catCol: String): DataFrame = {
    val cnts = df.filter(col(catCol).isNotNull)
      .groupBy(col(catCol)).agg(count(lit(1)).as("c"))
    val tot = cnts.agg(sum(col("c")).as("n"))
    cnts.crossJoin(broadcast(tot))
      .select((col("c").cast("double") / col("n").cast("double")).as("p"))
      .agg(count(lit(1)).as("n_cats"),
        sum(round(-(col("p") * log2(col("p"))), 6)
          .cast(DecimalType(18, 6))).as("hd"))
      .select(col("n_cats"), col("hd").cast("double").as("entropy_bits"),
        round(pow(lit(2.0), col("hd").cast("double")), 6)
          .as("effective_cats"))
  }

  /** Per-category Jensen-Shannon divergence (bits) of a numeric
    * distribution vs the whole corpus: nBins equi-width bins over the
    * global range (the [[driftPsi]] binning — shared width, clamp to the
    * last bin), then JS(P‖Q) = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2,
    * summed per category over the full bin spine so zero-count bins on
    * either side still contribute their ½·q (resp. ½·p) mass. Bounded in
    * [0,1] bit — comparable across sources, unlike PSI. No smoothing:
    * the zero guards make every term well-defined.
    *
    * Determinism: each per-bin term is rounded to 6dp and summed as
    * DECIMAL (order-independent); the share/term expression trees are
    * evaluated identically in both engines. Scale shape: two bounded
    * shuffles to (cat, bin) cardinality, then spine-sized frames only.
    */
  def jsDivergence(df: DataFrame, valueCol: Column, catCol: String,
                   nBins: Int): DataFrame = {
    val spark = df.sparkSession
    val v = valueCol.cast("long")
    // NULL category AND NULL value both excluded (mirrored in the oracle):
    // a NULL value would otherwise flow into `least(NULL, nBins-1)` binning
    // whose NULL-group placement differs between engines.
    val slice = df.filter(col(catCol).isNotNull && v.isNotNull)
    val bounds = slice.agg(min(v).as("mn"), max(v).as("mx"),
      count(lit(1)).as("ng"))
    val bySrcBin = slice.select(col(catCol).as("src"), v.as("c"))
      .crossJoin(broadcast(bounds))
      .withColumn("w", greatest(lit(1L),
        floor((col("mx") - col("mn") + lit(nBins)) / lit(nBins)).cast("long")))
      .withColumn("bin",
        least(floor((col("c") - col("mn")) / col("w")).cast("long"), lit(nBins - 1L)))
      .groupBy("src", "bin").agg(count(lit(1)).as("cs"))
    val bySrc = bySrcBin.groupBy("src").agg(sum(col("cs")).as("ns"))
    val byBin = bySrcBin.groupBy("bin").agg(sum(col("cs")).as("cg"))
    val spine = bySrc
      .crossJoin(spark.range(nBins).select(col("id").as("bin")))
    val f = spine.join(bySrcBin, Seq("src", "bin"), "left")
      .na.fill(0L, Seq("cs"))
      .join(broadcast(byBin), Seq("bin"), "left")
      .na.fill(0L, Seq("cg"))
      .crossJoin(broadcast(bounds.select(col("ng"))))
    val p = col("cs").cast("double") / col("ns").cast("double")
    val q = col("cg").cast("double") / col("ng").cast("double")
    val m = (p + q) / lit(2.0)
    val term = when(col("cs") > 0, p * log2(p / m)).otherwise(lit(0.0)) +
      when(col("cg") > 0, q * log2(q / m)).otherwise(lit(0.0))
    f.withColumn("t", round(term / lit(2.0), 6).cast(DecimalType(18, 6)))
      .groupBy("src")
      .agg(max(col("ns")).as("n_docs"),
        sum(col("t")).cast("double").as("js_bits"))
      .select(col("src").as("source"), col("n_docs"), col("js_bits"))
      .orderBy("source")
  }

  /** One-way ANOVA of a numeric column across categories: F = (SSB/(k−1))
    * / (SSW/(n−k)) from the per-group exact integer moments (n, Σv, Σv²
    * all fit in long for bounded ints), so the only float work is the
    * per-group S²/n term — rounded to 6dp and summed as DECIMAL, the
    * order-independent float recipe. One map-side-combined shuffle to
    * category cardinality, then a scalar. Degenerate inputs (one group,
    * zero within-variance) yield a null F instead of a divide error.
    */
  def anova(df: DataFrame, valueCol: Column, catCol: String): DataFrame = {
    val v = valueCol.cast("long")
    val g = df.filter(col(catCol).isNotNull && v.isNotNull)
      .groupBy(col(catCol))
      .agg(count(lit(1)).as("ng"), sum(v).as("sg"), sum(v * v).as("qg"))
    val terms = g.select(col("ng"), col("sg"), col("qg"),
      round(col("sg").cast("double") * col("sg").cast("double")
        / col("ng").cast("double"), 6).cast(DecimalType(28, 6)).as("tg"))
    val a = terms.agg(count(lit(1)).as("k_groups"), sum(col("ng")).as("n_rows"),
      sum(col("sg")).as("s"), sum(col("qg")).as("q"), sum(col("tg")).as("t"))
    val ssb = col("t").cast("double") -
      col("s").cast("double") * col("s").cast("double") / col("n_rows").cast("double")
    val ssw = col("q").cast("double") - col("t").cast("double")
    a.select(col("k_groups"), col("n_rows"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      when(col("k_groups") > 1 && col("n_rows") > col("k_groups") && ssw > 0,
        round((ssb / (col("k_groups") - 1).cast("double")) /
          (ssw / (col("n_rows") - col("k_groups")).cast("double")), 6))
        .as("f_stat"))
  }

  /** χ² test of independence + mutual information (bits) over a two-way
    * contingency table. Cells aggregate map-side to category² rows; the
    * full row×col spine (cross of two category-sized frames, broadcast)
    * restores the o=0 cells χ² needs. Both statistics use the 6dp-round +
    * DECIMAL-sum order-independent float recipe.
    */
  def contingencyStats(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .select(col(rowCol).as("r"), col(colCol).as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("r").agg(sum(col("o")).as("nr"))
    val cols = cells.groupBy("c").agg(sum(col("o")).as("nc"))
    val n = cells.agg(sum(col("o")).as("n"))
    val spine = rows.crossJoin(broadcast(cols))
      .join(cells, Seq("r", "c"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
    val e = col("nr").cast("double") * col("nc").cast("double") / col("n").cast("double")
    val chiT = round((col("o").cast("double") - e) * (col("o").cast("double") - e) / e, 6)
    val miT = when(col("o") > 0,
      round((col("o").cast("double") / col("n").cast("double")) *
        log2(col("o").cast("double") * col("n").cast("double") /
          (col("nr").cast("double") * col("nc").cast("double"))), 6))
      .otherwise(lit(0.0))
    spine.select(col("r"), col("c"), col("n"),
        chiT.cast(DecimalType(18, 6)).as("x2"),
        miT.cast(DecimalType(18, 6)).as("mi"))
      .agg(countDistinct(col("r")).as("n_row_cats"),
        countDistinct(col("c")).as("n_col_cats"),
        max(col("n")).as("n_rows"),
        sum(col("x2")).cast("double").as("chi2d"),
        sum(col("mi")).cast("double").as("mid"))
      .select(col("n_row_cats"), col("n_col_cats"), col("n_rows"),
        ((col("n_row_cats") - 1) * (col("n_col_cats") - 1)).as("dof"),
        col("chi2d").as("chi2"), col("mid").as("mi_bits"),
        // Cramér's V — the [0,1] effect size the raw χ² isn't: V =
        // √(χ²/(n·min(r−1,c−1))), guarded for 1×k tables
        when(least(col("n_row_cats") - 1, col("n_col_cats") - 1) >= 1,
          round(sqrt(col("chi2d") / (col("n_rows").cast("double") *
            least(col("n_row_cats") - 1, col("n_col_cats") - 1)
              .cast("double"))), 6)).as("cramers_v"))
  }

  /** Cohen's d between two slices of a numeric column: pooled-variance
    * standardized mean difference from exact integer moments (n, Σv, Σv²
    * per slice — the [[anova]] accumulation), float only in the final
    * tree. One map-side-combined shuffle to two rows, then a scalar.
    */
  def cohensD(df: DataFrame, valueCol: Column, inSliceA: Column): DataFrame = {
    val v = valueCol.cast("long")
    val a = df.filter(v.isNotNull && inSliceA.isNotNull)
      .select(v.as("v"), inSliceA.as("ga"))
      .agg(
        sum(when(col("ga"), 1L).otherwise(0L)).as("na"),
        sum(when(col("ga"), col("v")).otherwise(0L)).as("sa"),
        sum(when(col("ga"), col("v") * col("v")).otherwise(0L)).as("qa"),
        sum(when(col("ga"), 0L).otherwise(1L)).as("nb"),
        sum(when(col("ga"), 0L).otherwise(col("v"))).as("sb"),
        sum(when(col("ga"), 0L).otherwise(col("v") * col("v"))).as("qb"))
    val dna = col("na").cast("double"); val dsa = col("sa").cast("double")
    val dqa = col("qa").cast("double")
    val dnb = col("nb").cast("double"); val dsb = col("sb").cast("double")
    val dqb = col("qb").cast("double")
    val pooled = ((dqa - dsa * dsa / dna) + (dqb - dsb * dsb / dnb)) /
      (dna + dnb - 2)
    a.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(dsa / dna, 6).as("mean_a"),
      round(dsb / dnb, 6).as("mean_b"),
      when(col("na") > 1 && col("nb") > 1 && pooled > 0,
        round((dsa / dna - dsb / dnb) / sqrt(pooled), 6)).as("cohens_d"))
  }

  /** Per-group skewness and excess kurtosis from ONE pass of exact
    * integer power sums (cents¹..cents⁴ as DECIMAL — partial-agg order
    * cannot drift the totals; both engines see the identical four
    * integers and derive the moments with the identical double-precision
    * expression tree). The third/fourth central moments come from the
    * raw-moment expansion, so no second mean-centering scan — the
    * distributed one-pass shape that scales to any group count. Spark's
    * built-in `skewness`/`kurtosis` accumulate doubles in partial-agg
    * order and are run-to-run nondeterministic at scale; this is the
    * deterministic exact twin.
    */
  def skewKurtosis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val c = (col(valueCol).cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(19, 0))
    val a = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), c.as("c"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"),
        sum(col("c") * col("c") * col("c")).as("s3"),
        sum(col("c") * col("c") * col("c") * col("c")).as("s4"))
    val dn = col("n").cast("double")
    def d(x: String) = col(x).cast("double")
    val m = d("s1") / dn
    val m2 = d("s2") / dn - m * m
    val m3 = d("s3") / dn - lit(3.0) * m * d("s2") / dn + lit(2.0) * m * m * m
    val m4 = d("s4") / dn - lit(4.0) * m * d("s3") / dn +
      lit(6.0) * m * m * d("s2") / dn - lit(3.0) * m * m * m * m
    a.select(col(groupCol), col("n"),
      when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 6)).as("skewness"),
      when(m2 > 0, round(m4 / (m2 * m2) - 3.0, 6)).as("kurtosis_excess"))
      .orderBy(groupCol)
  }

  /** First-order partial correlation r(x,y | z): the three pairwise
    * Pearson correlations from ONE pass of exact decimal moments, then
    * the textbook combination — answers "does x still track y once z is
    * controlled for" with no second scan and no float accumulation.
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    def dec(c: String) = col(c).cast(DecimalType(18, 2))
    val a = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(dec(xCol)).as("sx"), sum(dec(yCol)).as("sy"),
        sum(dec(zCol)).as("sz"),
        sum(dec(xCol) * dec(xCol)).as("sxx"),
        sum(dec(yCol) * dec(yCol)).as("syy"),
        sum(dec(zCol) * dec(zCol)).as("szz"),
        sum(dec(xCol) * dec(yCol)).as("sxy"),
        sum(dec(xCol) * dec(zCol)).as("sxz"),
        sum(dec(yCol) * dec(zCol)).as("syz"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    def r(sab: String, a1: String, b1: String, saa: String, sbb: String) =
      (dn * d(sab) - d(a1) * d(b1)) /
        sqrt((dn * d(saa) - d(a1) * d(a1)) * (dn * d(sbb) - d(b1) * d(b1)))
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    val denom = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    a.select(col("n").as("n_rows"),
      round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      when(denom > 0, round((rxy - rxz * ryz) / sqrt(denom), 6))
        .as("r_xy_given_z"))
  }

  /** Two-sample Kolmogorov-Smirnov: D = max over the pooled distinct
    * values of |F_a − F_b|, plus the scaled statistic D·√(n_a·n_b/(n_a+
    * n_b)). The cumulative frame is one row per DISTINCT value — bounded
    * by the value domain (document lengths here), not corpus size, the
    * same data-bounded-spine class as the calendar day spine — so the
    * unpartitioned cumsum window is over a provably small frame.
    */
  def ksTest(df: DataFrame, valueCol: Column, inSliceA: Column): DataFrame = {
    val v = valueCol.cast("long")
    // NULL values/predicates are excluded explicitly (mirrored in the
    // oracle SQL): a NULL would sort NULLS FIRST in Spark's cumsum window
    // but NULLS LAST in DuckDB, shifting both CDFs — parity must not
    // depend on the generator never emitting NULLs.
    val cnts = df.select(v.as("v"), inSliceA.as("ga"))
      .filter(col("v").isNotNull && col("ga").isNotNull)
      .groupBy("v")
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("ga"), 0L).otherwise(1L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val gap = round(abs(
      sum(col("ca")).over(w).cast("double") / sum(col("ca")).over(tot).cast("double") -
        sum(col("cb")).over(w).cast("double") / sum(col("cb")).over(tot).cast("double")), 6)
    cnts
      .select(col("v"), gap.as("dgap"),
        sum(col("ca")).over(tot).as("na"), sum(col("cb")).over(tot).as("nb"))
      .groupBy("na", "nb")
      .agg(max(col("dgap")).as("ks_d"))
      .select(col("na"), col("nb"), col("ks_d"),
        round(col("ks_d") * sqrt(col("na").cast("double") * col("nb").cast("double")
          / (col("na") + col("nb")).cast("double")), 6).as("ks_stat"))
  }

  /** Wasserstein-1 over the KS spine (see q_wasserstein_drift's comment
    * for semantics; shares ksTest's null handling and slice contract).
    */
  def wasserstein1(df: DataFrame, valueCol: Column,
                   inSliceA: Column): DataFrame = {
    val v = valueCol.cast("long")
    val cnts = df.select(v.as("v"), inSliceA.as("ga"))
      .filter(col("v").isNotNull && col("ga").isNotNull)
      .groupBy("v")
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("ga"), 0L).otherwise(1L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val fa = sum(col("ca")).over(w).cast("double") /
      sum(col("ca")).over(tot).cast("double")
    val fb = sum(col("cb")).over(w).cast("double") /
      sum(col("cb")).over(tot).cast("double")
    // last spine value has no Δv: lead is null, the term drops from the
    // sum on both engines
    val dv = (lead(col("v"), 1).over(Window.orderBy("v")) - col("v"))
      .cast("double")
    cnts
      .select(col("v"),
        round(abs(fa - fb) * dv, 6).cast(DecimalType(18, 6)).as("term"),
        sum(col("ca")).over(tot).as("na"), sum(col("cb")).over(tot).as("nb"))
      .groupBy("na", "nb")
      .agg(sum(col("term")).as("w1d"))
      .select(col("na"), col("nb"),
        coalesce(col("w1d").cast("double"), lit(0.0)).as("w1"))
  }

  /** Per-group simple OLS of a monthly series on its month index —
    * slope/intercept/R² in closed form from the exact integer moments
    * (x = calendar month number, y = revenue CENTS, so n·Σxy, Σx·Σy,
    * … are all exact DECIMAL sums; the only float work is the final
    * shared-subexpression tree, evaluated identically in both engines).
    * Scale shape: one shuffle to group×month cardinality with map-side
    * combine, then group-sized frames — no window, no sort, no per-row
    * float accumulation. Degenerate groups (a single month, zero x- or
    * y-variance) yield null coefficients instead of a divide error.
    */
  /** (segment, x = calendar month number, yc = exact revenue cents) —
    * the shared spine of the trend estimators. One shuffle join on the
    * customer key, then a map-side-combined group to segment×month.
    */
  private def monthlyRevenue(orders: DataFrame,
                             customer: DataFrame): DataFrame =
    orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("x"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast(DecimalType(18, 0)).as("yc"))

  def olsTrend(orders: DataFrame, customer: DataFrame): DataFrame = {
    val m = monthlyRevenue(orders, customer)
    val a = m.groupBy("segment").agg(
      count(lit(1)).as("n_months"),
      min(col("x")).as("mn"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("yc")).as("sy"),
      sum(col("x").cast(DecimalType(18, 0)) * col("yc")).as("sxy"),
      sum(col("yc") * col("yc")).as("syy"))
    // Shift x to the group's first month ALGEBRAICALLY, in exact integer
    // math, before any double: with x' = x − mn the shifted moments are
    // Σx' = Σx − n·mn, Σx'² = Σxx − 2·mn·Σx + n·mn², Σx'y = Σxy − mn·Σy.
    // Slope and R² are shift-invariant; the intercept becomes the fitted
    // level at the first month — per-month magnitude instead of an
    // extrapolation to month 0, so round(…, 6) sits ~100× inside double
    // precision instead of at its edge (a 1-ulp engine divergence at
    // sf0.1 motivated this). The shifted doubles are small exact
    // integers, so every product below stays exactly representable.
    val dn = col("n_months").cast("double")
    val dsx = (col("sx") - col("n_months") * col("mn")).cast("double")
    val dsxx = (col("sxx") - lit(2L) * col("mn") * col("sx") +
      col("n_months") * col("mn") * col("mn")).cast("double")
    val dsy = col("sy").cast("double")
    val dsxy = (col("sxy") -
      col("mn").cast(DecimalType(18, 0)) * col("sy")).cast("double")
    val dsyy = col("syy").cast("double")
    val covn = dn * dsxy - dsx * dsy
    val varx = dn * dsxx - dsx * dsx
    val vary = dn * dsyy - dsy * dsy
    a.select(col("segment"), col("n_months"),
      when(varx > 0, round(covn / varx / lit(100.0), 6)).as("slope"),
      when(varx > 0, round((dsy - covn / varx * dsx) / dn / lit(100.0), 6))
        .as("intercept"),
      when(varx > 0 && vary > 0, round((covn * covn) / (varx * vary), 6))
        .as("r2"))
      .orderBy("segment")
  }

  /** Robust trend per segment: the Theil–Sen estimator (median of all
    * pairwise month-slopes) plus the Mann–Kendall test (S = Σ sign over
    * ordered pairs, tie-corrected variance, continuity-corrected z).
    * The pair set is calendar-bounded — months² per segment, not corpus-
    * sized — so the self-join is a small broadcast-scale frame built on
    * top of ONE corpus aggregation ([[monthlyRevenue]]). S and the
    * variance are exact integers; the median slope runs through the
    * distributed exact-percentile engine (quantile_cont-parity), so the
    * only float work is the slope division and the final z.
    */
  def robustTrend(orders: DataFrame, customer: DataFrame): DataFrame = {
    val m = monthlyRevenue(orders, customer)
      .persistTracked()
    val pairs = m.select(col("segment"), col("x").as("xa"), col("yc").as("ya"))
      .join(m.select(col("segment"), col("x").as("xb"), col("yc").as("yb")),
        Seq("segment"))
      .filter(col("xa") < col("xb"))
      .select(col("segment"),
        ((col("yb") - col("ya")).cast("double") /
          (col("xb") - col("xa")).cast("double") / lit(100.0)).as("slope"),
        signum((col("yb") - col("ya")).cast("double")).cast("long").as("sgn"))
    val s = pairs.groupBy("segment")
      .agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("s_stat"))
    val med = groupedExactPercentiles(
      pairs.select(col("segment"), col("slope")), "segment", "slope",
      Seq("ts_slope" -> 0.5))
    val ties = m.groupBy(col("segment"), col("yc"))
      .agg(count(lit(1)).as("c"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_months"),
        sum(col("c") * (col("c") - 1) * (lit(2L) * col("c") + 5)).as("tsum"))
    val nm = col("n_months")
    val dvar = (nm * (nm - 1) * (lit(2L) * nm + 5) - col("tsum"))
      .cast("double") / lit(18.0)
    val ds = col("s_stat").cast("double")
    s.join(ties, Seq("segment")).join(med, Seq("segment"))
      .select(col("segment"), col("n_months"), col("n_pairs"),
        round(col("ts_slope"), 6).as("ts_slope"), col("s_stat"),
        when(dvar > 0,
          round(when(col("s_stat") > 0, (ds - 1) / sqrt(dvar))
            .when(col("s_stat") < 0, (ds + 1) / sqrt(dvar))
            .otherwise(lit(0.0)), 6)).as("mk_z"))
      .orderBy("segment")
  }

  /** Autocorrelation function of the daily revenue series at lags 1..k:
    * Pearson correlation of (y_t, y_{t−k}) pairs, each lag's moments
    * summed exactly in integer cents (DECIMAL) so the only float is the
    * final correlation tree. The day frame is calendar-bounded (the
    * q_rolling_revenue argument), so the one unpartitioned lag window
    * runs over a provably small spine; pair moments then aggregate
    * map-side to k rows.
    */
  def acfDaily(orders: DataFrame, maxLag: Int): DataFrame = {
    val daily = dailyCents(orders, "yc", DecimalType(18, 0))
    val w = Window.orderBy("day")
    val lagged = daily.select(col("yc") +:
      (1 to maxLag).map(k => lag(col("yc"), k).over(w).as(s"l$k")): _*)
    val pairs = lagged
      .select(col("yc").as("y"),
        posexplode(array((1 to maxLag).map(k => col(s"l$k")): _*))
          .as(Seq("k0", "x")))
      .filter(col("x").isNotNull)
      .select((col("k0") + 1).cast("long").as("lag"), col("x"), col("y"))
    val a = pairs.groupBy("lag").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val dm = col("n_pairs").cast("double")
    val dsx = col("sx").cast("double"); val dsxx = col("sxx").cast("double")
    val dsy = col("sy").cast("double"); val dsyy = col("syy").cast("double")
    val dsxy = col("sxy").cast("double")
    val varx = dm * dsxx - dsx * dsx
    val vary = dm * dsyy - dsy * dsy
    a.select(col("lag"), col("n_pairs"),
      when(varx > 0 && vary > 0,
        round((dm * dsxy - dsx * dsy) / sqrt(varx * vary), 6)).as("acf"))
      .orderBy("lag")
  }

  /** AUC of a numeric score predicting a boolean label, ties handled by
    * average ranks — the Mann-Whitney rank-sum identity on the distinct-
    * value count frame: a value v spanning ranks (cum−c+1)..cum has
    * 2·avgrank = 2·cum−c+1, so 2·R_pos = Σ p_v·(2·cum−c+1) and
    * AUC = (2·R_pos − n_pos·(n_pos+1)) / (2·n_pos·n_neg) — all exact
    * DECIMAL until one final double division. No per-row ranking: the
    * cumsum window is over DISTINCT scores, bounded by the value domain
    * (the ksTest spine argument), not corpus size.
    */
  def aucRank(df: DataFrame, scoreCol: Column, positive: Column): DataFrame = {
    val c = df.filter(scoreCol.isNotNull && positive.isNotNull)
      .select(scoreCol.cast("long").as("v"),
        when(positive, 1L).otherwise(0L).as("pos"))
      .groupBy("v")
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val a = c.withColumn("cum", sum(col("c")).over(w))
      .agg(sum(col("c")).as("n"), sum(col("p")).as("np"),
        sum(col("p").cast(DecimalType(18, 0)) *
          (lit(2L) * col("cum") - col("c") + lit(1L))
            .cast(DecimalType(18, 0))).as("rp2"))
    val dnp = col("np").cast("double")
    val dnn = (col("n") - col("np")).cast("double")
    a.select(col("np").as("n_pos"), (col("n") - col("np")).as("n_neg"),
      when(col("np") > 0 && col("n") > col("np"),
        round((col("rp2").cast("double") - dnp * (dnp + 1)) /
          (lit(2.0) * dnp * dnn), 6)).as("auc"))
  }

  /** DeLONG CONFIDENCE INTERVAL for the AUC (DeLong, DeLong &
    * Clarke-Pearson 1988) — q_auc_length gives the point estimate; this
    * gives the sampling uncertainty, via the placement-value identity:
    * for each positive, V10 = share of negatives it outranks (ties ½);
    * for each negative, V01 symmetric. AUC = mean(V10) = mean(V01) and
    * var(AUC) = S10/n1 + S01/n0 with S10/S01 the placement variances.
    * The standard way to say "AUC 0.61 ± what?" before shipping a
    * quality-score threshold.
    *
    * Scale posture: placements come from the SAME distinct-value spine
    * as [[aucRank]] (cumsum window bounded by the score domain, never a
    * per-row rank); every per-score moment term is rounded to 6dp
    * DECIMAL before the exact fold, so both engines replay the variance
    * bit-for-bit. One shuffle to the spine, one window, one aggregate.
    */
  def aucDelongCi(df: DataFrame, scoreCol: Column,
                  positive: Column): DataFrame = {
    val c = df.filter(scoreCol.isNotNull && positive.isNotNull)
      .select(scoreCol.cast("long").as("v"),
        when(positive, 1L).otherwise(0L).as("pos"))
      .groupBy("v")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("p"))
      .select(col("v"), col("p"), (col("cnt") - col("p")).as("q"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = c.withColumn("cq", sum(col("q")).over(w))
      .withColumn("cp", sum(col("p")).over(w))
    val tot = c.agg(sum(col("p")).as("n1"), sum(col("q")).as("n0"))
    def t6(x: Column) = round(x, 6).cast(DecimalType(28, 6))
    val v10 = ((col("cq") - col("q")).cast("double") +
      lit(0.5) * col("q").cast("double")) / col("n0").cast("double")
    val v01 = ((col("n1") - col("cp")).cast("double") +
      lit(0.5) * col("p").cast("double")) / col("n1").cast("double")
    val m = cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n0"),
        // moment terms associate as p·(v·v) on BOTH engines (pow() is
        // not guaranteed bit-equal to the explicit product)
        t6(col("p") * (v10 * v10)).as("ss10"), t6(col("p") * v10).as("s10"),
        t6(col("q") * (v01 * v01)).as("ss01"), t6(col("q") * v01).as("s01"))
      .groupBy("n1", "n0")
      .agg(sum(col("s10")).cast("double").as("s10"),
        sum(col("ss10")).cast("double").as("ss10"),
        sum(col("s01")).cast("double").as("s01"),
        sum(col("ss01")).cast("double").as("ss01"))
    val dn1 = col("n1").cast("double"); val dn0 = col("n0").cast("double")
    val auc = col("s10") / dn1
    val var10 = (col("ss10") - col("s10") * col("s10") / dn1) / (dn1 - 1)
    val var01 = (col("ss01") - col("s01") * col("s01") / dn0) / (dn0 - 1)
    val se = sqrt(var10 / dn1 + var01 / dn0)
    // n1<=1 or n0<=1 makes an (n-1) divisor zero — the CI is undefined,
    // so emit the null contract (nbFit/wilcoxonSigned precedent), never
    // NaN/Infinity.
    val ok = col("n1") > 1 && col("n0") > 1
    m.select(col("n1").as("n_pos"), col("n0").as("n_neg"),
      round(auc, 6).as("auc"),
      when(ok, round(se, 6)).as("se_delong"),
      when(ok, round(auc - lit(1.959964) * se, 6)).as("ci_lo"),
      when(ok, round(auc + lit(1.959964) * se, 6)).as("ci_hi"))
  }

  /** Benford's-law audit of a positive decimal measure: observed
    * leading-digit shares vs log10(1+1/d), with the per-digit χ² term.
    * The leading digit comes from the decimal's string form (exact —
    * no float log in the binning); the 1..9 spine restores zero-count
    * digits. One map-side-combined shuffle to ≤9 rows.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val obs = df.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(substring(col(valueCol).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("c"))
    val spine = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val f = spine.join(obs, Seq("digit"), "left").na.fill(0L, Seq("c"))
      .crossJoin(broadcast(obs.agg(sum(col("c")).as("n"))))
    val p = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val dn = col("n").cast("double"); val dc = col("c").cast("double")
    f.select(col("digit"), col("c").as("n_obs"),
      round(dc / dn, 6).as("obs_share"),
      round(p, 6).as("exp_share"),
      round((dc - dn * p) * (dc - dn * p) / (dn * p), 6).as("chi2_term"))
      .orderBy("digit")
  }

  /** Market-basket association rules over order baskets: for every pair
    * of part brands co-occurring in an order, support, directional
    * confidence, and lift from exact counts (one double division each).
    * The basket set collapses to DISTINCT (order, brand) first, so the
    * self-join shuffles both sides co-partitioned on the order key and
    * pair counts combine map-side to brand² rows; brand marginals are
    * brand-sized and broadcast back onto the pairs.
    */
  /** order → distinct brand set, ONE shuffle (set-union partials map-
    * side), persisted so pairs/marginals/totals derive without re-scans.
    * Baskets are bounded (≤ distinct brands) — the downstream pair
    * expansion is a small constant, not a skew risk.
    */
  private def brandBaskets(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ok"))
      .agg(collect_set(col("p_brand")).as("bs"))
      .persistTracked()

  def assocRules(lineitem: DataFrame, part: DataFrame): DataFrame = {
    // The basket build is the only corpus-sized stage; everything below
    // reads the cached frame — the self-join form this replaced scanned
    // lineitem four times and shuffled pair-exploded rows.
    val baskets = brandBaskets(lineitem, part)
    val pairs = baskets
      .select(explode(expr(
        "filter(flatten(transform(bs, a -> transform(bs, b -> struct(a, b)))),"
          + " p -> p.a < p.b)")).as("p"))
      .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    val marg = baskets.select(explode(col("bs")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("nb"))
    val tot = baskets.agg(count(lit(1)).as("n_orders"))
    val f = pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"),
        col("nb").as("na"))), Seq("brand_a"))
      .join(broadcast(marg.select(col("brand").as("brand_b"),
        col("nb").as("nb"))), Seq("brand_b"))
      .crossJoin(broadcast(tot))
    val dab = col("n_ab").cast("double"); val dn = col("n_orders").cast("double")
    val dna = col("na").cast("double"); val dnb = col("nb").cast("double")
    f.select(col("brand_a"), col("brand_b"), col("n_ab"),
      round(dab / dn, 6).as("support"),
      round(dab / dna, 6).as("conf_ab"),
      round((dab * dn) / (dna * dnb), 6).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  /** Triangle census of the positively-associated co-purchase graph:
    * edges are brand pairs with lift > 1, decided by EXACT integer
    * cross-multiplication (n_ab·n_orders > n_a·n_b in DECIMAL — no float
    * threshold to flip at the boundary), triangles by the ordered
    * two-hop join (a<b<c), and the global clustering coefficient
    * 3T / Σ deg·(deg−1)/2 as one final double division. The basket
    * build is the only corpus-sized stage; the graph itself is
    * brand-bounded, so the triangle joins run on broadcast-scale frames.
    */
  def coPurchaseTriangles(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val baskets = brandBaskets(lineitem, part)
    val pairs = baskets
      .select(explode(expr(
        "filter(flatten(transform(bs, a -> transform(bs, b -> struct(a, b)))),"
          + " p -> p.a < p.b)")).as("p"))
      .groupBy(col("p.a").as("u"), col("p.b").as("v"))
      .agg(count(lit(1)).as("n_ab"))
    val marg = baskets.select(explode(col("bs")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("nb"))
    val tot = baskets.agg(count(lit(1)).as("n_orders"))
    val edges = pairs
      .join(broadcast(marg.select(col("brand").as("u"), col("nb").as("na"))),
        Seq("u"))
      .join(broadcast(marg.select(col("brand").as("v"), col("nb").as("nb"))),
        Seq("v"))
      .crossJoin(broadcast(tot))
      .filter(col("n_ab").cast(DecimalType(38, 0)) * col("n_orders") >
        col("na").cast(DecimalType(38, 0)) * col("nb"))
      .select(col("u"), col("v"))
      .persistTracked()
    val tri = edges.select(col("u").as("a"), col("v").as("b"))
      .join(edges.select(col("u").as("b"), col("v").as("c")), Seq("b"))
      .join(edges.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_triples"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        when(col("n_triples") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_triples").cast("double"), 6)).as("clustering_coeff"))
  }

  /** Weighted quartiles (type-1, no interpolation): the smallest value
    * whose cumulative WEIGHT crosses p·W, decided by exact integer
    * cross-multiplication (4·cumw ≥ W etc.) — zero float anywhere, fully
    * deterministic under ties. Runs on the weighted cumulative engine,
    * so no single-task stage at any value cardinality. The everyday use:
    * "the median selling price weighted by units moved", which a
    * row-median gets wrong whenever big orders cluster at one price.
    */
  def weightedPercentiles(df: DataFrame, valueCol: String,
                          weightCol: String): DataFrame = {
    val cum = cumulativeValueWeights(
      df.filter(col(weightCol).isNotNull)
        .select(col(valueCol), col(weightCol)),
      Nil, valueCol, col(weightCol).cast("long"))
    cum.agg(max(col("n")).as("tw"),
      min(when(lit(4L) * col("cum") >= col("n"), col("v"))).as("wp25"),
      min(when(lit(2L) * col("cum") >= col("n"), col("v"))).as("wp50"),
      min(when(lit(4L) * col("cum") >= lit(3L) * col("n"), col("v")))
        .as("wp75"))
      .select(col("tw").cast("long").as("total_weight"),
        col("wp25"), col("wp50"), col("wp75"))
  }

  /** Quantile normalization: each row's value mapped to its corpus CDF
    * position via the tie-averaged rank identity (q = (2·cum−c+1)/(2n),
    * mid-rank convention — exact integers until one division). The rank
    * map is the distinct-value frame from the range-partitioned
    * cumulative engine joined back onto the rows: no per-row sort, no
    * single-task stage — the feature-scaling step a 100 TB training
    * pipeline runs before mixing heterogeneous quality scores. Output
    * bounded to the first `limitIds` ids for the gate; ranks are
    * computed over the FULL corpus first.
    */
  def quantileNormalize(df: DataFrame, idCol: String, valueCol: String,
                        limitIds: Long): DataFrame = {
    val ranks = cumulativeValueCounts(df.select(col(valueCol)), Nil, valueCol)
      .select(col("v"), col("c"), col("cum"), col("n"))
    df.select(col(idCol), col(valueCol).cast("double").as("v"))
      .join(ranks, Seq("v"))
      .filter(col(idCol) < limitIds)
      .select(col(idCol), col("v").as(valueCol),
        round((lit(2L) * col("cum") - col("c") + 1).cast("double") /
          (lit(2L) * col("n")).cast("double"), 6).as("q"))
      .orderBy(idCol)
  }

  /** Spearman rank correlation with ties: each row gets its column's
    * tie-averaged rank DOUBLED (2·avgrank = 2·cum−c+1, an integer — the
    * [[aucRank]] identity), so the whole computation is Pearson over
    * integer doubled-ranks: exact DECIMAL moments, one final double
    * tree. No per-row sort AND no single-task stage: ranks come from the
    * DISTINCT-value frames through the range-partitioned
    * [[cumulativeValueCounts]] engine (the high-cardinality-safe path —
    * l_extendedprice has too many distinct values for a global window),
    * shuffle-joined back onto the rows; the doubling cancels in the
    * correlation, so the result equals textbook tie-corrected Spearman ρ.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def rankMap(c: String) =
      cumulativeValueCounts(
        df.filter(col(xCol).isNotNull && col(yCol).isNotNull).select(col(c)),
        Nil, c)
        .select(col("v"), (lit(2L) * col("cum") - col("c") + 1).as("r2"))
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("xv"),
        col(yCol).cast("double").as("yv"))
      .join(rankMap(xCol).select(col("v").as("xv"), col("r2").as("rx")),
        Seq("xv"))
      .join(rankMap(yCol).select(col("v").as("yv"), col("r2").as("ry")),
        Seq("yv"))
    val a = rows.agg(count(lit(1)).as("n"),
      sum(col("rx")).as("sx"),
      sum(col("rx").cast(DecimalType(18, 0)) *
        col("rx").cast(DecimalType(18, 0))).as("sxx"),
      sum(col("ry")).as("sy"),
      sum(col("ry").cast(DecimalType(18, 0)) *
        col("ry").cast(DecimalType(18, 0))).as("syy"),
      sum(col("rx").cast(DecimalType(18, 0)) *
        col("ry").cast(DecimalType(18, 0))).as("sxy"))
    val dn = col("n").cast("double")
    val dsx = col("sx").cast("double"); val dsxx = col("sxx").cast("double")
    val dsy = col("sy").cast("double"); val dsyy = col("syy").cast("double")
    val dsxy = col("sxy").cast("double")
    val varx = dn * dsxx - dsx * dsx
    val vary = dn * dsyy - dsy * dsy
    a.select(col("n").as("n_rows"),
      when(varx > 0 && vary > 0,
        round((dn * dsxy - dsx * dsy) / sqrt(varx * vary), 6)).as("rho"))
  }

  /** Wald–Wolfowitz runs test on the daily revenue DIRECTION (up/down
    * day-over-day, zero changes dropped): n₊, n₋, the run count R from
    * one lag pass, and z = (R − μ)/σ with μ = 2n₊n₋/n + 1 — everything
    * exact integers until the final double tree. Both lag windows run
    * over the calendar-bounded day spine.
    */
  def runsTest(orders: DataFrame): DataFrame = {
    val daily = dailyCents(orders, "yc", DecimalType(18, 0))
    val w = Window.orderBy("day")
    val signs = daily
      .withColumn("s", signum((col("yc") - lag(col("yc"), 1).over(w))
        .cast("double")).cast("long"))
      .filter(col("s") =!= 0)
    val runs = signs
      .withColumn("chg",
        when(lag(col("s"), 1).over(w).isNull ||
          col("s") =!= lag(col("s"), 1).over(w), 1L).otherwise(0L))
    val a = runs.agg(
      sum(when(col("s") > 0, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_neg"),
      sum(col("chg")).as("n_runs"))
    val dp = col("n_pos").cast("double"); val dm = col("n_neg").cast("double")
    val dn = dp + dm
    val a2 = lit(2.0) * dp * dm
    val mu = a2 / dn + 1.0
    val dv = (a2 * (a2 - dn)) / (dn * dn * (dn - 1))
    a.select(col("n_pos"), col("n_neg"), col("n_runs"),
      when(col("n_pos") > 0 && col("n_neg") > 0 && dv > 0,
        round((col("n_runs").cast("double") - mu) / sqrt(dv), 6)).as("z"))
  }

  /** Multiplicative day-of-week seasonality of revenue: each ISO weekday's
    * mean daily revenue over the overall mean daily revenue, from exact
    * integer-cents sums (index = s_dow·N / (n_dow·S), one double tree).
    * Two map-side-combined aggregations: day cardinality, then ≤7 rows.
    */
  def dowSeasonality(orders: DataFrame): DataFrame = {
    val daily = dailyCents(orders, "yc", DecimalType(18, 0))
    val byDow = daily
      .groupBy((weekday(col("day")) + 1).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("yc")).as("s"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("yc")).as("st"))
    val f = byDow.crossJoin(broadcast(tot))
    val ds = col("s").cast("double"); val dn = col("n_days").cast("double")
    val dst = col("st").cast("double"); val dnt = col("n").cast("double")
    f.select(col("dow"), col("n_days"),
      round(ds / dn / lit(100.0), 6).as("avg_rev"),
      round((ds * dnt) / (dn * dst), 6).as("index"))
      .orderBy("dow")
  }

  /** Seasonality-adjusted daily anomaly detection: daily event counts are
    * divided by their day-of-week multiplicative index (so a quiet Sunday
    * isn't an "anomaly" every week), then z-scored against the adjusted
    * series; days with |z| > 2 are flagged. The alerting companion to
    * q_dow_seasonality/q_changepoint — the monitor that pages on a real
    * spike, not on the weekly rhythm.
    *
    * Cross-engine determinism: adjusted = y·n_dow·S/(s_dow·N) as ONE
    * double expression tree (identical IEEE evaluation both engines),
    * rounded to 9dp; mean and second moment fold the ROUNDED values as
    * DECIMAL(28,9) sums (order-independent, far from the 38 cap — adj²
    * is re-rounded in double first precisely to avoid a decimal×decimal
    * precision blowup). z rounds to 6dp; the |z| > 2 cut compares
    * identical doubles. Population std, documented.
    *
    * Scale: everything after the one map-side-combined daily aggregate
    * runs on the day-cardinality spine (dow index ≤ 7 rows, totals
    * scalar, z a map over days).
    */
  def dailyAnomalies(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val byDow = daily.groupBy((weekday(col("day")) + 1).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("st"))
    val adj = daily
      .select(col("day"), col("y"), (weekday(col("day")) + 1).as("dow"))
      .join(broadcast(byDow), Seq("dow"))
      .crossJoin(broadcast(tot))
      .select(col("day"), col("dow"), col("y"),
        round(col("y").cast("double") * col("n_days").cast("double") *
          col("st").cast("double") /
          (col("s").cast("double") * col("n").cast("double")), 9).as("adj"))
    val m = adj.agg(count(lit(1)).as("nd"),
      sum(col("adj").cast(DecimalType(28, 9))).as("sa"),
      sum(round(col("adj") * col("adj"), 9).cast(DecimalType(28, 9))).as("sa2"))
    val mean = col("sa").cast("double") / col("nd").cast("double")
    val variance = col("sa2").cast("double") / col("nd").cast("double") -
      mean * mean
    adj.crossJoin(broadcast(m))
      .select(col("day"), col("dow"), col("y"), round(col("adj"), 6).as("adj"),
        round((col("adj") - mean) / sqrt(variance), 6).as("z"))
      .filter(abs(col("z")) > 2.0)
      .orderBy("day")
  }

  /** CUSUM changepoint on the daily revenue series: the day t maximizing
    * |Σ_{i≤t}(y_i − μ)|, computed exactly as D_t = N·prefix_t − t·S in
    * integer cents (same argmax as the float CUSUM, zero float until the
    * reported magnitude) — ties break to the earliest day. The cumsum
    * window runs over the calendar-bounded day spine; everything after
    * is one ORDER BY abs LIMIT 1 on that spine.
    */
  def cusumChangepoint(orders: DataFrame): DataFrame = {
    val daily = dailyCents(orders, "yc", DecimalType(18, 0))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("pre", sum(col("yc")).over(w))
      .withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("yc")).as("s"))
    cum.crossJoin(broadcast(tot))
      .withColumn("dt", (col("n").cast(DecimalType(38, 0)) * col("pre") -
        col("t").cast(DecimalType(38, 0)) * col("s")).cast(DecimalType(38, 0)))
      .orderBy(abs(col("dt")).desc, col("day").asc)
      .limit(1)
      .select(col("day"), col("n").as("n_days"),
        round(col("dt").cast("double") / col("n").cast("double") / lit(100.0), 6)
          .as("cusum"))
  }

  /** PageRank over the in-session event-type transition graph (damping
    * 0.85, 10 iterations), in EXACT integer parts-per-million: ranks and
    * per-edge contributions use only integer multiply and floor division,
    * so the fixed point is bit-identical across engines and partitionings
    * — no float accumulation to drift. Dangling nodes (no out-edges) leak
    * their damped mass by design; the teleport term keeps them ranked.
    * The graph is event-type-sized, so each iteration is a tiny shuffle;
    * the corpus-sized work is the one sessionized lag pass.
    */
  def pagerankTransitions(events: DataFrame, iters: Int = 10): DataFrame = {
    // Edges are event-type²-sized — dimension-class, so the rounds take
    // the bounded-driver branch (Graph.weightedRank: identical
    // fixed-point scheme, one DriverEdgeLimit probe pass over the
    // UNPERSISTED sessionize chain, no per-round jobs — the r12
    // scheduling-overhead fix). A transition graph past the limit (or a
    // non-string node type) degrades to Graph's shared gated-broadcast
    // distributed loop, which persists the graph so the 10 iterations
    // never re-run the corpus-sized sessionize+lag pass.
    val edges = sessionTransitions(events).select("src", "dst", "n")
    val ranks = Graph.weightedRank(edges, iters)
    ranks
      .select(col("node"), col("rank").cast("long").as("rank_ppm"),
        round(col("rank").cast("double") / lit(1000000.0), 6).as("share"))
      .orderBy("node")
  }

  /** The sessionize/lag/count transition CTE chain shared by the
    * q_session_transitions oracle and [[pagerankSql]]. Yields (src, dst, n).
    */
  private val transitionEdgesSql: String =
    """tr_e AS (
      | SELECT user_id, event_id, event_type,
      |  date_trunc('second', ts) AS ts FROM events),
      |tr_g AS (
      | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
      | FROM tr_e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tr_s AS (
      | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      | FROM tr_g),
      |tr_t AS (
      | SELECT event_type AS dst, lag(event_type) OVER (
      |   PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS src
      | FROM tr_s),
      |edges AS (
      | SELECT src, dst, count(*) AS n FROM tr_t
      | WHERE src IS NOT NULL GROUP BY 1, 2)""".stripMargin

  /** The DuckDB twin of [[pagerankTransitions]]: the bounded iteration
    * count unrolls into one CTE per step (recursive CTEs disallow the
    * per-step GROUP BY), each repeating the identical integer floor-div
    * update — exact, so no float-parity concern at any depth.
    */
  private def pagerankSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s""",
         |r$k AS (
         | SELECT nodes.node, 150000 // nn.nn + coalesce(c.c, 0) AS rank
         | FROM nodes CROSS JOIN nn LEFT JOIN (
         |   SELECT e.dst, sum((850 * r${k - 1}.rank * e.n) // (1000 * w.wout)) AS c
         |   FROM edges e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |    JOIN w ON w.src = e.src
         |   GROUP BY 1) c ON c.dst = nodes.node)""".stripMargin
    }.mkString
    s"""WITH $transitionEdgesSql,
       |w AS (SELECT src, sum(n) AS wout FROM edges GROUP BY 1),
       |nodes AS (
       | SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |r0 AS (SELECT node, 1000000 // nn AS rank FROM nodes CROSS JOIN nn)$iterCtes
       |SELECT node, CAST(rank AS BIGINT) AS rank_ppm,
       | round(CAST(rank AS DOUBLE) / 1000000.0, 6) AS share
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Σ of ranks occupied by a distinct value, doubled: c·(2·cum−c+1). */
  private def giniRankTerm: Column =
    col("c").cast(DecimalType(38, 0)) *
      (lit(2L) * col("cum") - col("c") + lit(1L)).cast(DecimalType(38, 0))

  /** G = S2/(n·Σx) − (n+1)/n from the exact decimal moments, 6dp. */
  private def giniFromMoments: Column = {
    val nD = col("n_rows").cast("double")
    round(col("s2d").cast("double") / (nD * col("sxd").cast("double"))
      - (nD + 1) / nD, 6)
  }

  /** CUPED moment fold over a purchase-events frame: per-user pre/post
    * half-window spend (x, y) in exact cents, θ = cov/var and the
    * adjusted variance from one decimal-exact moment pass. See q_cuped.
    */
  def cuped(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val mid = ev.agg(((min(col("day")) + max(col("day"))) / 2)
      .cast("long").as("mid"))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("day") <= col("mid"), col("cents"))), lit(0L)).as("x"),
        coalesce(sum(when(col("day") > col("mid"), col("cents"))), lit(0L)).as("y"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    val nD = dec(col("n"))
    val a = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
    val n2 = col("n").cast("double") * col("n").cast("double")
    m.select(col("n").as("n_users"),
      when(vx > 0, round(a / vx, 6)).as("theta"),
      round(vy / n2 / 10000.0, 6).as("var_y"),
      when(vx > 0, round((vy - a * a / vx) / n2 / 10000.0, 6)).as("var_adj"),
      when(vx > 0 && vy > 0, round(a * a / vx / vy * 100.0, 6))
        .as("var_reduction_pct"))
  }

  /** CLUSTER-RANDOMIZATION DESIGN EFFECT (Kish 1965; Donner & Klar for
    * the ANOVA ICC estimator): when treatment must be assigned at
    * cluster grain (here: customer nation — think geo/store/team
    * rollouts), the effective sample size shrinks by
    * deff = 1 + (m̄−1)·ICC, with ICC from the one-way ANOVA moments
    * (MSB−MSW)/(MSB+(n0−1)·MSW). This is the number that says whether a
    * cluster-randomized test is even worth running — q_power_curve's
    * per-arm n divides by it.
    *
    * Exactness: the q_anova_lang recipe — per-cluster exact integer
    * moments (dollar-valued longs), the sg²/ng terms 6dp-decimal-folded
    * across the cluster frame, one shared float tree at the end.
    *
    * Scale posture: one fact pass (orders ⋈ customer on custkey) to the
    * cluster-cardinality moment frame, map-side combined; everything
    * after is arithmetic on one row. Clusters are the report grain, so
    * the frame is small by definition.
    */
  def designEffect(orders: DataFrame, customer: DataFrame): DataFrame = {
    val j = orders
      .select(col("o_custkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("v"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val g = j.groupBy("c_nationkey").agg(count(lit(1)).as("ng"),
      sum(dec(col("v"))).as("sg"), sum(dec(col("v")) * dec(col("v"))).as("qg"))
    val terms = g.select(col("ng"), col("sg"), col("qg"),
      round(col("sg").cast("double") * col("sg").cast("double")
        / col("ng").cast("double"), 6).cast(DecimalType(28, 6)).as("tg"),
      (col("ng") * col("ng")).as("ng2"))
    val a = terms.agg(count(lit(1)).as("gk"), sum("ng").as("n"),
      sum("sg").as("s"), sum("qg").as("q"), sum("tg").as("t"),
      sum("ng2").as("n2"))
    val nD = col("n").cast("double")
    val gD = col("gk").cast("double")
    val ssb = col("t").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nD
    val ssw = col("q").cast("double") - col("t").cast("double")
    val msb = ssb / (gD - 1.0)
    val msw = ssw / (nD - gD)
    val n0 = (nD - col("n2").cast("double") / nD) / (gD - 1.0)
    val icc = (msb - msw) / (msb + (n0 - 1.0) * msw)
    val mbar = nD / gD
    val deff = lit(1.0) + (mbar - 1.0) * icc
    a.select(col("gk").as("g_clusters"), col("n").as("n_rows"),
      round(mbar, 6).as("mean_cluster_size"), round(n0, 6).as("n0"),
      when(col("gk") > 1 && ssw > 0, round(icc, 6)).as("icc"),
      when(col("gk") > 1 && ssw > 0, round(deff, 6)).as("deff"))
  }

  /** DELETE-ONE-BUCKET JACKKNIFE for a ratio metric (Quenouille/Tukey;
    * the delete-a-group variant that ships in production experiment
    * platforms): users hash into B buckets; θ_(b) = the revenue-per-
    * event ratio with bucket b removed; SE² = (B−1)/B · Σ(θ_(b)−θ̄)².
    * The DESIGN-BASED companion to q_ratio_ci's delta-method CI — same
    * metric, no linearization assumption; agreement between the two is
    * itself the validation readout.
    *
    * Determinism: bucket sums are exact integers; each θ_(b) is one
    * double expression, 6dp-decimal-rounded before the (exact) Σ and
    * mean; squared deviations fold as 10dp decimals (values ~1e-3, well
    * inside double precision, order-independent). Rounding noise enters
    * at 1e-6 on θ ~ tens-of-dollars values — far below the SE itself.
    *
    * Scale posture: one fact pass to user-cardinality, one shuffle to
    * the B-row bucket frame; everything after is B-row arithmetic with
    * broadcast scalars. B is the only knob: more buckets = finer
    * variance resolution, same plan shape.
    */
  def jackknifeRatio(events: DataFrame, buckets: Int = 32): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val per = events.filter(col("value").isNotNull)
      .select(col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("xc"))
      .groupBy("user_id").agg(sum("xc").as("x"), count(lit(1)).as("y"))
    val b = per.select(
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"), col("x"), col("y"))
      .groupBy("b").agg(sum("x").as("sx"), sum("y").as("sy"))
    val tot = b.agg(sum("sx").as("tx"), sum("sy").as("ty"))
    val th = (col("tx") - col("sx")).cast("double") /
      (col("ty") - col("sy")).cast("double") / 100.0
    val jr = b.crossJoin(broadcast(tot))
      .select(round(th, 6).cast(DecimalType(18, 6)).as("thr"))
      .persistTracked()
    val m1 = jr.agg(count(lit(1)).as("bn"), sum("thr").as("s1"))
    val dev = col("thr").cast("double") -
      col("s1").cast("double") / col("bn").cast("double")
    val v = jr.crossJoin(broadcast(m1))
      .agg(max(col("bn")).as("bn"),
        sum(round(dev * dev, 10).cast(DecimalType(28, 10))).as("sdev"))
    val varJ = (col("bn").cast("double") - 1.0) / col("bn").cast("double") *
      col("sdev").cast("double")
    val se = sqrt(greatest(varJ, lit(0.0)))
    val r = col("tx").cast("double") / col("ty").cast("double") / 100.0
    v.crossJoin(broadcast(tot))
      .select(col("bn").cast("long").as("n_buckets"),
        round(r, 6).as("ratio"), round(se, 6).as("se"),
        round(r - lit(1.96) * se, 6).as("lo"),
        round(r + lit(1.96) * se, 6).as("hi"))
  }

  /** ALWAYS-VALID SEQUENTIAL TEST (mSPRT; Johari, Koomen, Pekelis &
    * Walsh 2017) — the "peeking-safe" monitor the fixed-n q_ab_test
    * readout cannot provide: the day-by-day log mixture likelihood
    * ratio for the two-arm conversion difference under a normal mixture
    * prior τ, with the ever-crossed decision flag. Peeking at q_ab_test
    * daily inflates false positives; the mSPRT trajectory is valid at
    * EVERY stopping time:
    *   llr_n = ½·ln(σ²/(σ²+τ²)) + δ²·τ² / (2σ²(σ²+τ²)),
    * σ² = pooled p(1−p)(1/n_c+1/n_t) at day-n cumulative counts, δ =
    * rate difference, crossing at llr ≥ ln(1/α). Pre-conversion days
    * (pooled rate 0 or 1 ⇒ σ² = 0) yield null llr and don't cross.
    *
    * Determinism: cumulative counts are exact integers (window sums on
    * the day spine); the float tree (ln/sqrt-free: ln, mult, div) is
    * evaluated identically on both engines per row.
    *
    * Scale posture: one fact pass to per-user firsts (map-side
    * combined, user-cardinality), one groupBy to the ≤|days|×2 frame;
    * all windows run on the day spine (calendar-bounded). The mixture
    * parameter τ and threshold are literals — no driver state.
    */
  def msprt(events: DataFrame, tau: Double = 0.01,
            alpha: Double = 0.05): DataFrame = {
    val arm = when(
      conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 2 === 0, "c").otherwise("t")
    val perUser = events
      .select(col("user_id"), to_date(col("ts")).as("dt"), col("event_type"))
      .groupBy("user_id")
      .agg(min(col("dt")).as("first_dt"),
        min(when(col("event_type") === "purchase", col("dt"))).as("conv_dt"))
      .withColumn("arm", arm)
    val joins = perUser.groupBy(col("first_dt").as("dt"), col("arm"))
      .agg(count(lit(1)).as("joined"))
    val convs = perUser.filter(col("conv_dt").isNotNull)
      .groupBy(col("conv_dt").as("dt"), col("arm"))
      .agg(count(lit(1)).as("converted"))
    // complete day×arm grid so every cumulative series has a row per day
    val arms = events.sparkSession.range(1)
      .select(explode(array(lit("c"), lit("t"))).as("arm"))
    val grid = events.select(to_date(col("ts")).as("dt")).distinct()
      .crossJoin(broadcast(arms))
    val byDay = grid
      .join(joins, Seq("dt", "arm"), "left")
      .join(convs, Seq("dt", "arm"), "left")
      .na.fill(0L, Seq("joined", "converted"))
    val spine = org.apache.spark.sql.expressions.Window
      .partitionBy("arm").orderBy("dt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = byDay.select(col("dt"), col("arm"),
        sum("joined").over(spine).as("n"),
        sum("converted").over(spine).as("x"))
      .groupBy("dt")
      .agg(max(when(col("arm") === "c", col("n"))).as("n_c"),
        max(when(col("arm") === "c", col("x"))).as("x_c"),
        max(when(col("arm") === "t", col("n"))).as("n_t"),
        max(when(col("arm") === "t", col("x"))).as("x_t"))
    val nc = col("n_c").cast("double")
    val nt = col("n_t").cast("double")
    val p = (col("x_c") + col("x_t")).cast("double") / (nc + nt)
    val s2 = p * (lit(1.0) - p) * (lit(1.0) / nc + lit(1.0) / nt)
    val dlt = col("x_t").cast("double") / nt - col("x_c").cast("double") / nc
    val t2 = lit(tau * tau)
    val llr = lit(0.5) * log(s2 / (s2 + t2)) +
      dlt * dlt * t2 / (lit(2.0) * s2 * (s2 + t2))
    val dayW = org.apache.spark.sql.expressions.Window.orderBy("dt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow) // day spine
    cum.select(col("dt"), col("n_c"), col("x_c"), col("n_t"), col("x_t"),
        when(s2 > 0, round(llr, 6)).as("llr"),
        when(s2 > 0, llr >= math.log(1.0 / alpha)).otherwise(lit(false))
          .as("sig_today"))
      .withColumn("crossed",
        max(col("sig_today").cast("int")).over(dayW) === 1)
      .orderBy("dt")
  }

  /** SIMPSON'S-PARADOX REVERSAL DETECTOR (Simpson 1951; the aggregation
    * trap every dashboard comparison is exposed to): compares a metric
    * between two cohorts both POOLED and WITHIN each stratum, and flags
    * strata whose effect direction opposes the pooled direction — the
    * signature of a confounded comparison (cohort mix differing across
    * strata). Here: mean order value, segment `segA` vs `segB`,
    * stratified by order priority. `opposes_pooled` is the per-stratum
    * flag; a report where every stratum opposes the pooled row is the
    * full paradox (exercised with planted data in Round9Spec — the
    * natural corpus is too uniform to reverse).
    *
    * Exactness: means are exact cent sums over exact counts, one double
    * division per cell; the sign test multiplies two such doubles —
    * no float accumulation anywhere.
    *
    * Scale posture: one fact pass (orders ⋈ customer on custkey — the
    * dim side filtered to two segments before the join, so AQE
    * broadcast-plans it at warehouse scale) down to a
    * stratum-cardinality count frame; the pooled row and its diff are
    * broadcast scalars re-joined onto that frame. No windows.
    */
  def simpsonCheck(orders: DataFrame, customer: DataFrame,
                   segA: String = "AUTOMOBILE",
                   segB: String = "BUILDING"): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val j = orders.select(col("o_custkey"),
        col("o_orderpriority").as("stratum"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment"))
        .filter(col("c_mktsegment").isin(segA, segB)),
        col("o_custkey") === col("c_custkey"))
    val isA = col("c_mktsegment") === segA
    val per = j.groupBy("stratum").agg(
        sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA, col("cents")).otherwise(0L)).as("sa"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(!isA, col("cents")).otherwise(0L)).as("sb"))
      .persistTracked()
    val pooled = per.agg(sum("n_a").as("n_a"), sum("sa").as("sa"),
        sum("n_b").as("n_b"), sum("sb").as("sb"))
      .select(lit("pooled").as("stratum"), col("n_a"), col("sa"),
        col("n_b"), col("sb"))
    val ma = col("sa").cast("double") / col("n_a").cast("double") / 100.0
    val mb = col("sb").cast("double") / col("n_b").cast("double") / 100.0
    val all = per.unionByName(pooled)
      .select(col("stratum"), col("n_a"), col("n_b"),
        ma.as("ma"), mb.as("mb"))
    val pd = all.filter(col("stratum") === "pooled")
      .select((col("ma") - col("mb")).as("pooled_diff"))
    all.crossJoin(broadcast(pd))
      .select(col("stratum"), col("n_a"), col("n_b"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round(col("ma") - col("mb"), 6).as("diff"),
        ((col("ma") - col("mb")) * col("pooled_diff") < 0)
          .as("opposes_pooled"))
      .orderBy("stratum")
  }

  /** Post-stratification adjusted lift (the survey-sampling estimator
    * applied to experiment readouts; Miratrix et al. 2013): the pooled
    * treatment−control conversion difference is re-estimated as the
    * stratum-size-weighted sum of WITHIN-stratum differences, removing
    * the covariate imbalance a finite random split leaves behind.
    * Stratum = the user's pre-period activity bucket (events in the
    * first half-window, the q_cuped covariate convention); outcome =
    * post-period purchase; arm = the family's md5 user split. Returns
    * one row per stratum plus `pooled` (unadjusted) and
    * `post_stratified` (adjusted) rows in the same schema.
    *
    * Exactness: all counts are integers; rates are per-row double
    * expressions of them. The adjusted rates/lift are sums over the
    * (tiny) stratum frame — folded as 6dp DECIMAL terms so the sum is
    * order-independent across engines (the q_wasserstein_drift fold).
    * A stratum missing an arm yields null rates and drops from the
    * adjusted fold on both engines (sum skips nulls) rather than
    * poisoning the estimate.
    *
    * Scale posture: one fact pass to a user-keyed aggregate (map-side
    * combined, bounded by user cardinality), then stratum-cardinality
    * frames (broadcast-class) for everything else; the half-window
    * boundary is one broadcast scalar. No windows, no second fact pass.
    */
  def postStrat(events: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val ev = events.select(col("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01")).as("day"),
      col("event_type"))
    val mid = ev.agg(((min(col("day")) + max(col("day"))) / 2)
      .cast("long").as("mid"))
    val arm = when(
      conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 2 === 0, "control").otherwise("treatment")
    val per = ev.crossJoin(broadcast(mid)).groupBy("user_id").agg(
      sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("pre"),
      max(when(col("event_type") === "purchase" && col("day") > col("mid"),
        1L).otherwise(0L)).as("y"))
    val st = per.select(col("y"), arm.as("arm"),
        when(col("pre") <= 28, "pre_low").when(col("pre") <= 36, "pre_mid")
          .otherwise("pre_top").as("stratum"))
      .groupBy("stratum").agg(
        count(lit(1)).as("n"),
        sum(when(col("arm") === "control", 1L).otherwise(0L)).as("nc"),
        sum(when(col("arm") === "control", col("y")).otherwise(0L)).as("xc"),
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("nt"),
        sum(when(col("arm") === "treatment", col("y")).otherwise(0L)).as("xt"))
      .persistTracked()
    val rc = col("xc").cast("double") / col("nc").cast("double")
    val rt = col("xt").cast("double") / col("nt").cast("double")
    def row(scope: Column, df: DataFrame) = df.select(scope.as("scope"),
      col("n").as("n_users"), round(rc, 6).as("rate_c"),
      round(rt, 6).as("rate_t"), round(rt - rc, 6).as("lift"))
    val strata = row(col("stratum"), st)
    val tot = st.agg(sum("n").as("n"), sum("nc").as("nc"),
      sum("xc").as("xc"), sum("nt").as("nt"), sum("xt").as("xt"))
    val pooled = row(lit("pooled"), tot)
    val totN = tot.select(col("n").as("tn"))
    val w = col("n").cast("double") / col("tn").cast("double")
    def fold(e: Column) = sum(round(w * e, 6).cast(DecimalType(18, 6)))
      .cast("double")
    val adjusted = st.crossJoin(broadcast(totN))
      .agg(max(col("tn")).as("n_users"), fold(rc).as("rate_c"),
        fold(rt).as("rate_t"), fold(rt - rc).as("lift"))
      .select(lit("post_stratified").as("scope"), col("n_users"),
        col("rate_c"), col("rate_t"), col("lift"))
    strata.unionByName(pooled).unionByName(adjusted).orderBy("scope")
  }

  /** The duration spine Kaplan-Meier and Nelson-Aalen fold over: one row
    * per distinct user span `dur` (days from a user's first to last
    * event) with `d` uncensored spans ending there, `n_ending` all spans
    * ending there and `n_at_risk` the spans still open at its start. A
    * span ending on the corpus's last day is right-censored.
    */
  private def survivalByDuration(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), to_date(col("ts")).as("dt"))
    val mx = ev.agg(max(col("dt")).as("mx"))
    val per = ev.crossJoin(broadcast(mx))
      .groupBy("user_id")
      .agg(datediff(max(col("dt")), min(col("dt"))).as("dur"),
        (max(col("dt")) === max(col("mx"))).as("censored"))
    val byDur = per.groupBy("dur")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("n_ending"))
    val wPrev = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = per.agg(count(lit(1)).as("n_total"))
    byDur.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum(col("n_ending")).over(wPrev), lit(0L)))
  }

  /** Kaplan-Meier fold over an events frame (see q_kaplan_meier): spans
    * ending on the corpus boundary are right-censored; the product folds
    * as a cumulative DECIMAL sum of 6dp ln terms on the duration spine.
    */
  def kaplanMeier(events: DataFrame): DataFrame = {
    val w = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalByDuration(events)
      .withColumn("term",
        when(col("d") < col("n_at_risk"),
          round(log(lit(1.0) - col("d").cast("double") /
            col("n_at_risk").cast("double")), 6))
          .otherwise(0.0).cast(DecimalType(18, 6)))
      .withColumn("dead", max((col("d") === col("n_at_risk")).cast("int"))
        .over(w))
      .withColumn("cuml", sum(col("term")).over(w))
      .filter(col("d") > 0)
      .select(col("dur"), col("n_at_risk"), col("d"),
        when(col("dead") === 1, 0.0)
          .otherwise(round(exp(col("cuml").cast("double")), 6))
          .as("survival"))
      .orderBy("dur")
  }

  /** RESTRICTED MEAN SURVIVAL TIME (RMST; Royston & Parmar 2013's
    * recommended KM summary): the area under the Kaplan-Meier curve up
    * to horizon τ — "expected days retained within the first τ" — the
    * single-number retention metric that stays defined under censoring
    * where a plain mean lifetime does not. Left-endpoint step
    * rectangles over the KM spine (S is a step function, so this is
    * exact, not a quadrature), clamped at τ, plus the censored tail
    * rectangle S(t_last)·(τ − t_last).
    *
    * Exactness: survival values are the already-6dp KM outputs; each
    * rectangle rounds to 6dp DECIMAL before the spine-bounded fold.
    * Scale posture: everything runs on the distinct-duration spine the
    * KM fit already produces — the only corpus pass is KM's own.
    */
  def rmst(events: DataFrame, tau: Int = 14): DataFrame = {
    val km = kaplanMeier(events).select(col("dur"), col("survival"))
    val w = Window.orderBy("dur")
    val prevS = lag(col("survival"), 1, 1.0).over(w)
    val prevD = lag(col("dur"), 1, 0).over(w)
    val terms = km.select(
      when(prevD < tau,
        round(prevS * (least(col("dur"), lit(tau)) - prevD).cast("double"),
          6)).otherwise(0.0).cast(DecimalType(18, 6)).as("t"))
      .agg(count(lit(1)).as("n_steps"),
        sum(col("t")).cast("double").as("st"))
    val tail = km.orderBy(desc("dur")).limit(1)
      .select(when(col("dur") < tau,
        round(col("survival") * (lit(tau) - col("dur")).cast("double"), 6))
        .otherwise(0.0).cast(DecimalType(18, 6)).as("tail_t"))
    terms.crossJoin(broadcast(tail))
      .select(lit(tau).as("tau"), col("n_steps"),
        round(col("st") + col("tail_t").cast("double"), 6).as("rmst_days"),
        round((col("st") + col("tail_t").cast("double")) / tau.toDouble, 6)
          .as("rmst_share"))
  }

  /** KRUSKAL–WALLIS rank test (Kruskal & Wallis 1952): the k-group
    * generalization of the Mann-Whitney AUC already shipped — does a
    * numeric column's DISTRIBUTION differ across k slices, with no
    * normality assumption (the ANOVA F beside it assumes it)?
    *
    * Rank machinery is the [[aucRank]] identity on the distinct-value
    * count frame: a value v spanning mid-ranks has 2·avgrank =
    * 2·cum − c + 1, so the per-group DOUBLED rank sum
    * R2_g = Σ_v cg·(2·cum_v − c_v + 1) is an exact integer, and
    * H = 12/(N(N+1)) · Σ_g (R2_g/2)²/n_g − 3(N+1) needs float only in
    * the per-group term (rounded 6dp, DECIMAL-summed — order-safe).
    * Tie correction C = 1 − Σ(c³−c)/(N³−N) from the same value frame.
    *
    * Scale posture: one shuffle to group×value cardinality, one to value
    * cardinality; the cumsum window runs over DISTINCT values (bounded
    * by the value domain — the ksTest spine argument), never corpus
    * rows; k-sized and scalar frames finish the job.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: Column): DataFrame = {
    val v = valueCol.cast("long")
    val base = df.filter(col(groupCol).isNotNull && v.isNotNull)
      .select(col(groupCol).as("g"), v.as("v"))
    val gv = base.groupBy("g", "v").agg(count(lit(1)).as("cg"))
      .persistTracked()
    val vf = gv.groupBy("v").agg(sum(col("cg")).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rg = gv.join(vf, Seq("v"))
      .groupBy("g")
      .agg(sum(col("cg")).as("ng"),
        sum(col("cg") * (lit(2L) * col("cum") - col("c") + lit(1L)))
          .as("r2"))
    val dr2 = col("r2").cast("double")
    val terms = rg.select(col("ng"),
      round(dr2 * dr2 / (lit(4.0) * col("ng").cast("double")), 6)
        .cast(DecimalType(28, 6)).as("tg"))
    val ties = vf.agg(
      sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
    val a = terms
      .agg(count(lit(1)).as("k_groups"), sum(col("ng")).as("n_rows"),
        sum(col("tg")).as("t"))
      .crossJoin(broadcast(ties))
    val dn = col("n_rows").cast("double")
    val h = lit(12.0) * col("t").cast("double") / (dn * (dn + 1)) -
      lit(3.0) * (dn + 1)
    val cTie = lit(1.0) - col("tie").cast("double") / (dn * dn * dn - dn)
    a.select(col("k_groups"), col("n_rows"),
      (col("k_groups") - 1).as("dof"),
      when(col("k_groups") > 1, round(h, 6)).as("h_stat"),
      when(col("k_groups") > 1 && cTie > 0, round(h / cTie, 6))
        .as("h_tie_adj"))
  }

  /** BROWN–FORSYTHE test (Brown & Forsythe 1974 — the robust Levene
    * variant): variance homogeneity across k groups as a one-way ANOVA
    * on |x − median_group|. The homoscedasticity gate that decides
    * whether the plain ANOVA F beside it is even valid.
    *
    * Exactness: group medians come from the grouped exact-percentile
    * engine (quantile_cont parity, bitwise-verified); the deviation is
    * DOUBLED — z2 = |2x − 2·median| — so even x.5 medians keep every
    * moment an exact integer (F is scale-invariant, so the statistic is
    * unchanged). The ANOVA fold is [[anova]]'s own shape.
    *
    * Scale posture: the median pass is the range-partitioned cumulative
    * engine (no single-task stage); the deviation join broadcasts the
    * k-row median frame; the ANOVA pass is one map-side-combined shuffle
    * to k rows.
    */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val meds = groupedExactPercentiles(
        df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull),
        groupCol, valueCol, Seq("med" -> 0.5))
      .select(col(groupCol), (round(col("med") * 2, 0)).cast("long").as("m2"))
    val z = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .join(broadcast(meds), Seq(groupCol))
      .select(col(groupCol),
        abs(lit(2L) * col(valueCol).cast("long") - col("m2")).as("z2"))
    anova(z, col("z2"), groupCol)
      .select(col("k_groups"), col("n_rows"),
        col("ss_between"), col("ss_within"), col("f_stat").as("w_stat"))
  }

  /** GRANGER-STYLE lagged predictability (Granger 1969, bivariate lag-1
    * form): does yesterday's ORDER COUNT predict today's revenue beyond
    * yesterday's revenue itself? Restricted model rev_t ~ rev_{t-1} vs
    * full model rev_t ~ rev_{t-1} + cnt_{t-1}; the F on the RSS drop is
    * the causality readout, and the fitted betas are the effect sizes.
    *
    * Exactness ledger: the daily series is exact integer DOLLARS
    * (cents div 100 — dollars keep every cross-moment below 2^53 at
    * sf0.1 so the Long→double casts are exact; a 100× deployment moves
    * to k$ units, the knob not the shape). The OLS solve is ONE closed-
    * form double expression tree (Cramer on the centered 2×2 normal
    * equations) evaluated identically on both engines from exact integer
    * moments — the assortativity contract.
    *
    * Scale posture: one shuffle to day cardinality, a bounded day-spine
    * gap-fill (zero-revenue days are real observations, not holes), one
    * unpartitioned lag window over the DAY spine (bounded domain — the
    * EWMA/ACF posture), then a scalar moment fold.
    */
  def grangerDaily(orders: DataFrame): DataFrame = {
    // whole dollars PER DAY (one integer floor of the exact cents sum)
    val daily = dailyRevenue(orders, count(lit(1)).as("cnt"))
      .select(col("day"), expr("CAST(dt * 100 AS BIGINT) div 100").as("rev"),
        col("cnt"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds.select(explode(expr(
        "sequence(d0, d1, interval 1 day)")).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("rev", "cnt"))
    val w = Window.orderBy("day")
    val lagged = filled
      .select(col("rev").as("y"),
        lag(col("rev"), 1).over(w).as("x1"),
        lag(col("cnt"), 1).over(w).as("x2"))
      .filter(col("x1").isNotNull)
    val mo = lagged.agg(count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("x1")).as("s1"),
      sum(col("x2")).as("s2"), sum(col("y") * col("y")).as("syy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
    def d(c: String) = col(c).cast("double")
    val n = d("n")
    val c11 = d("s11") - d("s1") * d("s1") / n
    val c22 = d("s22") - d("s2") * d("s2") / n
    val c12 = d("s12") - d("s1") * d("s2") / n
    val c1y = d("s1y") - d("s1") * d("sy") / n
    val c2y = d("s2y") - d("s2") * d("sy") / n
    val cyy = d("syy") - d("sy") * d("sy") / n
    val det = c11 * c22 - c12 * c12
    val b1 = (c1y * c22 - c2y * c12) / det
    val b2 = (c2y * c11 - c1y * c12) / det
    val rssF = cyy - b1 * c1y - b2 * c2y
    val rssR = cyy - c1y * c1y / c11
    mo.select(col("n").as("n_days"),
      when(det > 0, round(b1, 6)).as("beta_rev_lag"),
      when(det > 0, round(b2, 6)).as("beta_cnt_lag"),
      when(det > 0 && rssF > 0 && col("n") > 3,
        round((rssR - rssF) / (rssF / (n - 3)), 6)).as("f_stat"))
  }

  /** The standard-normal CDF upper tail, per Abramowitz & Stegun
    * 26.2.17 (|ε| < 7.5e-8): BOTH engines evaluate this exact
    * expression tree (Horner form, explicit literals, exp the only
    * transcendental), so two-sided p-values are bit-identical across
    * Spark and DuckDB without either having erf.
    */
  private def pTwoSided(absZ: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * absZ)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) +
        t * lit(1.330274429)))))
    lit(2.0) * (lit(0.3989422804014327) * exp(lit(-0.5) * absZ * absZ)) * poly
  }

  /** The identical SQL tree (same nesting, same literals). */
  private def pTwoSidedSql(absZ: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * $absZ))"
    val poly = s"($t * (0.319381530 + $t * (-0.356563782 + $t * " +
      s"(1.781477937 + $t * (-1.821255978 + $t * 1.330274429)))))"
    s"(2.0 * (0.3989422804014327 * exp(-0.5 * $absZ * $absZ)) * $poly)"
  }

  /** BAYESIAN A/B READOUT — the decision-layer twin of q_ab_test's
    * frequentist z-test: with a flat prior and the large-sample normal
    * posterior for each arm's mean, P(μ_B > μ_A) = Φ(Δ/se_Δ) — the
    * "probability B is better" number stakeholders actually ask for,
    * plus the 95% credible interval of the lift. Φ comes from the same
    * cross-engine A&S 26.2.17 tail as q_fdr_bh, so the probability is
    * bit-identical on both engines.
    *
    * Scale posture: ONE full-scan aggregate to exact Long moment sums
    * (Σ cents, Σ cents² in DECIMAL(38,0)); everything after is a scalar
    * double expression. Arms: purchase (B) vs click (A) event values.
    */
  def bayesAb(ev: DataFrame): DataFrame = {
    val rows = ev
      .filter(col("event_type").isin("purchase", "click") &&
        col("value").isNotNull)
      .select((col("event_type") === "purchase").as("t"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
    val m = rows.agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("na"),
      sum(when(col("t"), col("cents")).otherwise(0L)).as("sb"),
      sum(when(!col("t"), col("cents")).otherwise(0L)).as("sa"),
      sum(when(col("t"), (col("cents") * col("cents"))
        .cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0))))
        .as("ssb"),
      sum(when(!col("t"), (col("cents") * col("cents"))
        .cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0))))
        .as("ssa"))
    bayesAbFinish(m)
  }

  /** The posterior readout over a one-row (na, nb, sa, sb, ssa, ssb)
    * moments frame — shared by [[bayesAb]] and the streaming twin
    * (q_stream_bayes_ab aggregates the same moments as streaming state,
    * then applies this identical expression tree to the snapshot).
    */
  private[graft] def bayesAbFinish(m: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("double")
    val varB = (d(col("ssb")) - d(col("sb")) * d(col("sb")) / d(col("nb"))) /
      (d(col("nb")) - 1.0)
    val varA = (d(col("ssa")) - d(col("sa")) * d(col("sa")) / d(col("na"))) /
      (d(col("na")) - 1.0)
    val diff = d(col("sb")) / d(col("nb")) - d(col("sa")) / d(col("na"))
    val se = sqrt(varB / d(col("nb")) + varA / d(col("na")))
    val z = diff / se
    val upperTail = pTwoSided(abs(z)) / lit(2.0)
    val probB = when(z >= 0, lit(1.0) - upperTail).otherwise(upperTail)
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(d(col("sa")) / d(col("na")) / 100.0, 6).as("mean_a"),
      round(d(col("sb")) / d(col("nb")) / 100.0, 6).as("mean_b"),
      round(diff / 100.0, 6).as("lift"),
      round((diff - lit(1.959964) * se) / 100.0, 6).as("ci_lo"),
      round((diff + lit(1.959964) * se) / 100.0, 6).as("ci_hi"),
      round(probB, 6).as("prob_b_beats_a"))
  }

  /** BENJAMINI–HOCHBERG FDR control (Benjamini & Hochberg 1995) over
    * the per-source mean-length tests — the multiple-comparisons
    * correction every "which segments moved?" dashboard needs once it
    * runs one test per segment (20 uncorrected tests at α=.05 expect a
    * false positive every run). Per source: one-sample z of the source
    * mean vs the corpus mean (exact integer moments), two-sided p via
    * the cross-engine A&S normal tail, then the BH step-up rule at
    * q=0.05: reject H₁..H_k for the largest k with p_(k) ≤ k·q/m.
    *
    * Scale posture: one map-side-combined shuffle to source
    * cardinality; global moments fold from the per-source frame
    * (scalar, broadcast back); the rank window and the step-up cummax
    * run on the SOURCE-cardinality frame (the q_lsh_curve bounded-frame
    * posture), never on corpus rows. p-values rank UNROUNDED (identical
    * doubles on both engines) and display rounded.
    */
  def fdrBh(docs: DataFrame, q: Double = 0.05): DataFrame = {
    val v = col("n_chars").cast("long")
    val g = docs.filter(col("source").isNotNull && v.isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("qq"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"),
      sum(col("qq")).as("qt"))
    def d(c: String) = col(c).cast("double")
    val meanAll = d("ss") / d("nn")
    val sdAll = sqrt((d("qt") - d("ss") * d("ss") / d("nn")) / (d("nn") - 1))
    val z = (d("s") / d("n") - meanAll) / (sdAll / sqrt(d("n")))
    val p = pTwoSided(abs(z))
    val scored = g.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        round(z, 6).as("z"), p.as("praw"))
    val w = Window.orderBy("praw", "source") // source-cardinality frame
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    scored
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("p_rank", row_number().over(w).cast("long"))
      .withColumn("kmax", max(when(col("praw") <=
          col("p_rank") * lit(q) / col("m"), col("p_rank"))).over(wAll))
      .select(col("source"), col("n_docs"), col("z"),
        round(col("praw"), 12).as("p_value"), col("p_rank"),
        (col("p_rank") <= coalesce(col("kmax"), lit(0L))).as("significant"))
      .orderBy("p_rank")
  }

  /** INDEX-OF-DISPERSION audit (variance/mean of daily counts, per
    * event type): the Poisson-ness check that decides whether count
    * models (and CI formulas assuming var≈mean) are valid per stream —
    * D ≫ 1 means bursty/clumped arrivals (overdispersion), D < 1
    * regular spacing. Zero-days matter: the day spine × type cross
    * (both bounded) restores them before the moments. Exact integer
    * moments to type cardinality, one double tree per row.
    */
  def overdispersion(events: DataFrame, flagAt: Double = 1.5): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"),
        col("event_type")).agg(count(lit(1)).as("c"))
    val days = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val types = daily.select("event_type").distinct()
    val filled = days.crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left")
      .na.fill(0L, Seq("c"))
    val g = filled.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("qq"))
    def d(c: String) = col(c).cast("double")
    val mean = d("s") / d("n")
    val variance = (d("qq") - d("s") * d("s") / d("n")) / (d("n") - 1)
    g.select(col("event_type"), col("n").as("n_days"),
        round(mean, 6).as("mean_daily"),
        round(variance, 6).as("var_daily"),
        when(mean > 0, round(variance / mean, 6)).as("dispersion"),
        when(mean > 0, variance / mean > flagAt).as("overdispersed"))
      .orderBy("event_type")
  }

  /** CUSUM control-chart fold (Page 1954) over ANY (day, rc) daily
    * integer series — k = σ/2, h = 4σ from the series' own exact
    * moments, two-sided with reset-on-alarm. Shared by the batch
    * q_cusum (orders revenue) and the streaming twin q_stream_cusum
    * (event values — the aggregate-on-snapshot stream shape): the day
    * array is calendar-bounded, so the sequential fold runs as one
    * higher-order aggregate, never a corpus-sized window.
    */
  def cusumOfDaily(daily: DataFrame): DataFrame =
    daily
        .agg(array_sort(collect_list(struct(col("day"), col("rc")))).as("a"),
          count(lit(1)).as("n"), sum(col("rc")).as("sc"),
          sum(col("rc").cast(DecimalType(19, 0)) * col("rc")).as("ssc"))
        .withColumn("mu", expr("sc div n"))
        .withColumn("v",
          (col("ssc").cast("double") -
            col("sc").cast("double") * col("sc").cast("double") /
              col("n").cast("double")) / col("n").cast("double"))
        .withColumn("kc", floor(sqrt(col("v")) / 2.0).cast("long"))
        .withColumn("hc", floor(sqrt(col("v")) * 4.0).cast("long"))
        .withColumn("f", expr(
          """aggregate(
            |  a,
            |  named_struct('sp', 0L, 'sn', 0L, 'al', 0L,
            |               'msp', 0L, 'msn', 0L),
            |  (acc, e) -> named_struct(
            |    'sp', CASE WHEN greatest(0L, acc.sp + (e.rc - mu) - kc) > hc
            |          THEN 0L ELSE greatest(0L, acc.sp + (e.rc - mu) - kc) END,
            |    'sn', CASE WHEN greatest(0L, acc.sn + (mu - e.rc) - kc) > hc
            |          THEN 0L ELSE greatest(0L, acc.sn + (mu - e.rc) - kc) END,
            |    'al', acc.al +
            |      (CASE WHEN greatest(0L, acc.sp + (e.rc - mu) - kc) > hc
            |         OR greatest(0L, acc.sn + (mu - e.rc) - kc) > hc
            |       THEN 1L ELSE 0L END),
            |    'msp', greatest(acc.msp,
            |      greatest(0L, acc.sp + (e.rc - mu) - kc)),
            |    'msn', greatest(acc.msn,
            |      greatest(0L, acc.sn + (mu - e.rc) - kc))))""".stripMargin))
        .select(col("n").as("n_days"), col("kc").as("k_cents"),
          col("hc").as("h_cents"), col("f.al").as("n_alarms"),
          col("f.msp").as("max_sp"), col("f.msn").as("max_sn"))

  /** LOG-RANK TEST (Mantel 1966) between the two md5 experiment arms on
    * the activity-span survival curves — the hypothesis test beside
    * q_kaplan_meier's curve (does treatment change time-to-churn?),
    * using the same duration/right-censoring construction. At each
    * distinct duration: O−E = d_c − n_c·d/n and the hypergeometric
    * variance d·(n_c/n)(1−n_c/n)(n−d)/(n−1); z = Σ(O−E)/√ΣV.
    *
    * Exactness: deaths/at-risk counts are exact integers off the
    * distinct-duration spine (two bounded cumsum windows — the
    * kaplanMeier posture); per-time terms round 6dp and sum as DECIMAL
    * (order-safe); z is one final double. Scale: one shuffle to user
    * cardinality, one to duration cardinality, then spine-sized work.
    */
  def logrank(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), to_date(col("ts")).as("dt"))
    val mx = ev.agg(max(col("dt")).as("mx"))
    val isControl = conv(substring(md5(col("user_id").cast("string")), 1, 4),
      16, 10).cast("long") % 2 === 0
    val per = ev.crossJoin(broadcast(mx))
      .groupBy("user_id")
      .agg(datediff(max(col("dt")), min(col("dt"))).as("dur"),
        (max(col("dt")) === max(col("mx"))).as("censored"))
      .withColumn("ctl", isControl)
    val byDur = per.groupBy("dur")
      .agg(sum(when(!col("censored") && col("ctl"), 1L).otherwise(0L)).as("dc"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        sum(when(col("ctl"), 1L).otherwise(0L)).as("ec"),
        count(lit(1)).as("e"))
    val wPrev = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1) // duration spine only
    val tot = per.agg(count(lit(1)).as("nt"),
      sum(when(col("ctl"), 1L).otherwise(0L)).as("nc"))
    val risk = byDur.crossJoin(broadcast(tot))
      .withColumn("n", col("nt") -
        coalesce(sum(col("e")).over(wPrev), lit(0L)))
      .withColumn("na", col("nc") -
        coalesce(sum(col("ec")).over(wPrev), lit(0L)))
    def db(c: String) = col(c).cast("double")
    val oe = db("dc") - db("na") * db("d") / db("n")
    val vr = db("d") * (db("na") / db("n")) * (lit(1.0) - db("na") / db("n")) *
      (db("n") - db("d")) / (db("n") - 1)
    val terms = risk.filter(col("d") > 0 && col("n") > 1)
      .select(col("dc"), col("d"),
        round(oe, 6).cast(DecimalType(18, 6)).as("oe"),
        round(vr, 6).cast(DecimalType(18, 6)).as("vr"))
    terms
      .agg(sum(col("d")).as("n_deaths"), sum(col("dc")).as("n_deaths_control"),
        sum(col("oe")).cast("double").as("soe"),
        sum(col("vr")).cast("double").as("svr"))
      .crossJoin(broadcast(tot))
      .select(col("nt").as("n_users"), col("nc").as("n_control"),
        col("n_deaths"), col("n_deaths_control"),
        round(col("soe"), 6).as("o_minus_e"),
        round(col("svr"), 6).as("var_logrank"),
        when(col("svr") > 0, round(col("soe") / sqrt(col("svr")), 6))
          .as("z"))
  }

  /** SHAPLEY CHANNEL ATTRIBUTION (Shapley 1953; the marketing form of
    * Zhao et al. 2018) over the three touch channels click/view/signup
    * with conversion = any purchase: coalition value v(S) = conversions
    * from users whose touch set ⊆ S (monotone by construction), and
    * φ_i = Σ_{S∌i} |S|!(n−|S|−1)!/n! · (v(S∪i) − v(S)) — the
    * order-fair division last-touch/first-touch can't give. No-touch
    * conversions are the 'organic' baseline row, so shares sum to 1.
    *
    * Exactness: with n = 3 the Shapley weights are sixths, so 6·φ is an
    * exact integer — shares are integer ppm, φ one terminal division.
    * Scale: ONE user-cardinality aggregate builds the 8-row exact-mask
    * table; v(S), the 12-row (channel × coalition) weight table, and
    * the φ fold are all constant-size (the q_ipf_raking aggregate-once-
    * solve-small shape).
    */
  def shapleyAttr(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    // touches count only STRICTLY BEFORE the user's first purchase
    // ((ts, event_id)-ordered — id breaks timestamp ties): post-purchase
    // exposure can't have caused it, and without the cut this corpus's
    // ~66 events/user saturate every mask to 7 (measured — the operator
    // degenerates to an equal three-way split)
    val fp = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    def touched(t: String) = max(when(col("event_type") === t &&
      struct(col("ts"), col("event_id")) < col("fp"), 1).otherwise(0))
    val perUser = events.join(fp, Seq("user_id")) // converters only: v(S)
      .groupBy("user_id")                         // counts conversions
      .agg((touched("click") * 4 + touched("view") * 2 +
        touched("signup")).as("mask"))
    val byMask = perUser.groupBy("mask").agg(count(lit(1)).as("cv"))
    val spine = s.range(8).select(col("id").cast("int").as("smask"))
    // v(S) = Σ conversions with touch set ⊆ S (8×8 literal-bounded join)
    val v = spine.join(byMask,
        expr("(mask & smask) = mask"), "left")
      .groupBy("smask").agg(coalesce(sum(col("cv")), lit(0L)).as("v"))
    // (channel, coalition-without-channel, 6·weight) enumeration: n=3 →
    // w(|S|) ∈ {2,1,1,2}/6 for |S| = 0,1,1,2
    val combos = (for {
      (ch, bit) <- Seq(("click", 4), ("view", 2), ("signup", 1))
      sm <- 0 until 8 if (sm & bit) == 0
    } yield {
      val size = Integer.bitCount(sm)
      val w6 = Seq(2L, 1L, 2L)(size)
      (ch, bit, sm, w6)
    }).toDF("channel", "bit", "smask", "w6")
    val phi6 = combos
      .join(v.select(col("smask"), col("v").as("v0")), Seq("smask"))
      .join(v.select((col("smask")).as("smask_i"), col("v").as("v1")),
        expr("smask_i = (smask | bit)"))
      .groupBy("channel")
      .agg(sum(col("w6") * (col("v1") - col("v0"))).as("phi6"))
    val totals = v.agg(max(when(col("smask") === 7, col("v"))).as("vall"))
      .crossJoin(v.agg(max(when(col("smask") === 0, col("v"))).as("v0")))
    val organic = totals.select(lit("organic").as("channel"),
      (col("v0") * 6L).as("phi6"))
    phi6.unionByName(organic).crossJoin(broadcast(totals))
      .select(col("channel"),
        round(col("phi6").cast("double") / 6.0, 6).as("phi_conversions"),
        when(col("vall") > 0,
          expr("phi6 * 1000000 div (6 * vall)")).as("share_ppm"))
      .orderBy("channel")
  }

  /** MAXIMUM DRAWDOWN of the daily-revenue series: largest peak-to-
    * trough fall of the level against its running maximum — the
    * worst-case-regression readout monitoring teams put beside EWMA/
    * CUSUM (those flag shifts; drawdown sizes the worst one). Exact
    * integer cents end-to-end: running peak is a bounded cummax window
    * over the day spine, the argmax picks the EARLIEST deepest trough
    * (max_by on (dd, −epoch_day) — total order, engine-agnostic), and
    * dd_ppm is one integer division against the peak.
    */
  def maxDrawdown(orders: DataFrame): DataFrame = {
    val daily = dailyCents(orders, "rc")
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = daily.withColumn("peak", max(col("rc")).over(w))
      .withColumn("dd", col("peak") - col("rc"))
      .withColumn("dno", datediff(col("day"), lit("1970-01-01").cast("date"))
        .cast("long"))
    dd.agg(max_by(
        struct(col("day"), col("peak"), col("rc"), col("dd")),
        struct(col("dd"), negate(col("dno")))).as("m"),
        count(lit(1)).as("n_days"))
      .select(col("n_days"), col("m.day").as("trough_day"),
        col("m.peak").as("peak_cents"), col("m.rc").as("trough_cents"),
        col("m.dd").as("max_drawdown_cents"),
        expr("m.dd * 1000000 div m.peak").as("dd_ppm"))
  }

  /** LORENZ CURVE at decile resolution over customer spend — the table
    * behind q_gini's scalar (which 10% of customers carry which share
    * of revenue). Deciles assign by ntile over (spend, custkey) — the
    * tie-break makes assignment total and cross-engine identical; the
    * frame is customer-cardinality (dimension-class, the q_gini
    * argument). Shares are integer-ppm divisions of exact cents.
    */
  def lorenzDeciles(orders: DataFrame): DataFrame = {
    val per = orders.groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(18, 2)).as("sp"))
      .select(col("o_custkey"), (col("sp") * 100).cast("long").as("sc"))
    val byDec = per
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("sc"), col("o_custkey")))
          .cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("sc")).as("spend_cents"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec.crossJoin(broadcast(per.agg(sum(col("sc")).as("tot"))))
      .withColumn("cum", sum(col("spend_cents")).over(w))
      .select(col("decile"), col("n_customers"), col("spend_cents"),
        expr("spend_cents * 1000000 div tot").as("share_ppm"),
        expr("cum * 1000000 div tot").as("cum_share_ppm"))
      .orderBy("decile")
  }

  /** COHORT LTV CURVE — cumulative revenue per acquisition cohort by
    * months-since-first-order: the matrix behind every "is newer-cohort
    * quality declining?" growth review, and the monetary twin of
    * q_cohort_retention (that one counts active users; this one sums
    * spend). Month arithmetic is a LINEAR index (y·12+m) so ages are
    * integer subtraction, engine-agnostic. One custkey-co-partitioned
    * join (first-order month back onto orders), one (cohort, age)
    * aggregate, and a cohort-partitioned bounded cumsum window.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val mIdx = (year(col("o_orderdate")) * 12 +
      month(col("o_orderdate"))).cast("long")
    val per = orders.select(col("o_custkey"), mIdx.as("m"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    val first = per.groupBy("o_custkey").agg(min(col("m")).as("cm"))
    val g = per.join(first, Seq("o_custkey"))
      .groupBy(col("cm"), (col("m") - col("cm")).as("age_months"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy("cm").orderBy("age_months")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select((expr("(cm - 1) div 12") * 100 +
          (col("cm") - expr("((cm - 1) div 12) * 12"))).as("cohort_month"),
        col("age_months"), col("n_orders"), col("rev_cents"),
        col("cum_rev_cents"))
      .orderBy("cohort_month", "age_months")
  }

  /** HOLT–WINTERS additive triple smoothing (Winters 1960), 7-day
    * season — the seasonal completion of the forecasting family
    * (q_ewma_daily = level, q_holt_forecast = level+trend; this adds
    * the day-of-week component q_dow_seasonality showed matters).
    * α=β=γ=1/2 as INTEGER halvings — `div` truncates toward zero
    * identically in Spark and DuckDB (verified on negatives, which
    * seasonal deviations produce), so the whole recursion replays
    * bit-for-bit. Seasonals zero-init (documented: state converges
    * within weeks on a multi-year spine). The fold is one higher-order
    * aggregate over the calendar-bounded day array (the q_cusum shape);
    * forecasts h = 1..7 re-add the target day-of-week seasonal.
    */
  def holtWinters(orders: DataFrame): DataFrame = {
    dailyCents(orders, "rc")
      .select(col("day"), col("rc"),
        (dayofweek(col("day")) - 1).cast("int").as("dw"))
      .agg(array_sort(collect_list(struct(col("day"), col("rc"), col("dw"))))
        .as("a"))
      .selectExpr(
        """aggregate(
          |  a,
          |  named_struct('d', cast(null as date), 'l', cast(0 as bigint),
          |    'b', cast(0 as bigint),
          |    's', array_repeat(cast(0 as bigint), 7), 'init', false),
          |  (acc, e) -> if(NOT acc.init,
          |    named_struct('d', e.day, 'l', e.rc, 'b', cast(0 as bigint),
          |      's', acc.s, 'init', true),
          |    named_struct(
          |      'd', e.day,
          |      'l', (e.rc - element_at(acc.s, e.dw + 1) + acc.l + acc.b) div 2,
          |      'b', (((e.rc - element_at(acc.s, e.dw + 1) + acc.l + acc.b) div 2)
          |            - acc.l + acc.b) div 2,
          |      's', transform(acc.s, (v, i) -> if(i = e.dw,
          |            ((e.rc - ((e.rc - element_at(acc.s, e.dw + 1) + acc.l + acc.b) div 2))
          |             + v) div 2, v)),
          |      'init', true))) AS st""".stripMargin)
      .selectExpr("st.d AS last_day", "st.l AS l", "st.b AS b", "st.s AS s",
        "explode(sequence(1, 7)) AS h")
      .select(col("h").cast("long").as("h"),
        date_add(col("last_day"), col("h").cast("int")).as("day"),
        col("l"), col("b"), col("s"))
      .select(col("h"), col("day"),
        round((col("l") + col("h") * col("b") +
          element_at(col("s"), dayofweek(col("day")).cast("int")))
          .cast("double") / 100.0, 2).as("forecast"))
      .orderBy("h")
  }

  /** NELSON–AALEN cumulative hazard (Nelson 1972, Aalen 1978) on the
    * same duration/right-censoring construction as q_kaplan_meier:
    * H(t) = Σ_{t_i ≤ t} d_i/n_i with the Fleming–Harrington survival
    * exp(−H) beside it — the hazard-scale view KM's product form can't
    * give (hazards ADD across competing risks and stratifications; the
    * log-survival trick used for KM is this estimator's cousin).
    * Per-time terms round 6dp and cumsum as DECIMAL over the
    * distinct-duration spine (bounded window); survival is one exp at
    * the end. Same shuffles as KM: user-cardinality, then spine-sized.
    */
  def nelsonAalen(events: DataFrame): DataFrame = {
    val w = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalByDuration(events)
      .withColumn("term",
        round(col("d").cast("double") / col("n_at_risk").cast("double"), 6)
          .cast(DecimalType(18, 6)))
      .withColumn("ch", sum(col("term")).over(w))
      .filter(col("d") > 0)
      .select(col("dur"), col("n_at_risk"), col("d"),
        col("ch").cast("double").as("cum_hazard"),
        round(exp(negate(col("ch").cast("double"))), 6).as("fh_survival"))
      .orderBy("dur")
  }

  /** KENDALL'S τ-b (Kendall 1938; τ-b tie correction) between document
    * word count and the 32-char length bucket — the third
    * rank-correlation view beside Pearson (q_a8_corr, linear) and
    * Spearman (q_spearman, monotone-by-rank): τ counts CONCORDANT vs
    * DISCORDANT pairs, so it's the probability interpretation ("a
    * random pair agrees in direction") robust to any monotone
    * rescaling. The pair is chosen DEPENDENT on purpose (words↤chars;
    * the synthetic fact columns are mutually independent and would gate
    * a vacuous τ ≈ 0) — the tie machinery and the cell algebra are
    * what's under test, and bucketing plants heavy y-ties.
    *
    * Scale shape — the reason this is feasible at all: naive τ is
    * O(n²) over ROWS; here the corpus collapses ONCE to the (x, y)
    * contingency cells (bounded by the two value domains, the ksTest
    * spine argument) and all pair counting is a cell×cell join:
    * C = Σ_a n_a·(Σ_{b: x>, y>} n_b), D likewise with y< — work is
    * cells², independent of corpus size. Ties come from the marginals.
    * All counts exact Longs; τ is one final double tree.
    */
  def kendallTau(docs: DataFrame): DataFrame = {
    val x = TextAnalysis.tokenCount(col("text")).cast("long")
    val y = expr("CAST(n_chars AS BIGINT) div 32")
    val cells = docs.filter(col("text").isNotNull &&
        col("n_chars").isNotNull)
      .groupBy(x.as("x"), y.as("y")).agg(count(lit(1)).as("n"))
      .persistTracked()
    val a = cells.select(col("x").as("ax"), col("y").as("ay"),
      col("n").as("an"))
    val b = cells.select(col("x").as("bx"), col("y").as("by"),
      col("n").as("bn"))
    val conc = a.join(b, col("bx") > col("ax") && col("by") > col("ay"))
      .agg(coalesce(sum(col("an") * col("bn")), lit(0L)).as("c"))
    val disc = a.join(b, col("bx") > col("ax") && col("by") < col("ay"))
      .agg(coalesce(sum(col("an") * col("bn")), lit(0L)).as("dd"))
    val tx = cells.groupBy("x").agg(sum(col("n")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("tx2"),
        sum(col("t")).as("nn"))
    val ty = cells.groupBy("y").agg(sum(col("n")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("ty2"))
    val m = conc.crossJoin(disc).crossJoin(tx).crossJoin(ty)
    def db(c: String) = col(c).cast("double")
    val n0 = db("nn") * (db("nn") - 1) / 2
    val n1 = db("tx2") / 2
    val n2 = db("ty2") / 2
    val tau = (db("c") - db("dd")) / sqrt((n0 - n1) * (n0 - n2))
    m.select(col("nn").as("n_rows"), col("c").as("n_concordant"),
      col("dd").as("n_discordant"),
      expr("tx2 div 2").as("ties_x_pairs"),
      expr("ty2 div 2").as("ties_y_pairs"),
      when((n0 - n1) * (n0 - n2) > 0, round(tau, 6)).as("tau_b"))
  }

  /** BEST-SPLIT FINDER (the histogram split search inside every
    * gradient-boosted tree / CART node — LightGBM/XGBoost's kernel,
    * distributed): scan every candidate threshold of a numeric feature
    * and pick the split minimizing weighted Gini impurity of the target.
    * Candidates are the DISTINCT feature values (the ksTest spine
    * argument — at 100 TB the same code runs on pre-binned histograms,
    * value-domain-bounded either way); left counts come from one
    * cumulative window over that spine, right = totals − left. Per-
    * candidate scores round to 6dp BEFORE the argmin (cross-engine tie
    * safety), ties to the smaller threshold. Feature = n_chars, target
    * = is-English: the "is doc length a useful lang feature?" answer in
    * tree form beside q_woe_iv's scorecard form.
    */
  def splitFinder(docs: DataFrame): DataFrame = {
    val v = col("n_chars").cast("long")
    val pos = (col("lang") === "en").cast("long")
    val cells = docs.filter(v.isNotNull && col("lang").isNotNull)
      .groupBy(v.as("v")).agg(count(lit(1)).as("c"), sum(pos).as("p"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum(col("c")).as("n"), sum(col("p")).as("np"))
    val cum = cells
      .withColumn("cl", sum(col("c")).over(w))
      .withColumn("pl", sum(col("p")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("cl") < col("n")) // a split must leave a right side
    def gini(p: Column, n: Column): Column = {
      val fp = p.cast("double") / n.cast("double")
      lit(1.0) - fp * fp - (lit(1.0) - fp) * (lit(1.0) - fp)
    }
    val nl = col("cl"); val nr = col("n") - col("cl")
    val score = (nl.cast("double") * gini(col("pl"), nl) +
      nr.cast("double") * gini(col("np") - col("pl"), nr)) /
      col("n").cast("double")
    val scored = cum.select(col("v"), col("cl").as("n_left"),
      nr.as("n_right"), round(score, 6).as("gini_split"),
      col("n"), col("np"))
    scored
      .agg(min(struct(col("gini_split"), col("v"), col("n_left"),
        col("n_right"), col("n"), col("np"))).as("b"))
      .select(col("b.v").as("split_at"), col("b.n_left"),
        col("b.n_right"),
        round(gini(col("b.np"), col("b.n")), 6).as("gini_parent"),
        col("b.gini_split"),
        round(gini(col("b.np"), col("b.n")) - col("b.gini_split"), 6)
          .as("gini_gain"))
  }

  /** Tie-aware PR-AUC (precision-recall trapezoid over distinct-score
    * blocks) of "longer docs are English" — the imbalanced-class
    * companion of the ROC AUC already shipped (q_auc_length): ROC
    * flatters abundant-negative problems; PR answers "of what I'd
    * flag, how much is right". Blocks descend by score with cumulative
    * TP/FP off the distinct-value spine; area = Σ ΔR·(P_i+P_{i-1})/2,
    * per-segment terms 6dp-decimal summed (order-safe).
    */
  def prAuc(docs: DataFrame): DataFrame = {
    val v = col("n_chars").cast("long")
    val pos = (col("lang") === "en").cast("long")
    val cells = docs.filter(v.isNotNull && col("lang").isNotNull)
      .groupBy(v.as("v")).agg(count(lit(1)).as("c"), sum(pos).as("p"))
    val w = Window.orderBy(desc("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum(col("p")).as("np"))
    val cum = cells
      .withColumn("ct", sum(col("c")).over(w))
      .withColumn("pt", sum(col("p")).over(w))
      .crossJoin(broadcast(tot))
    def db(c: Column) = c.cast("double")
    val prec = db(col("pt")) / db(col("ct"))
    val precPrev = db(col("pt") - col("p")) /
      when(col("ct") - col("c") > 0, db(col("ct") - col("c"))).otherwise(lit(1.0))
    val rec = db(col("pt")) / db(col("np"))
    val recPrev = db(col("pt") - col("p")) / db(col("np"))
    // at the first block prec_{i-1} is defined as prec_i (standard
    // left-endpoint convention: recall starts at 0 with that precision)
    val p0 = when(col("ct") - col("c") === 0, prec).otherwise(precPrev)
    val term = round((rec - recPrev) * (prec + p0) / 2, 6)
      .cast(DecimalType(18, 6))
    cum.select(term.as("t"), col("np"))
      .groupBy("np").agg(sum(col("t")).cast("double").as("pr_auc"))
      .select(col("np").as("n_positives"), round(col("pr_auc"), 6)
        .as("pr_auc"))
  }

  /** McNEMAR'S PAIRED TEST (McNemar 1947, with Edwards' continuity
    * correction) — the right test for "is model A better than model B on
    * the SAME examples": marginal accuracies ignore the pairing, McNemar
    * uses only the DISAGREEMENT cells (b = A right & B wrong, c = the
    * reverse), χ² = (|b−c|−1)²/(b+c) on 1 dof. The two "models" here are
    * stand-in rule classifiers over the event stream (a value threshold
    * vs a time-of-day rule, truth = purchase) — the operator under test
    * is the paired comparison, which applies verbatim to any two
    * prediction columns.
    *
    * Scale posture: ONE full-scan aggregate to a 2×2 table (map-side
    * combined; four Long cells cross any cluster as one row). The χ² and
    * accuracies are single double expressions of exact Longs.
    */
  def mcnemar(ev: DataFrame): DataFrame = {
    val truth = col("event_type") === "purchase"
    val predA = coalesce(col("value"), lit(0.0)) > 50.0
    val predB = hour(col("ts")) % 2 === 0
    val ca = predA === truth
    val cb = predB === truth
    // A null ts makes predB null, so the row would land in NO 2×2 cell
    // while still counting in n (cells no longer sum to n, accuracies
    // silently deflated). Rows without a timestamp can't be scored by
    // the time-of-day rule — exclude them, matching the coalesce
    // treatment of value.
    ev.filter(col("ts").isNotNull).agg(
        count(lit(1)).as("n"),
        sum(when(ca && cb, 1L).otherwise(0L)).as("both_correct"),
        sum(when(ca && !cb, 1L).otherwise(0L)).as("a_only"),
        sum(when(!ca && cb, 1L).otherwise(0L)).as("b_only"),
        sum(when(!ca && !cb, 1L).otherwise(0L)).as("both_wrong"))
      .select(col("n"), col("both_correct"), col("a_only"), col("b_only"),
        col("both_wrong"),
        round((col("both_correct") + col("a_only")).cast("double") /
          col("n"), 6).as("acc_a"),
        round((col("both_correct") + col("b_only")).cast("double") /
          col("n"), 6).as("acc_b"),
        when(col("a_only") + col("b_only") > 0,
          round(pow(abs(col("a_only") - col("b_only")).cast("double") - 1.0,
            2) / (col("a_only") + col("b_only")).cast("double"), 6))
          .as("mcnemar_chi2"))
  }

  /** RANDOMIZATION TEST for a two-group mean difference (Fisher 1935;
    * the Bernoulli-reassignment variant that SHARDS — a true permutation
    * fixes group sizes, which needs a global shuffle per replicate;
    * reassigning each row independently with p̂ = n₁/n matches the
    * permutation null asymptotically and is embarrassingly parallel).
    * Complements q_bootstrap_ci (uncertainty of ONE mean) with the
    * hypothesis-test twin (is the purchase−click gap real?).
    *
    * Determinism: replicate uniforms come from the q_bootstrap_ci recipe
    * — one md5 per (row, digest-group) yields four 32-bit words → four
    * replicate uniforms, so both engines draw bit-identical assignments;
    * p̂ and every replicate diff are single double expressions of exact
    * Long sums, so the `|d_b| ≥ |d_obs|` comparisons replay exactly.
    *
    * Scale posture: B=48 replicates explode map-side; each folds to four
    * exact Long partials per task (one shuffle of B groups). The
    * observed row crosses in as a broadcast scalar.
    */
  def randomizationTest(ev: DataFrame, b: Int = 48): DataFrame = {
    val rows = ev
      .filter(col("event_type").isin("purchase", "click") &&
        col("value").isNotNull)
      .select(col("event_id"),
        (col("event_type") === "purchase").as("t"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
    val obs = rows.agg(
        sum(when(col("t"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("t"), col("cents")).otherwise(0L)).as("s1"),
        sum(when(!col("t"), col("cents")).otherwise(0L)).as("s0"))
      .select(col("n1"), col("n0"),
        (col("s1").cast("double") / col("n1") -
          col("s0").cast("double") / col("n0")).as("d_obs"),
        (col("n1").cast("double") /
          (col("n1") + col("n0")).cast("double")).as("phat"))
    val reps = rows
      .select(col("event_id"), col("cents"),
        explode(sequence(lit(1), lit(b / 4))).as("g"))
      .withColumn("h", md5(concat_ws(":", col("event_id"), col("g"))))
      .select(col("cents"), col("g"),
        posexplode(array((0 until 4).map(sl =>
          substring(col("h"), sl * 8 + 1, 8)): _*)).as(Seq("sl", "hx")))
      .select(((col("g") - 1) * 4 + col("sl") + 1).as("b"), col("cents"),
        ((conv(col("hx"), 16, 10).cast("long").cast("double") + 0.5) /
          4294967296.0).as("u"))
    val perRep = reps.crossJoin(broadcast(obs.select("phat")))
      .select(col("b"), col("cents"), (col("u") < col("phat")).as("g1"))
      .groupBy("b")
      .agg(sum(when(col("g1"), col("cents")).otherwise(0L)).as("rs1"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("m1"),
        sum(when(!col("g1"), col("cents")).otherwise(0L)).as("rs0"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("m0"))
      .select(col("b"),
        when(col("m1") > 0 && col("m0") > 0,
          col("rs1").cast("double") / col("m1") -
            col("rs0").cast("double") / col("m0")).as("d_b"))
    // an all-one-side replicate (impossible at any real n) counts as
    // extreme — conservative, and the oracle mirrors the coalesce
    perRep.crossJoin(broadcast(obs))
      .agg(max(col("n1")).as("n_treat"), max(col("n0")).as("n_ctrl"),
        max(round(col("d_obs") / 100.0, 6)).as("diff_obs"),
        count(lit(1)).as("b_reps"),
        sum(when(coalesce(abs(col("d_b")) >= abs(col("d_obs")), lit(true)),
          1L).otherwise(0L)).as("n_extreme"))
      .select(col("n_treat"), col("n_ctrl"), col("diff_obs"), col("b_reps"),
        col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") /
          (col("b_reps") + 1).cast("double"), 6).as("p_value"))
  }

  /** COARSENED EXACT MATCHING ATT (Iacus, King & Porro 2012) — the
    * observational-causal estimate that actually distributes: coarsen
    * covariates into strata (order status × order quarter here), keep
    * strata containing BOTH treated and control rows, weight each
    * stratum's controls to its treated count, and read the average
    * treatment effect on the treated as (treated mean − weighted control
    * mean) over matched strata. No per-unit nearest-neighbor search, no
    * propensity model — the stratum groupBy IS the matching, so it is
    * one shuffle at any corpus size. Treatment = urgent/high order
    * priority; outcome = order value.
    *
    * Exactness: per-stratum counts and cent-sums are exact Longs; the
    * weighted control sum folds per-stratum terms nt·sc/nc rounded to
    * 6dp DECIMAL (order-independent), and the final ATT is one double
    * expression — both engines replay it bit-for-bit.
    */
  def cemAtt(orders: DataFrame): DataFrame = {
    val rows = orders.select(
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("t"),
      col("o_orderstatus").as("st"),
      (year(col("o_orderdate")) * 10 + quarter(col("o_orderdate")))
        .as("qtr"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    val strata = rows.groupBy("st", "qtr")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("t"), col("cents")).otherwise(0L)).as("sct"),
        sum(when(!col("t"), col("cents")).otherwise(0L)).as("scc"))
    val naive = rows.agg(
      (sum(when(col("t"), col("cents")).otherwise(0L)).cast("double") /
        sum(when(col("t"), 1L).otherwise(0L)) -
        sum(when(!col("t"), col("cents")).otherwise(0L)).cast("double") /
          sum(when(!col("t"), 1L).otherwise(0L))).as("naive"))
    val matched = col("nt") > 0 && col("nc") > 0
    strata.agg(
        count(lit(1)).as("n_strata"),
        sum(when(matched, 1L).otherwise(0L)).as("n_strata_matched"),
        sum(when(matched, col("nt")).otherwise(0L)).as("n_treated"),
        sum(when(matched, col("nc")).otherwise(0L)).as("n_control"),
        sum(when(matched, col("sct")).otherwise(0L)).as("st_sum"),
        sum(when(matched,
          round(col("nt").cast("double") * col("scc") / col("nc"), 6)
            .cast(DecimalType(28, 6))).otherwise(lit(0).cast(DecimalType(28, 6))))
          .as("wc_sum"))
      .crossJoin(broadcast(naive))
      .select(col("n_strata"), col("n_strata_matched"), col("n_treated"),
        col("n_control"),
        // no matched strata → no estimand: null, never a DIVIDE_BY_ZERO
        // under ANSI (found by the Round9dSpec degenerate gate)
        when(col("n_treated") > 0,
          round((col("st_sum").cast("double") / col("n_treated") -
            col("wc_sum").cast("double") / col("n_treated")) / 100.0, 6))
          .as("att"),
        round(col("naive") / 100.0, 6).as("naive_diff"))
  }

  /** KNEE / ELBOW of a monotone curve (the Kneedle criterion of Satopää
    * et al. 2011, chord form): normalize both axes to [0,1] over the
    * curve's endpoints and return the point farthest from the diagonal
    * chord — the operating point where marginal return bends. The
    * generic "pick the threshold for me" primitive for any sweep frame
    * the engine already emits (dedup/quality threshold sweeps, Lorenz
    * concentration, coverage-vs-vocab curves). Expects ≥ 2 distinct x.
    *
    * Scale posture: runs on an ALREADY-COLLAPSED curve frame (sweep or
    * decile cardinality); min/max ride in as one broadcast row, the
    * argmax is (gap desc, x asc) — a total order, no window.
    */
  def kneePoint(curve: DataFrame, xCol: String, yCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val mm = curve.agg(min(d(col(xCol))).as("x0"), max(d(col(xCol))).as("x1"),
      min(d(col(yCol))).as("y0"), max(d(col(yCol))).as("y1"))
    curve.crossJoin(broadcast(mm))
      .select(col(xCol), col(yCol),
        round(abs((d(col(xCol)) - col("x0")) / (col("x1") - col("x0")) -
          (d(col(yCol)) - col("y0")) / (col("y1") - col("y0"))), 6).as("gap"))
      .orderBy(desc("gap"), col(xCol))
      .limit(1)
  }

  /** O'BRIEN–FLEMING GROUP-SEQUENTIAL MONITOR (O'Brien & Fleming 1979;
    * boundary values from Jennison & Turnbull 2000, two-sided α=0.05,
    * K=5 equally-spaced looks): the classical peeking schedule next to
    * q_msprt's always-valid mixture — spend almost no alpha early
    * (|z| ≥ 4.877 at look 1) and close at nearly the fixed-sample
    * boundary (2.040 at look 5). Looks are calendar-based: the day
    * spine splits into 5 equal information fractions, and each look's z
    * is the Welch two-sample statistic on the CUMULATIVE purchase-vs-
    * click moments up to that look.
    *
    * Scale posture: one full-scan aggregate to (look × arm) exact Long
    * moments (day→look assignment is an ntile over the bounded day
    * spine, broadcast back onto events); the cumulative fold and z tree
    * run on the 5-row look frame.
    */
  def obrienFleming(ev: DataFrame): DataFrame = {
    val bounds = Seq(4.8769, 3.3569, 2.6803, 2.2898, 2.0310)
    val rows = ev
      .filter(col("event_type").isin("purchase", "click") &&
        col("value").isNotNull)
      .select(to_date(col("ts")).as("day"),
        (col("event_type") === "purchase").as("t"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
    // bounded day-spine window (calendar cardinality)
    val looks = rows.select("day").distinct()
      .withColumn("look", ntile(5).over(Window.orderBy("day")).cast("long"))
    val perLook = rows.join(broadcast(looks), Seq("day"))
      .groupBy("look")
      .agg(countDistinct(col("day")).as("n_days"),
        sum(when(col("t"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("na"),
        sum(when(col("t"), col("cents")).otherwise(0L)).as("sb"),
        sum(when(!col("t"), col("cents")).otherwise(0L)).as("sa"),
        sum(when(col("t"), (col("cents") * col("cents"))
          .cast(DecimalType(38, 0)))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).as("ssb"),
        sum(when(!col("t"), (col("cents") * col("cents"))
          .cast(DecimalType(38, 0)))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).as("ssa"))
    val w = Window.orderBy("look")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def cum(c: String) = sum(col(c)).over(w).as(c)
    val c = perLook.select(col("look"), cum("n_days"), cum("nb"), cum("na"),
      cum("sb"), cum("sa"), cum("ssb"), cum("ssa"))
    def d(cc: Column) = cc.cast("double")
    val varB = (d(col("ssb")) - d(col("sb")) * d(col("sb")) / d(col("nb"))) /
      (d(col("nb")) - 1.0)
    val varA = (d(col("ssa")) - d(col("sa")) * d(col("sa")) / d(col("na"))) /
      (d(col("na")) - 1.0)
    val z = (d(col("sb")) / d(col("nb")) - d(col("sa")) / d(col("na"))) /
      sqrt(varB / d(col("nb")) + varA / d(col("na")))
    val bound = bounds.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (e, (b, i)) => when(col("look") === (i + 1), b).otherwise(e)
    }
    c.select(col("look"), col("n_days"), col("na"), col("nb"),
        round(z, 6).as("z"), bound.as("boundary"),
        (abs(round(z, 6)) >= bound).as("crossed"))
      .orderBy("look")
  }

  /** PINBALL (QUANTILE) LOSS BACKTEST — the eval that decides whether a
    * quantile forecast is worth shipping: freeze the first 70% of the
    * daily-revenue spine as training, forecast the q ∈ {.1,.5,.9}
    * quantiles as the training window's exact type-1 quantiles, and
    * score each held-out day with L_q(y,ŷ) = max(q·(y−ŷ), (q−1)·(y−ŷ)).
    * Complements q_forecast_backtest (point MAE) with the quantile
    * calibration view (a good q=.9 forecast should under-shoot ~10% of
    * days, and pinball is the proper score for that claim).
    *
    * Scale posture: the 100 TB fact collapses to the day spine first;
    * split, ranks and quantiles live on that bounded frame; per-day
    * losses round to 6dp DECIMAL before the exact mean fold.
    */
  def pinballLoss(orders: DataFrame): DataFrame = {
    // quantiles as exact rationals k/10 (k = 1, 5, 9): rank, loss and
    // split are all INTEGER arithmetic — no float quantile boundary can
    // ever disagree between engines
    val ks = Seq(1L, 5L, 9L)
    val daily = dailyCents(orders, "dc")
    val n = daily.agg(count(lit(1)).as("nd"))
    val idx = daily.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("is_train", col("rn") <= expr("(nd * 7) div 10"))
    val trainN = idx.filter(col("is_train"))
      .agg(count(lit(1)).as("ntr"))
    // type-1 quantiles of the training days: rank over the bounded
    // train spine, pick ceil(k·n/10) = (k·n + 9) div 10
    val ranked = idx.filter(col("is_train"))
      .withColumn("qr", row_number().over(Window.orderBy("dc", "day")))
      .crossJoin(broadcast(trainN))
    val fc = ranked
      .select(explode(array(ks.map(lit): _*)).as("k"), col("qr"), col("dc"),
        col("ntr"))
      .filter(col("qr") === expr("(k * ntr + 9) div 10"))
      .select(col("k"), col("dc").as("fc"), col("ntr"))
    val test = idx.filter(!col("is_train")).select(col("day"), col("dc"))
    // pinball in cents·10 units: max(k·err, (k−10)·err) is an exact Long
    // per day, so the mean folds exactly with no per-term rounding
    val err = col("dc") - col("fc")
    val pin = greatest(col("k") * err, (col("k") - 10L) * err)
    test.crossJoin(broadcast(fc))
      .select(col("k"), col("fc"), col("ntr"), pin.as("loss"),
        when(col("dc") > col("fc"), 1L).otherwise(0L).as("over"))
      .groupBy("k", "fc", "ntr")
      .agg(count(lit(1)).as("n_test_days"),
        sum(col("loss")).as("lsum"), sum(col("over")).as("n_over"))
      .select((col("k").cast("double") / 10.0).as("q"),
        col("ntr").as("n_train_days"), col("n_test_days"),
        round(col("fc").cast("double") / 100.0, 6).as("forecast"),
        round(col("lsum").cast("double") / col("n_test_days") / 1000.0, 6)
          .as("pinball_loss"),
        round(col("n_over").cast("double") / col("n_test_days"), 6)
          .as("exceed_rate"))
      .orderBy("q")
  }

  /** NEGATIVE-BINOMIAL METHOD-OF-MOMENTS FIT of daily purchase counts —
    * q_overdispersion DETECTS var > mean; this fits the corrective
    * model: NB(r, p) with r = m²/(v−m), p = m/v (closed form, no MLE
    * iteration — the only NB fit that distributes as a one-pass
    * aggregate). The universe is the observed day spine from ALL events
    * (so zero-purchase days count as zeros — fitting only nonzero days
    * would truncate the distribution). Reported beside the observed
    * zero share, the number the Poisson assumption gets wrong first.
    *
    * Exactness: day counts are exact Longs from one fact pass; m, v and
    * the NB parameters are a single double tree of those integers.
    */
  def nbFit(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("c"))
    val m = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
      sum(col("c") * col("c")).as("ss"),
      sum(when(col("c") === 0, 1L).otherwise(0L)).as("z"))
    def d(c: Column) = c.cast("double")
    val mean = d(col("s")) / d(col("n"))
    val vr = (d(col("ss")) - d(col("s")) * d(col("s")) / d(col("n"))) /
      (d(col("n")) - 1.0)
    m.select(col("n").as("n_days"), round(mean, 6).as("mean"),
      round(vr, 6).as("variance"),
      when(vr > mean, round(mean * mean / (vr - mean), 6)).as("nb_r"),
      when(vr > mean, round(mean / vr, 6)).as("nb_p"),
      round(d(col("z")) / d(col("n")), 6).as("zero_share_obs"),
      round(exp(negate(mean)), 6).as("zero_share_poisson"))
  }

  /** SEASONAL-NAIVE MASE (Hyndman & Koehler 2006) on the daily-revenue
    * spine: the scale-free forecast benchmark — MAE of the one-step
    * weekly-naive forecast (ŷ_t = y_{t−7}) on the held-out 30%, scaled
    * by the SAME naive's in-sample MAE. MASE < 1 means a candidate
    * model beats the naive on its own scale; this emits the naive's own
    * denominator and held-out numerator so any model's MAE (e.g.
    * q_forecast_backtest's) divides in directly.
    *
    * Exactness: absolute errors are exact Long cents (lag over the
    * bounded day spine); both MAEs and the ratio are one double tree.
    */
  def maseNaive(orders: DataFrame): DataFrame = {
    val daily = dailyCents(orders, "dc")
    val n = daily.agg(count(lit(1)).as("nd"))
    val w = Window.orderBy("day")
    val idx = daily.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(w))
      .withColumn("lag7", lag(col("dc"), 7).over(w))
      .filter(col("lag7").isNotNull)
      .select((col("rn") <= expr("(nd * 7) div 10")).as("is_train"),
        abs(col("dc") - col("lag7")).as("ae"))
    val a = idx.agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(col("is_train"), col("ae")).otherwise(0L)).as("ae_train"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"),
      sum(when(!col("is_train"), col("ae")).otherwise(0L)).as("ae_test"))
    def d(c: Column) = c.cast("double")
    val maeTr = d(col("ae_train")) / d(col("n_train"))
    val maeTe = d(col("ae_test")) / d(col("n_test"))
    a.select(col("n_train").as("n_train_terms"),
      col("n_test").as("n_test_terms"),
      round(maeTr / 100.0, 6).as("mae_train"),
      round(maeTe / 100.0, 6).as("mae_test"),
      when(col("ae_train") > 0, round(maeTe / maeTr, 6)).as("mase"))
  }

  /** SEASONAL / TREND STRENGTH (Hyndman & Athanasopoulos, FPP3 §4.3) of
    * the daily-revenue series: F_S = max(0, 1 − Var(R)/Var(S+R)) and
    * F_T = max(0, 1 − Var(R)/Var(T+R)) over the q_seasonal_decompose
    * components (7-day centered trend, ISO-weekday additive seasonal,
    * remainder) — the two numbers that decide whether q_holt_winters'
    * seasonal machinery is worth running on a series at all.
    *
    * Exactness: the components are q_seasonal_decompose's own
    * ([[weeklyDetrend]]); variances come from exact integer moments
    * (squares in DECIMAL(38,0)) and the strengths are one double tree.
    */
  def seasonalStrength(orders: DataFrame): DataFrame = {
    val (det, seas) = weeklyDetrend(dailyCents(orders, "rc"))
    val rows = det.join(broadcast(seas), Seq("dow"))
      .select(col("det"), (col("det") - col("seasonal")).as("rem"),
        (col("rc") - col("seasonal")).as("tr"))
    def sq(c: Column) = (c.cast(DecimalType(38, 0)) * c.cast(DecimalType(38, 0)))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(col("det")).as("s_det"), sum(sq(col("det"))).as("ss_det"),
      sum(col("rem")).as("s_rem"), sum(sq(col("rem"))).as("ss_rem"),
      sum(col("tr")).as("s_tr"), sum(sq(col("tr"))).as("ss_tr"))
    def d(c: Column) = c.cast("double")
    def vr(s: String, ss: String) =
      (d(col(ss)) - d(col(s)) * d(col(s)) / d(col("n"))) / (d(col("n")) - 1.0)
    val fS = greatest(lit(0.0), lit(1.0) - vr("s_rem", "ss_rem") /
      vr("s_det", "ss_det"))
    val fT = greatest(lit(0.0), lit(1.0) - vr("s_rem", "ss_rem") /
      vr("s_tr", "ss_tr"))
    m.select(col("n").as("n_days"), round(fS, 6).as("seasonal_strength"),
      round(fT, 6).as("trend_strength"))
  }

  /** FRIEDMAN TEST (Friedman 1937, tie-corrected) — the BLOCKED
    * complement of q_kruskal_wallis: do the k event types differ in
    * daily value once the day itself is controlled for? Blocks = days,
    * treatments = event types, observation = the day's cent sum per
    * type (missing cells are true zeros — every block is complete by
    * construction, the Friedman requirement). Ranks are WITHIN-block,
    * so day-level shocks that inflate a between-groups test cancel.
    *
    * Exactness: the q_kruskal_wallis doubled-average-rank identity per
    * (day, value) group keeps every rank an integer; Q = 3·ΣD_j²/(n·k·
    * (k+1)) − 3n(k+1) with D_j the doubled rank sums, plus the
    * Σ(t³−t) tie correction — all one double tree over exact Longs.
    *
    * Scale posture: one fact pass to (day × k) cells; ranks come from
    * day-PARTITIONED windows over ≤k rows; everything after is
    * treatment-cardinality.
    */
  def friedman(ev: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val base = ev
      .filter(col("value").isNotNull && col("event_type").isin(types: _*))
      .groupBy(to_date(col("ts")).as("day"), col("event_type").as("t"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("cents"))
    val cells = base.select("day").distinct()
      .select(col("day"), explode(array(types.map(lit): _*)).as("t"))
      .join(base, Seq("day", "t"), "left")
      .na.fill(0L, Seq("cents"))
    val gp = cells.groupBy("day", "cents").agg(count(lit(1)).as("c"))
    val wDay = Window.partitionBy("day").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dRank = gp.withColumn("cum", sum(col("c")).over(wDay))
      .select(col("day"), col("cents"),
        (lit(2L) * col("cum") - col("c") + 1L).as("d_rank"))
    val byT = cells.join(dRank, Seq("day", "cents"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("d_rank")).as("d2"))
    val ties = gp.agg(
      sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
    val a = byT
      .agg(count(lit(1)).as("k"), max(col("n")).as("n_blocks"),
        sum((col("d2") * col("d2")).cast(DecimalType(38, 0))).as("d2sq"))
      .crossJoin(broadcast(ties))
    def d(c: Column) = c.cast("double")
    val dn = d(col("n_blocks")); val dk = d(col("k"))
    val q = lit(3.0) * d(col("d2sq")) / (dn * dk * (dk + 1)) -
      lit(3.0) * dn * (dk + 1)
    val cTie = lit(1.0) -
      d(col("tie")) / (dn * dk * (dk * dk - 1))
    a.select(col("n_blocks"), col("k").as("k_treatments"),
      (col("k") - 1).as("dof"),
      when(col("k") > 1, round(q, 6)).as("q_stat"),
      when(col("k") > 1 && cTie > 0, round(q / cTie, 6)).as("q_tie_adj"))
  }

  /** TOST EQUIVALENCE TEST (Schuirmann 1987) — the question q_ab_test
    * cannot answer: not "is B different" but "is B the SAME within a
    * margin δ" (non-inferiority/launch-parity reviews). Two one-sided
    * z-tests against Δ = ±δ; equivalence is declared iff BOTH reject,
    * i.e. p_tost = max(p_lower, p_upper) < α. Uses the portable A&S
    * tail, so both engines agree bit-for-bit.
    *
    * Scale posture: ONE full-scan aggregate to exact moments (the
    * q_bayes_ab shape); everything after is a scalar double tree.
    */
  def tostEquivalence(ev: DataFrame, deltaCents: Long = 500L): DataFrame = {
    val rows = ev
      .filter(col("event_type").isin("purchase", "click") &&
        col("value").isNotNull)
      .select((col("event_type") === "purchase").as("t"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
    val m = rows.agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("na"),
      sum(when(col("t"), col("cents")).otherwise(0L)).as("sb"),
      sum(when(!col("t"), col("cents")).otherwise(0L)).as("sa"),
      sum(when(col("t"), (col("cents") * col("cents"))
        .cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0))))
        .as("ssb"),
      sum(when(!col("t"), (col("cents") * col("cents"))
        .cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0))))
        .as("ssa"))
    def d(c: Column) = c.cast("double")
    val varB = (d(col("ssb")) - d(col("sb")) * d(col("sb")) / d(col("nb"))) /
      (d(col("nb")) - 1.0)
    val varA = (d(col("ssa")) - d(col("sa")) * d(col("sa")) / d(col("na"))) /
      (d(col("na")) - 1.0)
    val diff = d(col("sb")) / d(col("nb")) - d(col("sa")) / d(col("na"))
    val se = sqrt(varB / d(col("nb")) + varA / d(col("na")))
    // one-sided upper-tail p at z (any sign) from the two-sided A&S tail
    def upper(z: Column) = when(z >= 0, pTwoSided(abs(z)) / 2)
      .otherwise(lit(1.0) - pTwoSided(abs(z)) / 2)
    val pLo = upper((diff + deltaCents) / se)  // H0: Δ ≤ −δ
    val pUp = upper((lit(deltaCents.toDouble) - diff) / se) // H0: Δ ≥ +δ
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(diff / 100.0, 6).as("diff"),
      round(se / 100.0, 6).as("se"),
      lit(deltaCents / 100.0).as("delta"),
      round(pLo, 6).as("p_lower"), round(pUp, 6).as("p_upper"),
      round(greatest(pLo, pUp), 6).as("p_tost"),
      (greatest(pLo, pUp) < 0.05).as("equivalent"))
  }

  /** WILCOXON SIGNED-RANK TEST (Wilcoxon 1945, normal approximation
    * with tie correction) on the daily purchase−click value gap — the
    * PAIRED nonparametric location test: each day is its own control,
    * so day-level level shifts cancel and only the within-day sign and
    * magnitude of the gap counts (q_friedman generalizes this to k
    * treatments; this is the k=2 workhorse with the exact rank
    * statistic). Zero diffs drop (the standard convention).
    *
    * Exactness: the doubled-average-rank identity over the distinct
    * |diff| spine keeps W₂ = 2·W⁺, μ₂ = n(n+1)/2 and σ₂² =
    * n(n+1)(2n+1)/6 − Σ(t³−t)/12 all exact integers; z and the A&S
    * p-value are one double tree.
    */
  def wilcoxonSigned(ev: DataFrame): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val daily = ev
      .filter(col("value").isNotNull &&
        col("event_type").isin("purchase", "click"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", cents).otherwise(0L))
        .as("sp"),
        sum(when(col("event_type") === "click", cents).otherwise(0L))
          .as("sc"))
      .select((col("sp") - col("sc")).as("diff"))
      .filter(col("diff") =!= 0)
    val gp = daily
      .select(abs(col("diff")).as("ad"), (col("diff") > 0).as("pos"))
      .groupBy("ad")
      .agg(count(lit(1)).as("c"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("cp"))
    val w = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = gp.withColumn("cum", sum(col("c")).over(w))
      .select(col("c"), col("cp"),
        (lit(2L) * col("cum") - col("c") + 1L).as("d_rank"))
    val a = cum.agg(sum(col("c")).as("n"),
      sum(col("cp") * col("d_rank")).as("w2"),
      sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
    def d(c: Column) = c.cast("double")
    val dn = d(col("n"))
    val mu2 = dn * (dn + 1) / 2.0
    val var2 = dn * (dn + 1) * (lit(2.0) * dn + 1) / 6.0 -
      d(col("tie")) / 12.0
    val z = (d(col("w2")) - mu2) / sqrt(var2)
    a.select(col("n").as("n_pairs"),
      (d(col("w2")) / 2.0).as("w_plus"),
      when(var2 > 0, round(z, 6)).as("z"),
      when(var2 > 0, round(pTwoSided(abs(z)), 6)).as("p_value"))
  }

  /** LJUNG–BOX WHITE-NOISE TEST (Ljung & Box 1978) on the daily-revenue
    * autocorrelations: Q = n(n+2)·Σ ρ_k²/(n−k) over the first m lags —
    * the "is there ANY serial structure left" portmanteau that decides
    * whether q_acf_daily's per-lag readout means anything and whether a
    * forecaster's residuals are done. Rides [[acfDaily]] unchanged; the
    * fold adds one m-row pass.
    */
  def ljungBox(orders: DataFrame, m: Int = 7): DataFrame = {
    val a = acfDaily(orders, m)
    val terms = a.select((col("n_pairs") + col("lag")).as("n"),
      when(col("acf").isNotNull,
        round(col("acf") * col("acf") / col("n_pairs"), 12))
        .otherwise(lit(0.0)).cast(DecimalType(28, 12)).as("t"))
    terms.groupBy("n")
      .agg(count(lit(1)).as("m_lags"), sum(col("t")).as("ts"))
      .select(col("n").as("n_days"), col("m_lags"),
        round(col("n").cast("double") * (col("n") + 2).cast("double") *
          col("ts").cast("double"), 6).as("q_stat"),
        col("m_lags").as("dof"))
  }

  /** ABC REVENUE CLASSIFICATION (the Pareto/ABC inventory analysis):
    * parts ranked by revenue, class A = the heaviest parts covering the
    * first 80% of cumulative revenue, B the next 15%, C the tail — the
    * canonical "which SKUs deserve attention" split, and the
    * actionable-classes companion to q_lorenz_deciles' curve. Class
    * boundaries are INTEGER comparisons (cum·100 ≤ tot·80) so no float
    * share can flip a part at the boundary.
    *
    * Scale posture: the fact collapses to the part dimension first; the
    * cumulative window runs on that dimension-cardinality spine (the
    * q_lorenz_deciles precedent), then 3 rows.
    */
  def abcClasses(li: DataFrame): DataFrame = {
    val rev = li.groupBy("l_partkey")
      .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("rc"))
    val tot = rev.agg(sum(col("rc")).as("tot"))
    val w = Window.orderBy(desc("rc"), col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Boundary products and the ppm share route through DECIMAL(38,0):
    // at 100 TB the corpus-total cents exceed 1e17, so cum*100 / tot*95 /
    // revenue_cents*1e6 all overflow Long (the shuffleQuality recipe).
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    rev.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("rc")).over(w))
      .select(col("rc"), col("tot"),
        when(dec(col("cum")) * 100 <= dec(col("tot")) * 80, "A")
          .when(dec(col("cum")) * 100 <= dec(col("tot")) * 95, "B")
          .otherwise("C").as("abc"))
      .groupBy("abc")
      .agg(count(lit(1)).as("n_parts"), sum(col("rc")).as("revenue_cents"),
        max(col("tot")).as("tot"))
      .select(col("abc"), col("n_parts"), col("revenue_cents"),
        expr("CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000 div tot" +
          " AS BIGINT)").as("share_ppm"))
      .orderBy("abc")
  }

  /** STATIONARY DISTRIBUTION of the in-session event-type Markov chain
    * (power iteration on the q_session_transitions matrix): where does
    * a user's session SETTLE in the long run — the single-vector
    * summary that turns the k×k transition matrix into a ranking of
    * steady-state attention, and the chain-level complement of
    * q_entropy_rate's one-number predictability.
    *
    * Exactness: the q_pagerank fixed-point contract — row-normalized
    * probabilities p = n·S div n_i and every update Σ π_i·p_ij div S in
    * integer division (products through DECIMAL(38,0)/HUGEINT), so
    * DuckDB replays all rounds bit-for-bit. States without outgoing
    * transitions get an explicit self-loop so mass never vanishes.
    *
    * Scale posture: ONE fact pass (the sessionize windows) collapses to
    * the k²-row transition frame; all iteration happens on k-row/k²-row
    * frames. k = event-type cardinality, broadcast-class forever.
    */
  /** Transition frames are event-type² cardinality (bounded vocabulary at
    * any corpus size), so below this many rows the 4-round fixed point
    * runs as driver state with the IDENTICAL integer scheme — the
    * Graph.DriverEdgeLimit pattern: each distributed round here is 2-3
    * jobs of pure scheduling overhead (measured 29/40 jobs on the markov
    * pair, cpu_wall < 2) while the arithmetic itself is microseconds.
    * A degenerate corpus with > 1M distinct transition types takes the
    * distributed branch unchanged.
    */
  private[operators] val MarkovDriverLimit = 1000000

  def markovStationary(events: DataFrame, iters: Int = 4): DataFrame =
    markovStationaryImpl(events, iters, MarkovDriverLimit)

  /** Probe + dispatch (the weightedRank contract): ONE limit-collect of
    * the transition frame serves both the size check and the driver
    * rounds; an over-limit frame falls back to the distributed loop with
    * the collected probe burned (its one extra scan — the documented
    * probeOrPersist cost). `limit` is the test seam: Round14Spec forces
    * the distributed branch with limit = -1.
    */
  private[operators] def markovStationaryImpl(events: DataFrame, iters: Int,
                                              limit: Int): DataFrame = {
    if (limit >= 0) {
      val rows = Graph.probeCollect(sessionTransitions(events), limit)
      // NULL event types interact with the frame plan's null-rejecting
      // equality joins (a null-dst pi row never re-enters a round); the
      // driver's hash maps would treat null as an ordinary key — refuse
      // the fast path instead of replicating that corner
      if (rows.length <= limit &&
          rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
        return markovStationaryDriver(rows, iters, events.sparkSession)
    }
    markovStationaryDistributed(events, iters)
  }

  /** Driver rounds of the S = 10¹² fixed-point scheme — value-identical
    * to [[markovStationaryDistributed]]: BigInt products replay the
    * DECIMAL(38,0) promotions, quotients are truncated (non-negative ⇒
    * floor, Spark `div` ≡ DuckDB `//`), and per-edge quotients are
    * summed AFTER flooring exactly as `sum(pi * p div S)` does. The pi
    * key-set bookkeeping mirrors the frame joins: a round's output keys
    * are the dst of edges whose src carried a pi row (sum may be 0 but
    * the key exists); the final readout left-joins states and fills 0.
    */
  private def markovStationaryDriver(rows: Array[org.apache.spark.sql.Row],
                                     iters: Int,
                                     spark: SparkSession): DataFrame = {
    import spark.implicits._
    val S = 1000000000000L
    val SB = BigInt(S)
    val m = rows.length
    if (m == 0) {
      // empty transition frame: states is empty → empty readout (the
      // distributed plan releases zero rows with the same schema)
      return Seq.empty[(String, Long, Long)]
        .toDF("state", "pi_mass", "share_ppm")
    }
    val ni = new java.util.HashMap[String, Long]()
    val states = new java.util.LinkedHashSet[String]()
    rows.foreach { r =>
      val s0 = r.getString(0)
      ni.merge(s0, r.getLong(2), (a, b) => a + b)
      states.add(s0); states.add(r.getString(1)): Unit
    }
    // edges as (src, dst, p): p = n·S div ni, plus S self-loops for
    // states without outgoing transitions (mass never vanishes)
    val es = new scala.collection.mutable.ArrayBuffer[(String, String, Long)](
      m + states.size)
    rows.foreach { r =>
      val s0 = r.getString(0)
      es += ((s0, r.getString(1),
        (BigInt(r.getLong(2)) * SB / BigInt(ni.get(s0))).toLong))
    }
    states.forEach { st =>
      if (!ni.containsKey(st)) es += ((st, st, S)): Unit
    }
    val k = states.size.toLong
    var pi = new java.util.HashMap[String, Long]()
    states.forEach(st => pi.put(st, S / k): Unit)
    for (_ <- 1 to iters) {
      val nxt = new java.util.HashMap[String, Long]()
      es.foreach { case (s0, d0, p) =>
        if (pi.containsKey(s0)) {
          val v: Long = pi.get(s0)
          nxt.merge(d0, (BigInt(v) * BigInt(p) / SB).toLong, (a, b) => a + b): Unit
        }
      }
      pi = nxt
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    states.forEach { st =>
      val mass: Long = if (pi.containsKey(st)) pi.get(st) else 0L
      out += ((st, mass, mass * 1000000L / S))
    }
    out.toSeq.toDF("state", "pi_mass", "share_ppm").orderBy("state")
  }

  private def markovStationaryDistributed(events: DataFrame,
                                          iters: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val S = 1000000000000L
    // k/k²-cardinality frames cache SINGLE-partition: a 32-partition cached
    // layout makes every downstream stage spawn one near-empty task per
    // partition (measured 47 jobs / 1233 tasks on q_markov_attribution)
    val tr = sessionTransitions(events).coalesce(1).persistTracked()
    val ni = tr.groupBy("src").agg(sum(col("n")).as("ni"))
    val pEdges = tr.join(ni, Seq("src"))
      .select(col("src"), col("dst"),
        expr(s"CAST(CAST(n AS DECIMAL(38,0)) * $S div ni AS BIGINT)")
          .as("p"))
    val states = tr.select(col("src").as("state"))
      .union(tr.select(col("dst").as("state"))).distinct()
      .coalesce(1).persistTracked()
    val selfRows = states
      .join(tr.select(col("src").as("state")).distinct(), Seq("state"),
        "left_anti")
      .select(col("state").as("src"), col("state").as("dst"),
        lit(S).as("p"))
    val pm = pEdges.union(selfRows).coalesce(1).persistTracked()
    val kf = states.agg(count(lit(1)).as("k"))
    var pi = states.crossJoin(broadcast(kf))
      .select(col("state"), expr(s"$S div k").as("pi"))
    for (_ <- 1 to iters) {
      pi = pm.join(pi.select(col("state").as("src"), col("pi")), Seq("src"))
        .groupBy(col("dst").as("state"))
        .agg(sum(expr(s"CAST(pi AS DECIMAL(38,0)) * p div $S")).as("pd"))
        .select(col("state"), col("pd").cast("long").as("pi"))
        .coalesce(1).persistTracked()
    }
    states.join(pi, Seq("state"), "left")
      .na.fill(0L, Seq("pi"))
      .select(col("state"), col("pi").as("pi_mass"),
        expr(s"pi * 1000000 div $S").as("share_ppm"))
      .orderBy("state")
  }

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2016's
    * chain-based multi-touch model): each non-conversion event type is a
    * channel; its credit is how much the session chain's conversion
    * probability DROPS when walks may no longer pass through it
    * (removed-channel mass flows to the null absorber). The
    * fundamental-matrix quantity P(absorb at purchase | start) is solved
    * by fixed-point value iteration in S = 10^12 integer arithmetic (the
    * q_pagerank/q_markov_stationary contract), so DuckDB replays every
    * round bit-for-bit. Transitions out of purchase are ignored
    * (absorbing); per-state denominators are RAW occurrence counts, so
    * the residual mass (occ − Σ out) is each state's organic exit to
    * the null absorber — no renormalization is needed when a channel's
    * inbound edges are removed, the freed mass exits, which is exactly
    * the removal semantics.
    *
    * Complements q_shapley_attr (cooperative-game credit on converting
    * paths) with the counterfactual-chain credit the marketing
    * literature contrasts it against.
    *
    * Scale posture: ONE sessionize pass to the k²-row transition frame
    * and the k-row start/occurrence frames; the value iteration runs on
    * the (k+1 removals × k states) grid — broadcast-class forever; no
    * driver state, no collect (removal candidates stay a k-row frame).
    */
  def markovAttribution(events: DataFrame, iters: Int = 4): DataFrame =
    markovAttributionImpl(events, iters, MarkovDriverLimit)

  /** Probe + dispatch — the [[markovStationaryImpl]] contract applied to
    * the removal-effect grid: the transition, occurrence and start-count
    * frames are all event-type-vocabulary bounded, so the whole value
    * iteration is driver state below the probe limit. Three bounded
    * collects (k² + k + k rows) replace ~40 scheduling-floor jobs;
    * `limit = -1` forces the distributed branch (the Round14Spec seam).
    */
  private[operators] def markovAttributionImpl(events: DataFrame, iters: Int,
                                               limit: Int): DataFrame = {
    if (limit >= 0) {
      val trRows = Graph.probeCollect(
        sessionTransitions(events).filter(col("src") =!= "purchase"), limit)
      // the null gate: see markovStationaryImpl (null-rejecting joins)
      if (trRows.length <= limit &&
          trRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
        return markovAttributionDriver(events, trRows, iters)
    }
    markovAttributionDistributed(events, iters)
  }

  /** Driver value iteration — value-identical to
    * [[markovAttributionDistributed]]: BigInt products replay the
    * DECIMAL(38,0) promotions, truncated quotients replay `div` on the
    * non-negative domain, and the grid/contribution key-set bookkeeping
    * mirrors the frame joins (skeleton = removals × occ states; contrib
    * keys = (rm, src) pairs surviving the rm-filters; pv keys = removals
    * with ≥ 1 start-state grid cell).
    */
  private def markovAttributionDriver(events: DataFrame,
                                      trRows: Array[org.apache.spark.sql.Row],
                                      iters: Int): DataFrame = {
    val spark = events.sparkSession
    val S = 1000000000000L
    val SB = BigInt(S)
    // occ and st are event-type-cardinality aggregates (bounded vocabulary)
    val occRows = events.groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("occ")).collect()
    val stRows = withSessionNo(events).filter(col("new_sess") === 1)
      .groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("st")).collect()
    // the null gate again (see markovStationaryImpl): a null event type
    // behaves as a joinless key in the frame plan — take the distributed
    // branch rather than replicate that corner in hash maps
    if (occRows.exists(_.isNullAt(0)) || stRows.exists(_.isNullAt(0)))
      return markovAttributionDistributed(events, iters)
    val occ = new java.util.HashMap[String, Long]()
    occRows.foreach(r => occ.put(r.getString(0), r.getLong(1)): Unit)
    val occStates = occRows.map(_.getString(0))
    val removals = occStates.filter(_ != "purchase") :+ "(none)"
    val tr = trRows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // x(rm)(state); grid cells exist for every (rm, state) pair
    def initX(): java.util.HashMap[(String, String), Long] = {
      val x = new java.util.HashMap[(String, String), Long]()
      removals.foreach(rm => occStates.foreach(st =>
        x.put((rm, st), if (st == "purchase") S else 0L): Unit))
      x
    }
    var x = initX()
    for (_ <- 1 to iters) {
      // contrib(rm, src) = Σ over edges (src→dst, src≠rm, dst≠rm) of n·x(rm)(dst)
      val contrib = new java.util.HashMap[(String, String), BigInt]()
      removals.foreach { rm =>
        tr.foreach { case (s0, d0, n) =>
          if (s0 != rm && d0 != rm) {
            val xv: Long = x.get((rm, d0)) // dst always ∈ occ states
            contrib.merge((rm, s0), BigInt(n) * BigInt(xv), (a, b) => a + b): Unit
          }
        }
      }
      val nxt = new java.util.HashMap[(String, String), Long]()
      removals.foreach(rm => occStates.foreach { st =>
        val v =
          if (st == "purchase") S
          else if (st == rm) 0L
          else {
            val c = contrib.get((rm, st))
            if (c == null) 0L else (c / BigInt(occ.get(st))).toLong
          }
        nxt.put((rm, st), v): Unit
      })
      x = nxt
    }
    // pv(rm) = (Σ over start states st·x) div total starts — inner join on
    // st states (all ∈ occ states by construction)
    val stTot = stRows.map(_.getLong(1)).sum
    val pv = new java.util.HashMap[String, Long]()
    if (stTot > 0) removals.foreach { rm =>
      var sp = BigInt(0)
      stRows.foreach { r =>
        sp += BigInt(r.getLong(1)) * BigInt(x.get((rm, r.getString(0))))
      }
      pv.put(rm, (sp / BigInt(stTot)).toLong): Unit
    }
    // pv holds every removal whenever stTot > 0; stTot = 0 means no
    // events, hence no removal besides "(none)" and no rows
    val pf: Long = pv.get("(none)")
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val outRows: Seq[org.apache.spark.sql.Row] =
      removals.filter(_ != "(none)").toSeq.map { rm =>
        val p: Long = pv.get(rm)
        org.apache.spark.sql.Row(rm, pf / 1000000L, p / 1000000L,
          if (pf > 0) java.lang.Long.valueOf(
            (BigInt(pf - p) * BigInt(1000000) / BigInt(pf)).toLong)
          else null)
      }
    spark.createDataFrame(
        java.util.Arrays.asList(outRows: _*),
        StructType(Seq(StructField("channel", StringType),
          StructField("p_full_ppm", LongType),
          StructField("p_removed_ppm", LongType),
          StructField("removal_effect_ppm", LongType))))
      .orderBy("channel")
  }

  private def markovAttributionDistributed(events: DataFrame,
                                           iters: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val S = 1000000000000L
    val spark = events.sparkSession
    // same single-partition cache discipline as markovStationary (above)
    val tr = sessionTransitions(events)
      .filter(col("src") =!= "purchase").coalesce(1).persistTracked()
    val occ = events.groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("occ")).coalesce(1).persistTracked()
    val removals = occ.select(col("state").as("rm"))
      .filter(col("rm") =!= "purchase")
      .union(spark.range(1).select(lit("(none)").as("rm")))
      .coalesce(1).persistTracked()
    val skeleton = removals.crossJoin(broadcast(occ)).coalesce(1).persistTracked()
    var grid = skeleton.select(col("rm"), col("state"), col("occ"),
      when(col("state") === "purchase", S).otherwise(0L).as("x"))
    for (_ <- 1 to iters) {
      val contrib = grid.select(col("rm"), col("state").as("dst"), col("x"))
        .join(tr, Seq("dst"))
        .filter(col("src") =!= col("rm") && col("dst") =!= col("rm"))
        .groupBy(col("rm"), col("src").as("state"))
        .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * x")).as("sx"))
      grid = skeleton.join(contrib, Seq("rm", "state"), "left")
        .select(col("rm"), col("state"), col("occ"),
          when(col("state") === "purchase", S)
            .when(col("state") === col("rm"), 0L)
            .otherwise(coalesce(expr("CAST(sx div occ AS BIGINT)"),
              lit(0L))).as("x"))
    }
    val st = withSessionNo(events).filter(col("new_sess") === 1)
      .groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("st")).coalesce(1).persistTracked()
    val stTot = st.agg(sum(col("st")).as("tot"))
    val pv = grid.join(st, Seq("state"))
      .groupBy("rm")
      .agg(sum(expr("CAST(st AS DECIMAL(38,0)) * x")).as("sp"))
      .crossJoin(broadcast(stTot))
      .select(col("rm"), expr("CAST(sp div tot AS BIGINT)").as("p"))
      .coalesce(1).persistTracked()
    val full = pv.filter(col("rm") === "(none)")
      .select(col("p").as("pf"))
    pv.filter(col("rm") =!= "(none)")
      .crossJoin(broadcast(full))
      .select(col("rm").as("channel"),
        expr("pf div 1000000").as("p_full_ppm"),
        expr("p div 1000000").as("p_removed_ppm"),
        when(col("pf") > 0,
          expr("CAST(CAST(pf - p AS DECIMAL(38,0)) * 1000000 div pf" +
            " AS BIGINT)")).as("removal_effect_ppm"))
      .orderBy("channel")
  }

  /** PRICE INDEX NUMBERS (Laspeyres 1871 / Paasche 1874 / Fisher 1922's
    * ideal index) between the corpus's first and last ship years: the
    * canonical "how much did prices move, holding the basket fixed"
    * readout — Laspeyres weights by base-year quantities (overstates
    * inflation), Paasche by current-year (understates), Fisher is their
    * geometric mean. Unit prices are ratio-of-exact-sums per (part,
    * year); only parts traded in BOTH years enter (the matched-model
    * convention).
    *
    * Scale posture: one fact pass to (part, year) exact cent/qty sums;
    * the base/current frames self-join co-partitioned on part; index
    * numerators fold 6dp DECIMAL terms (order-independent), and the
    * three indices are one double tree.
    */
  def priceIndex(li: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val py = li.select(col("l_partkey").as("part"),
        year(col("l_shipdate")).as("y"),
        (col("l_quantity").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("q"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("e"))
      .groupBy("part", "y")
      .agg(sum(col("q")).as("sq"), sum(col("e")).as("se"))
      .persistTracked()
    val yr = py.agg(min(col("y")).as("y0"), max(col("y")).as("y1"))
    val j = py.crossJoin(broadcast(yr))
    val base = j.filter(col("y") === col("y0"))
      .select(col("part"), col("y0"), col("y1"),
        col("sq").as("q0"), col("se").as("e0"))
    val cur = j.filter(col("y") === col("y1"))
      .select(col("part"), col("sq").as("q1"), col("se").as("e1"))
    def d(c: Column) = c.cast("double")
    val p0 = d(col("e0")) / d(col("q0"))
    val p1 = d(col("e1")) / d(col("q1"))
    def t6(x: Column) = round(x, 6).cast(DecimalType(38, 6))
    val m = base.join(cur, Seq("part"))
      .select(col("y0"), col("y1"),
        t6(p1 * d(col("q0"))).as("l_num"), t6(p0 * d(col("q0"))).as("l_den"),
        t6(p1 * d(col("q1"))).as("p_num"), t6(p0 * d(col("q1"))).as("p_den"))
      .groupBy("y0", "y1")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("l_num")).cast("double").as("ln"),
        sum(col("l_den")).cast("double").as("ld"),
        sum(col("p_num")).cast("double").as("pn"),
        sum(col("p_den")).cast("double").as("pd"))
    val lasp = col("ln") / col("ld")
    val paas = col("pn") / col("pd")
    m.select(col("y0").as("base_year"), col("y1").as("current_year"),
      col("n_parts"), round(lasp, 6).as("laspeyres"),
      round(paas, 6).as("paasche"),
      round(sqrt(lasp * paas), 6).as("fisher"))
  }

  /** RATIO-METRIC LIFT BETWEEN ARMS (Deng et al. 2017's delta method,
    * two-sample form) — q_ratio_ci gives ONE group's ratio CI; the
    * experiment readout needs the DIFFERENCE of two arms' ratio metrics
    * (value per event here) with user-level variance, because both the
    * numerator and denominator are randomized at the user grain. Arms
    * come from the q_ab_test md5 user split; se²(R) per arm =
    * (varX + R²·varY − 2R·covXY)/(n·ȳ²), combined independently.
    *
    * Scale posture: one user-keyed aggregate, then a 2-group moment
    * frame collapsed to one row — the whole readout after the per-user
    * pass is scalar.
    */
  def ratioLiftCi(ev: DataFrame): DataFrame = {
    val arm = when(conv(substring(md5(col("user_id").cast("string")), 1, 4),
      16, 10).cast("long") % 2 === 0, "a").otherwise("b")
    val perUser = ev.filter(col("value").isNotNull)
      .select(col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("xc"))
      .groupBy("user_id")
      .agg(sum(col("xc")).as("x"), count(lit(1)).as("y"))
      .withColumn("arm", arm)
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val m = perUser.groupBy("arm").agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    def pick(a: String, c: String) =
      max(when(col("arm") === a, col(c))).as(s"${a}_$c")
    val wide = m.agg(
      pick("a", "n"), pick("a", "sx"), pick("a", "sy"), pick("a", "sxx"),
      pick("a", "syy"), pick("a", "sxy"),
      pick("b", "n"), pick("b", "sx"), pick("b", "sy"), pick("b", "sxx"),
      pick("b", "syy"), pick("b", "sxy"))
    def d(c: Column) = c.cast("double")
    def ratio(p: String) = d(col(s"${p}_sx")) / d(col(s"${p}_sy"))
    def se2(p: String) = {
      val nD = d(col(s"${p}_n"))
      // Deng et al. use SAMPLE (n−1) variances/covariance — the Bessel
      // factor n/(n−1) on the central moments; the population form is
      // biased low at small per-arm user counts (inflates 'significant').
      val bessel = nD / (nD - lit(1.0))
      val xb = d(col(s"${p}_sx")) / nD
      val yb = d(col(s"${p}_sy")) / nD
      val varX = (d(col(s"${p}_sxx")) / nD - xb * xb) * bessel
      val varY = (d(col(s"${p}_syy")) / nD - yb * yb) * bessel
      val covXY = (d(col(s"${p}_sxy")) / nD - xb * yb) * bessel
      val r = ratio(p)
      (varX + r * r * varY - lit(2.0) * r * covXY) / (nD * yb * yb)
    }
    val diff = ratio("b") - ratio("a")
    val se = sqrt(se2("a") + se2("b"))
    wide.select(col("a_n").as("n_users_a"), col("b_n").as("n_users_b"),
      round(ratio("a") / 100.0, 6).as("ratio_a"),
      round(ratio("b") / 100.0, 6).as("ratio_b"),
      round(diff / 100.0, 6).as("diff"),
      round(se / 100.0, 6).as("se"),
      round((diff - lit(1.959964) * se) / 100.0, 6).as("ci_lo"),
      round((diff + lit(1.959964) * se) / 100.0, 6).as("ci_hi"),
      (abs(diff) > lit(1.959964) * se).as("significant"))
  }

  /** OFF-POLICY EVALUATION: IPS and SNIPS (Horvitz-Thompson inverse
    * propensity scoring; self-normalized variant per Swaminathan & Joachims
    * 2015) — "what would this target policy have earned on the logged
    * traffic?", the counterfactual readout that decides a rule change
    * WITHOUT an experiment. Logged actions are the event types, rewards
    * the event values, contexts the hour of day; logging propensities are
    * the empirical action marginals (the estimated-propensity variant,
    * Strehl et al. 2010), and the target policy is a deterministic
    * hour-of-day rule (evenings → purchase, work hours → click, else
    * view). ESS = (Σw)²/Σw² is the importance-weight health check: a
    * collapsed ESS says the logs can't evaluate this policy.
    *
    * Exactness: the estimator folds PER ACTION, not per row — for a
    * deterministic policy, Σ over rows of r·1[π(x)=a]/p̂(a) equals
    * n·Σ_a S_a/n_a with S_a, m_a, n_a exact Long sums, and the n's
    * cancel in every released ratio. The k per-action ratio terms round
    * to fixed-scale DECIMAL before the exact fold (k = action
    * cardinality, so this frame is broadcast-class forever).
    *
    * Scale posture: ONE full-scan map-side-combined aggregate to the
    * action-cardinality frame; everything after is k-row arithmetic.
    */
  def ipsOffPolicy(ev: DataFrame): DataFrame = {
    val h = hour(col("ts"))
    val target = when(h >= 18 && h <= 23, "purchase")
      .when(h >= 9 && h <= 17, "click")
      .otherwise("view")
    val matched = target === col("event_type")
    val cents = (coalesce(col("value"), lit(0.0))
      .cast(DecimalType(18, 2)) * 100).cast("long")
    val per = ev.filter(col("ts").isNotNull)
      .groupBy(col("event_type").as("a"))
      .agg(count(lit(1)).as("na"),
        sum(when(matched, 1L).otherwise(0L)).as("ma"),
        sum(when(matched, cents).otherwise(0L)).as("sa"))
    def d(c: Column) = c.cast("double")
    // per-action ratio terms at fixed scale so the k-row fold is exact
    val tw = round(d(col("ma")) / d(col("na")), 12)
      .cast(DecimalType(28, 12))
    val twr = round(d(col("sa")) / d(col("na")), 6)
      .cast(DecimalType(28, 6))
    val tw2 = round(d(col("ma")) / (d(col("na")) * d(col("na"))), 12)
      .cast(DecimalType(28, 12))
    val agg = per.select(col("na"), col("ma"),
        tw.as("tw"), twr.as("twr"), tw2.as("tw2"))
      .agg(sum(col("na")).as("n"), sum(col("ma")).as("n_matched"),
        sum(col("tw")).cast("double").as("sw"),
        sum(col("twr")).cast("double").as("swr"),
        sum(col("tw2")).cast("double").as("sw2"))
    // n cancels: V_IPS = Σ_a S_a/n_a (cents), SNIPS = swr/sw,
    // ESS share = sw²/sw2/n (1.0 = weights are uniform)
    agg.select(col("n"), col("n_matched"),
      round(col("swr") / 100.0, 6).as("ips_value"),
      when(col("sw") > 0, round(col("swr") / col("sw") / 100.0, 6))
        .as("snips_value"),
      when(col("sw2") > 0,
        round(col("sw") * col("sw") / col("sw2"), 6)).as("ess"),
      round(d(col("n_matched")) / d(col("n")), 6).as("match_rate"))
  }

  // Shared Cramer formulas for the 3×3 normal equations (intercept + two
  // regressors) — ONE string each, parsed by Spark's expr AND interpolated
  // verbatim into the DuckDB oracle, so the double trees are identical by
  // construction. Inputs are double-cast exact moment sums named
  // n/sx/sz/sy/sxx/szz/sxz/sxy/szy/syy.
  private[operators] val olsDet =
    "(n*(sxx*szz - sxz*sxz) - sx*(sx*szz - sz*sxz) + sz*(sx*sxz - sz*sxx))"
  private[operators] val olsD0 =
    "(sy*(sxx*szz - sxz*sxz) - sx*(sxy*szz - szy*sxz) + sz*(sxy*sxz - szy*sxx))"
  private[operators] val olsD1 =
    "(n*(sxy*szz - szy*sxz) - sy*(sx*szz - sz*sxz) + sz*(sx*szy - sz*sxy))"
  private[operators] val olsD2 =
    "(n*(sxx*szy - sxz*sxy) - sx*(sx*szy - sz*sxy) + sy*(sx*sxz - sz*sxx))"

  /** MULTIPLE LINEAR REGRESSION via distributed normal equations
    * (the textbook scale path for small-p OLS: ONE map-side-combined
    * pass accumulates the p² Gram sums, the p×p solve is driver-trivial
    * — here a closed-form 3×3 Cramer, still inside the plan). Regresses
    * line-item revenue on quantity and discount: the joint effect
    * q_ols_trend's single-regressor fit can't separate (discount and
    * quantity correlate through pricing rules).
    *
    * Exactness: y in cents, discount in basis points — every moment is
    * an exact DECIMAL(38,0) fold (Σy·x at 100 TB tops 1e19+, past Long);
    * the determinants are single double expressions of those exact sums,
    * SHARED as literal strings with the oracle so both engines parse the
    * same tree. Degenerate design (det 0) → null coefficients.
    *
    * R² = 1 − SSE/TSS with SSE = Σy² − b'X'y — no residual pass needed.
    */
  def olsMulti(li: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val base = li.select(
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("y"),
      col("l_quantity").cast("long").as("x"),
      (col("l_discount").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("z"))
    val m = base.agg(count(lit(1)).as("cn"),
      sum(dec(col("x"))).as("msx"), sum(dec(col("z"))).as("msz"),
      sum(dec(col("y"))).as("msy"),
      sum(dec(col("x")) * dec(col("x"))).as("msxx"),
      sum(dec(col("z")) * dec(col("z"))).as("mszz"),
      sum(dec(col("x")) * dec(col("z"))).as("msxz"),
      sum(dec(col("x")) * dec(col("y"))).as("msxy"),
      sum(dec(col("z")) * dec(col("y"))).as("mszy"),
      sum(dec(col("y")) * dec(col("y"))).as("msyy"))
    def d(c: String) = col(c).cast("double")
    val dd = m.select(d("cn").as("n"), d("msx").as("sx"), d("msz").as("sz"),
      d("msy").as("sy"), d("msxx").as("sxx"), d("mszz").as("szz"),
      d("msxz").as("sxz"), d("msxy").as("sxy"), d("mszy").as("szy"),
      d("msyy").as("syy"), col("cn"))
    val sol = dd.select(col("cn"), col("n"), col("sy"), col("sxy"),
      col("szy"), col("syy"),
      expr(olsDet).as("det"), expr(olsD0).as("d0"),
      expr(olsD1).as("d1"), expr(olsD2).as("d2"))
    val ok = abs(col("det")) > 0
    val b0 = col("d0") / col("det")
    val b1 = col("d1") / col("det")
    val b2 = col("d2") / col("det")
    val sse = col("syy") - b0 * col("sy") - b1 * col("sxy") -
      b2 * col("szy")
    val tss = col("syy") - col("sy") * col("sy") / col("n")
    sol.select(col("cn").as("n"),
      when(ok, round(b0 / 100.0, 6)).as("intercept_usd"),
      when(ok, round(b1 / 100.0, 6)).as("per_qty_usd"),
      // cents-per-z-unit × (100 z per fraction) ÷ (100 cents per USD) = 1:
      // b2 is already USD per unit discount fraction
      when(ok, round(b2, 6)).as("per_discount_usd"),
      when(ok && tss > 0, round(lit(1.0) - sse / tss, 6)).as("r2"))
  }

  /** MORAN'S I SPATIAL AUTOCORRELATION (Moran 1950) of customer density
    * over the derived 0.5°-cell grid (the P8/P9 synthetic-geo binning
    * convention): are occupied cells' counts similar to their
    * queen-adjacent neighbors' (I > E[I] = −1/(N−1), clustering) or
    * anti-correlated (checkerboard)? The standard first screen before
    * trusting per-cell hotspot statistics (q_grid_clusters,
    * q_s6_bbox_summary).
    *
    * Exactness: with z'_i = N·x_i − Σx (exact integers; the shared N
    * scaling cancels in the ratio), I = (N/W)·Σ_ij w_ij z'_i z'_j / Σz'²
    * needs float only in the final division; both cross-product folds
    * route through DECIMAL(38,0)/HUGEINT.
    *
    * Scale posture: the corpus collapses to the occupied-cell lattice
    * first (one shuffle, calendar/grid-bounded, never corpus-bounded);
    * queen adjacency is an EQUI-join — each cell emits its 8 neighbor
    * keys map-side and joins on the exact (lat, lng) key, never a
    * theta/range join; everything after is cell-cardinality work.
    */
  def moransI(customer: DataFrame): DataFrame = {
    val cells = customer.groupBy(
        floor(col("c_acctbal") / 500.0).cast("long").as("li"),
        (col("c_custkey") % 12).cast("long").as("gi"))
      .agg(count(lit(1)).as("x"))
    val glob = cells.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val z = cells.crossJoin(broadcast(glob))
      .select(col("li"), col("gi"), (col("n") * col("x") - col("s")).as("z"),
        col("n"))
      .persistTracked()
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
      (0, 1), (1, -1), (1, 0), (1, 1))
    val nbr = z.select(col("z").as("zi"),
        explode(array(offs.map { case (a, b) =>
          struct((col("li") + a).as("li"), (col("gi") + b).as("gi"))
        }: _*)).as("o"))
      .select(col("zi"), col("o.li").as("li"), col("o.gi").as("gi"))
    val num = nbr.join(z.select("li", "gi", "z"), Seq("li", "gi"))
      .agg(count(lit(1)).as("w_pairs"),
        sum(dec(col("zi")) * dec(col("z"))).as("num"))
    val den = z.agg(max(col("n")).as("n_cells"),
      sum(dec(col("z")) * dec(col("z"))).as("den"))
    num.crossJoin(broadcast(den))
      .select(col("n_cells"), col("w_pairs"),
        when(col("w_pairs") > 0 && col("den") > 0,
          round(col("n_cells").cast("double") /
            col("w_pairs").cast("double") *
            (col("num").cast("double") / col("den").cast("double")), 6))
          .as("morans_i"),
        when(col("n_cells") > 1,
          round(lit(-1.0) / (col("n_cells").cast("double") - 1.0), 6))
          .as("expected_i"))
  }

  /** THEIL–SEN ROBUST TREND (Theil 1950; Sen 1968) of daily revenue over
    * the trailing `windowDays`: the median of all pairwise slopes —
    * immune to ~29% contamination where an OLS slope is dragged by one
    * flash-sale day. The robust KPI trend arrow. (q_trend_robust is the
    * PER-SEGMENT monthly variant via the percentile engine; this is the
    * corpus-level daily window with the exact type-1 fixed-point
    * median — no interpolated float anywhere.)
    *
    * Exactness: each slope is the FIXED-POINT integer
    * ⌊Δcents·100/Δdays⌋. Spark `div` and DuckDB integer `//` BOTH
    * truncate toward zero (verified: DuckDB -7//2 = -3), so each engine
    * converts truncation to floor with the same exact remainder
    * adjustment (q − 1 when the dividend is negative and the remainder
    * nonzero) — valid for ANY Δy magnitude, unlike the earlier +K·Δt
    * shift whose K = 10^14 only covered |Δy·100| < K and would overflow
    * the floor identity beyond ~$10^10 daily deltas.
    * The median is the exact type-1 order statistic off the
    * distinct-slope count spine (2·cum ≥ n), no float interpolation
    * anywhere.
    *
    * Scale posture: the corpus collapses to the calendar-bounded day
    * spine first (one shuffle); the pair frame is spine² capped by the
    * window (≤ windowDays²/2 rows) INDEPENDENT of corpus rows, and the
    * median cumsum runs over distinct slope values of that bounded
    * frame.
    */
  def theilSen(orders: DataFrame, windowDays: Int = 180): DataFrame = {
    val d = trailingDays(orders, windowDays)
    val pairs = d.as("a").join(d.as("b"),
        col("b.t") > col("a.t")) // bounded spine² — never corpus²
      .select(expr(
        // floor division for signed dividends: Spark div truncates, so
        // subtract 1 when the (negative-slope) remainder is nonzero —
        // matches DuckDB // (floor) bit-for-bit at any |Δy|
        "CAST((CAST(b.y - a.y AS DECIMAL(38,0)) * 100) div (b.t - a.t) " +
          "AS BIGINT) - (CASE WHEN b.y < a.y AND " +
          "(CAST(b.y - a.y AS DECIMAL(38,0)) * 100) % (b.t - a.t) != 0 " +
          "THEN 1 ELSE 0 END)").as("s_fp"))
    val cum = valueCum(pairs, "s_fp")
    val tot = d.agg(count(lit(1)).as("n_days"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
    orderStat(cum, tot, "s_fp", "n_pairs", 1, 2, "slope_fp",
        max(col("n_days")).as("n_days"), max(col("n_pairs")).as("n_pairs"))
      .select(col("n_days"), col("n_pairs"),
        round(col("slope_fp").cast("double") / 10000.0, 6)
          .as("slope_dollars_per_day"))
  }

  /** HODGES–LEHMANN SHIFT + MANN–WHITNEY U (Hodges & Lehmann 1963;
    * Mann & Whitney 1947): the UNPAIRED two-sample companion of
    * q_wilcoxon_signed — "how much bigger are purchase days than click
    * days, and is the shift real?" — with the robust effect size the
    * rank test alone doesn't give: HL = exact type-1 median of ALL
    * pairwise differences (the estimator whose breakdown matches the
    * test), plus the tie-corrected normal-approximation U/z/p.
    *
    * Exactness: differences are exact cents Longs; the HL median is the
    * 2·cum ≥ n order statistic on the distinct-difference spine (the
    * q_theil_sen idiom); rank sums use the doubled-midrank integers
    * (the aucRank identity). Scale posture: both samples collapse to
    * the CALENDAR-bounded day spine before the pair frame, so the
    * cross join is days², never corpus²; the rank pass runs on the
    * distinct-value spine.
    */
  def hodgesLehmann(events: DataFrame): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val daily = events
      .filter(col("value").isNotNull &&
        col("event_type").isin("purchase", "click"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(cents).as("v"))
      .persistTracked()
    val x = daily.filter(col("event_type") === "purchase")
      .select(col("v").as("x"))
    val y = daily.filter(col("event_type") === "click")
      .select(col("v").as("y"))
    // both sides are calendar-bounded day frames; broadcasting the
    // click side keeps the pair build shuffle-free at any corpus size
    val diffs = x.crossJoin(broadcast(y))
      .select((col("x") - col("y")).as("d"))
    val cum = valueCum(diffs, "d")
    val np = diffs.agg(count(lit(1)).as("n_pairs"))
    val hl = orderStat(cum, np, "d", "n_pairs", 1, 2, "hl",
      max(col("n_pairs")).as("n_pairs"))
    val allv = x.select(col("x").as("v"), lit(1L).as("isx"))
      .unionByName(y.select(col("y").as("v"), lit(0L).as("isx")))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gv = allv.groupBy("v")
      .agg(count(lit(1)).as("c"), sum(col("isx")).as("cx"))
      .withColumn("cum", sum(col("c")).over(wv))
      .select(col("c"), col("cx"),
        (lit(2L) * col("cum") - col("c") + 1L).as("d_rank"))
    val a = gv.agg(sum(col("cx") * col("d_rank")).as("r2x"),
      sum(col("cx")).as("nx"), sum(col("c") - col("cx")).as("ny"),
      sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
    def d(c: Column) = c.cast("double")
    val nx = d(col("nx"))
    val ny = d(col("ny"))
    val n = nx + ny
    val u = d(col("r2x")) / 2.0 - nx * (nx + 1) / 2.0
    // tie/(n(n−1)) is 0/0 at n ≤ 1 and v2 sits inside an eager `when`
    // condition (ANSI double abort); the correction is moot there since
    // v2 ≤ 0 withholds z/p anyway, so a safe stand-in denominator is exact
    val v2 = nx * ny / 12.0 *
      ((n + 1) - d(col("tie")) / greatest(n * (n - 1), lit(1.0)))
    val z = (u - nx * ny / 2.0) / sqrt(v2)
    a.crossJoin(broadcast(hl)).select(
      col("nx").as("n_x"), col("ny").as("n_y"), col("n_pairs"),
      round(u, 6).as("u_stat"),
      when(v2 > 0, round(z, 6)).as("z"),
      when(v2 > 0, round(pTwoSided(abs(z)), 6)).as("p_value"),
      round(d(col("hl")) / 100.0, 6).as("hl_shift_dollars"))
  }

  /** COCHRAN–ARMITAGE TREND TEST (Cochran 1954; Armitage 1955): is the
    * return rate MONOTONICALLY trending across ordered quantity doses
    * (1–10, 11–20, … 41–50)? The dose-response test that a flat χ²
    * contingency (q_chi2_contingency) has no power for — one ordered
    * alternative instead of k−1 unordered ones.
    *
    * Exactness: all five moment sums (n, r, t·r, t·n, t²·n) are exact
    * integers from ONE dose-level pass; z needs float only at the end.
    * Scale posture: one map-side-combined shuffle to the k≤5 dose
    * frame, then scalar work.
    */
  def cochranArmitage(li: DataFrame): DataFrame = {
    val g = li.select(
        (expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 10 AS BIGINT)")
          + 1L).as("t"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("r")).as("rr"))
    val a = g.agg(sum(col("n")).as("nn"), sum(col("rr")).as("rt"),
      sum(col("t") * col("rr")).as("str"),
      sum(col("t") * col("n")).as("stn"),
      sum(col("t") * col("t") * col("n")).as("st2n"),
      count(lit(1)).as("k_doses"))
    def d(c: Column) = c.cast("double")
    val pbar = d(col("rt")) / d(col("nn"))
    val num = d(col("str")) - pbar * d(col("stn"))
    val den = pbar * (lit(1.0) - pbar) *
      (d(col("st2n")) - d(col("stn")) * d(col("stn")) / d(col("nn")))
    val z = num / sqrt(den)
    a.select(col("k_doses"), col("nn").as("n_rows"),
      round(pbar, 6).as("overall_rate"),
      when(den > 0, round(z, 6)).as("z"),
      when(den > 0, round(pTwoSided(abs(z)), 6)).as("p_value"))
  }

  /** GPD TAIL FIT (peaks-over-threshold, Pickands 1975; method-of-moments
    * per Hosking & Wallis 1987): model order totals ABOVE the exact p95
    * as a Generalized Pareto — the extreme-value answer to "how bad is
    * the 1-in-100 order?" that empirical quantiles can't extrapolate.
    * Released: shape ξ (heavy tail when > 0), scale β, and the
    * GPD-extrapolated VaR₉₉.
    *
    * Exactness: the threshold is the type-1 20·cum ≥ 19·n order
    * statistic on the distinct-value spine (never an interpolated
    * float); excess moments are exact DECIMAL sums; the one pow routes
    * through the explicit exp(−ξ·ln x) tree both engines share.
    * Scale posture: value-spine cumsum (domain-bounded) + one filtered
    * moment pass; no sort of raw rows anywhere.
    */
  def tailGpd(orders: DataFrame): DataFrame = {
    val v = orders
      .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("v"))
      .persistTracked()
    val cum = valueCum(v, "v")
    val nn = v.agg(count(lit(1)).as("n"))
    val u = orderStat(cum, nn, "v", "n", 19, 20, "u", max(col("n")).as("n"))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val exc = v.crossJoin(broadcast(u)).filter(col("v") > col("u"))
      .agg(max(col("u")).as("u"), max(col("n")).as("n"),
        count(lit(1)).as("ne"),
        sum(dec(col("v") - col("u"))).as("sy"),
        sum(dec(col("v") - col("u")) * dec(col("v") - col("u")))
          .as("syy"))
    def d(c: Column) = c.cast("double")
    val ne = d(col("ne"))
    val m = d(col("sy")) / ne
    val s2 = (d(col("syy")) - ne * m * m) / (ne - 1)
    val r = m * m / s2
    val xi = lit(0.5) * (lit(1.0) - r)
    val beta = lit(0.5) * m * (lit(1.0) + r)
    val tailp = lit(0.01) * d(col("n")) / ne
    val varq = d(col("u")) +
      beta / xi * (exp(lit(-1.0) * xi * log(tailp)) - 1.0)
    val ok = col("ne") > 1 && s2 > 0
    exc.select(col("n").as("n_total"),
      round(d(col("u")) / 100.0, 2).as("threshold_dollars"),
      col("ne").as("n_exceed"),
      round(m / 100.0, 6).as("mean_excess_dollars"),
      when(ok, round(xi, 6)).as("xi"),
      when(ok, round(beta / 100.0, 6)).as("beta_dollars"),
      when(ok && abs(xi) > 1e-9 && tailp > 0, round(varq / 100.0, 2))
        .as("var99_dollars"))
  }

  /** SHARP REGRESSION DISCONTINUITY (Thistlethwaite & Campbell 1960;
    * local-linear per Imbens & Lemieux 2008) at the quantity-25/26
    * break: does unit revenue JUMP at the cutoff (a price-break /
    * policy-threshold effect), net of the smooth trend on each side?
    * Separate local-linear fits left and right of the cutoff inside the
    * ±15-quantity bandwidth; the jump is the difference of the two
    * intercepts AT the cutoff.
    *
    * Exactness: the running variable is recentred to the INTEGER
    * half-unit distance x = 2·qty − 51 (the cutoff lands exactly on
    * x = 0, no .5 floats); each side's OLS comes from exact
    * DECIMAL(38,0) Gram sums with the n·Σxy − ΣxΣy differencing done in
    * decimal BEFORE the one double division (the q_cuped recipe).
    * Scale posture: one filtered scan into two 5-moment groups; scalar
    * algebra after.
    */
  def rdd(li: DataFrame, halfCut: Int = 51, h: Int = 15): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val base = li.select(
        (col("l_quantity").cast("long") * 2 - halfCut).as("x"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("y"))
      .filter(abs(col("x")) <= 2 * h)
    val mo = base
      .groupBy(when(col("x") > 0, "right").otherwise("left").as("side"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    def d(c: Column) = c.cast("double")
    val det = dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")
    val slByX = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
    val icNum = (col("sy") * col("sxx") - dec(col("sx")) * col("sxy"))
    val fit = mo.select(col("side"), col("n"),
      when(d(det) > 0, d(slByX) / d(det)).as("slope_x"),
      when(d(det) > 0, d(icNum) / d(det)).as("icpt"))
    val one = fit.groupBy().agg(
      max(when(col("side") === "left", col("n"))).as("n_left"),
      max(when(col("side") === "right", col("n"))).as("n_right"),
      max(when(col("side") === "left", col("icpt"))).as("yl"),
      max(when(col("side") === "right", col("icpt"))).as("yr"),
      max(when(col("side") === "left", col("slope_x"))).as("sl"),
      max(when(col("side") === "right", col("slope_x"))).as("sr"))
    one.select(col("n_left"), col("n_right"),
      round(col("yl") / 100.0, 4).as("y_left_dollars"),
      round(col("yr") / 100.0, 4).as("y_right_dollars"),
      round((col("yr") - col("yl")) / 100.0, 4).as("jump_dollars"),
      round(col("sl") * 2 / 100.0, 4).as("slope_left_per_qty"),
      round(col("sr") * 2 / 100.0, 4).as("slope_right_per_qty"))
  }

  /** Harmonic cos/sin tables for [[harmonicPower]]: cos(2πj/p) for
    * j = 0..p−1, Scala doubles embedded as IDENTICAL literals in both
    * engines (the ndcg-discount idiom) — no in-engine trig anywhere.
    */
  private[operators] def cosLit(p: Int): IndexedSeq[Double] =
    (0 until p).map(j => math.cos(2 * math.Pi * j / p))
  private[operators] def sinLit(p: Int): IndexedSeq[Double] =
    (0 until p).map(j => math.sin(2 * math.Pi * j / p))

  /** FIXED-PERIOD HARMONIC POWER (the classical periodogram restricted
    * to candidate calendar periods): the share of daily-revenue variance
    * explained by the first harmonic at period p ∈ {7, 30} — "is there a
    * weekly / monthly cycle, and how strong?" — the quantitative gate
    * before fitting seasonal models (q_holt_winters,
    * q_seasonal_strength's decomposition twin from the frequency side).
    *
    * Exactness: phases are INTEGER day-index residues t mod p, so the
    * cos/sin values form a p-entry literal table ([[cosLit]]) shared by
    * both engines — no in-engine trig; centered values are the exact
    * integers z = n·y − Σy (the q_morans_i scaling trick; the n's cancel
    * in the variance share); each projection term rounds 6dp and folds
    * as DECIMAL. Scale posture: corpus → calendar-bounded day spine,
    * then one p-branch CASE pass per period.
    */
  def harmonicPower(orders: DataFrame,
                    periods: Seq[Int] = Seq(7, 30)): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val spine = dayIndexed(dailyCents(orders, "y")).persistTracked()
    val g = spine.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val zc = spine.crossJoin(broadcast(g))
      .select(col("t"), (dec(col("n")) * col("y") - dec(col("s"))).as("z"),
        col("n"))
    def d(c: Column) = c.cast("double")
    val per = periods.map { p =>
      val phase = col("t") % p
      def lits(tab: IndexedSeq[Double]) =
        (1 until p).foldLeft(when(phase === 0, lit(tab(0)))) { (acc, j) =>
          acc.when(phase === j, lit(tab(j)))
        }
      val a = sum(round(d(col("z")) * lits(cosLit(p)), 6)
        .cast(DecimalType(38, 6)))
      val b = sum(round(d(col("z")) * lits(sinLit(p)), 6)
        .cast(DecimalType(38, 6)))
      zc.agg(max(col("n")).as("n"), a.as("a"), b.as("b"),
          sum(col("z") * col("z")).as("szz"))
        .select(lit(p).as("period"), col("n").as("n_days"),
          when(col("szz") > 0,
            round(lit(2.0) * (d(col("a")) * d(col("a")) +
              d(col("b")) * d(col("b"))) /
              (d(col("n")) * d(col("szz"))), 6))
            .as("var_share"))
    }
    per.reduce(_ unionByName _).orderBy("period")
  }

  /** TWO-COMPONENT GAUSSIAN MIXTURE by EM (Dempster, Laird & Rubin
    * 1977), 3 unrolled iterations on the daily-revenue spine: are days a
    * MIXTURE of two revenue regimes (slow/busy), and where do the
    * regimes sit? The model-based companion to q_a6's marginal quantiles
    * — a bimodal spine has no "typical day", and the fitted π tells how
    * often each regime rules.
    *
    * Determinism across engines (the q_platt_scaling recipe): init is
    * data-derived but exact (μ = type-1 q25/q75 order statistics, σ² =
    * exact-moment sample variance rounded 6dp, π = 0.5); every E-step
    * responsibility is the IDENTICAL double tree rounded 9dp before the
    * M-step's DECIMAL folds; every new parameter rounds 6dp before the
    * next iteration, so a 1-ulp decimal→double cast wobble cannot
    * propagate. Underflowed densities (both components exp→0) fall back
    * to the nearer-mean hard assignment in both engines.
    *
    * Scale posture: the corpus collapses once to the calendar-bounded
    * day spine; each EM iteration is one broadcast-params map pass +
    * one 6-sum aggregate over that spine — iterations never reshuffle,
    * and at 100 TB the spine is still just days.
    */
  def gmmDaily(orders: DataFrame, iters: Int = 3): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    def d(c: Column) = c.cast("double")
    val daily = dailyCents(orders, "y")
      .select("y").persistTracked()
    val cum = valueCum(daily, "y").persistTracked()
    val nn = daily.agg(count(lit(1)).as("n"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val q1 = orderStat(cum, nn, "y", "n", 1, 4, "m1")
    val q3 = orderStat(cum, nn, "y", "n", 3, 4, "m2")
    // init variance clamps like the M-step: an all-identical (or single)
    // day corpus gives s0 = 0 and the FIRST E-step would hit the eager
    // ANSI double 0/0 inside f() — the same one-regime class the M-step
    // greatest(...,1.0) guards
    val s0 = round(greatest((d(col("syy")) - d(col("sy")) * d(col("sy")) /
      d(col("n"))) / greatest(d(col("n")) - 1, lit(1.0)), lit(1.0)), 6)
    var params = nn.crossJoin(broadcast(q1)).crossJoin(broadcast(q3))
      .select(col("n"), d(col("m1")).as("mu1"), d(col("m2")).as("mu2"),
        s0.as("s1"), s0.as("s2"), lit(0.5).as("p1"))
    val yd = d(col("y"))
    for (_ <- 1 to iters) {
      def f(mu: Column, s: Column) =
        exp(lit(-0.5) * (yd - mu) * (yd - mu) / s) / sqrt(s)
      val num = col("p1") * f(col("mu1"), col("s1"))
      val den = num + (lit(1.0) - col("p1")) * f(col("mu2"), col("s2"))
      val rRaw = when(den > 0, num / den)
        .otherwise(when(abs(yd - col("mu1")) <= abs(yd - col("mu2")),
          lit(1.0)).otherwise(lit(0.0)))
      val m = daily.crossJoin(broadcast(params))
        .select(col("y"), round(rRaw, 9).as("r"), col("n"))
        .agg(max(col("n")).as("n"),
          sum(col("r").cast(DecimalType(28, 9))).as("sr"),
          sum(round(col("r") * yd, 6).cast(DecimalType(38, 6))).as("sry"),
          sum(round(col("r") * yd * yd, 2).cast(DecimalType(38, 2)))
            .as("sryy"),
          sum(dec(col("y"))).as("sy"),
          sum(dec(col("y")) * dec(col("y"))).as("syy"))
      // both component masses route through safe stand-ins: a corpus one
      // regime fully absorbs (sr → n or → 0) would otherwise hit the
      // eager ANSI double 0/0 (the KN-discount lesson)
      val srSafe = greatest(d(col("sr")), lit(0.000001))
      val s2Safe = greatest(d(col("n")) - d(col("sr")), lit(0.000001))
      val mu1n = d(col("sry")) / srSafe
      val mu2n = (d(col("sy")) - d(col("sry"))) / s2Safe
      params = m.select(col("n"),
        round(mu1n, 6).as("mu1"), round(mu2n, 6).as("mu2"),
        round(greatest(d(col("sryy")) / srSafe - mu1n * mu1n,
          lit(1.0)), 6).as("s1"),
        round(greatest((d(col("syy")) - d(col("sryy"))) /
          s2Safe - mu2n * mu2n, lit(1.0)), 6)
          .as("s2"),
        round(d(col("sr")) / d(col("n")), 6).as("p1"))
    }
    val flip = col("mu1") <= col("mu2")
    params.select(col("n").as("n_days"),
      round(when(flip, col("p1")).otherwise(lit(1.0) - col("p1")), 6)
        .as("pi_lo"),
      round(when(flip, col("mu1")).otherwise(col("mu2")) / 100.0, 2)
        .as("mu_lo_dollars"),
      round(when(flip, col("mu2")).otherwise(col("mu1")) / 100.0, 2)
        .as("mu_hi_dollars"),
      round(sqrt(when(flip, col("s1")).otherwise(col("s2"))) / 100.0, 2)
        .as("sigma_lo_dollars"),
      round(sqrt(when(flip, col("s2")).otherwise(col("s1"))) / 100.0, 2)
        .as("sigma_hi_dollars"))
  }

  /** CROSS-CORRELATION FUNCTION (the lead/lag companion of q_acf_daily):
    * ccf(k) = corr(purchase_{t+k}, click_t) for k ∈ −maxLag..maxLag —
    * "do clicks LEAD purchases (positive-lag peak) or trail them?" — the
    * standard pre-whitening-free first look before any transfer-function
    * or attribution model.
    *
    * Exactness: per-lag Pearson from exact DECIMAL moment sums with the
    * n·Σxy − ΣxΣy differencing done in decimal before the one double
    * division (the exactCorr recipe). Scale posture: corpus → calendar
    * day spine once; each row emits its 2·maxLag+1 (lag, t−k) keys
    * map-side and equi-joins back to the spine — never a theta join;
    * moments group to the lag frame (≤ 15 rows).
    */
  def ccfDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val daily = events
      .filter(col("value").isNotNull &&
        col("event_type").isin("purchase", "click"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", cents).otherwise(0L))
        .as("p"),
        sum(when(col("event_type") === "click", cents).otherwise(0L))
          .as("c"))
    val spine = dayIndexed(daily).persistTracked()
    val la = spine.select(col("t"), col("p"),
        explode(array((-maxLag to maxLag).map(k => lit(k.toLong)): _*))
          .as("lag"))
      .select(col("lag"), (col("t") - col("lag")).as("t2"), col("p"))
    val mo = la.join(spine.select(col("t").as("t2"), col("c")), Seq("t2"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("p"))).as("sp"), sum(dec(col("c"))).as("sc"),
        sum(dec(col("p")) * dec(col("c"))).as("spc"),
        sum(dec(col("p")) * dec(col("p"))).as("spp"),
        sum(dec(col("c")) * dec(col("c"))).as("scc"))
    def d(c: Column) = c.cast("double")
    val covN = d(dec(col("n")) * col("spc") - col("sp") * col("sc"))
    val vpN = d(dec(col("n")) * col("spp") - col("sp") * col("sp"))
    val vcN = d(dec(col("n")) * col("scc") - col("sc") * col("sc"))
    mo.select(col("lag").cast("int").as("lag"), col("n").as("n_pairs"),
        when(vpN > 0 && vcN > 0,
          round(covN / sqrt(vpN * vcN), 6)).as("ccf"))
      .orderBy("lag")
  }

  /** PRICE ELASTICITY OF DEMAND (log-log OLS): the slope of
    * ln(quantity) on ln(unit price) across lineitem rows — the
    * percent-quantity-per-percent-price number every pricing decision
    * quotes. One exact-moment pass; elasticity < 0 means demand bends
    * down with price.
    *
    * Exactness: each ln routes through the SAME double expression on
    * both engines and is immediately frozen to the fixed-point integer
    * ⌊ln(·)·2^20⌋ (power-of-two scaling — the q_kmeans Long-fold rule:
    * floor is exact, no decimal round-trip); all Gram sums are
    * DECIMAL(38,0); the shared 2^20 scale cancels in the slope. r² from
    * the same moments.
    *
    * Scale posture: one map-side pass to six scalar sums; no spine, no
    * join, no window.
    */
  def priceElasticity(li: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val up = col("l_extendedprice").cast("double") /
      col("l_quantity").cast("double")
    // PARITY ASSUMPTION (documented, accepted): the ⌊ln(·)·2^20⌋ freeze
    // assumes JVM Math.log and DuckDB ln return the SAME double for every
    // input (both are correctly-rounded libm-class implementations; held
    // bit-for-bit at sf0.01 AND sf0.1). A 1-ulp divergence within 2^-20 of
    // an integer boundary would flip one bucket — unlike cosLit/ndcgDisc
    // there is no literal table to route through because the argument is
    // data-dependent, and rounding ln first merely moves the cliff to the
    // round boundary. hurst shares the exposure (softened by 4dp
    // post-aggregation rounding).
    val xi = floor(log(up) * 1048576).cast("long")
    val yi = floor(log(col("l_quantity").cast("double")) * 1048576)
      .cast("long")
    val mo = li
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(xi.as("x"), yi.as("y"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    def d(c: Column) = c.cast("double")
    val covN = d(dec(col("n")) * col("sxy") - col("sx") * col("sy"))
    val vxN = d(dec(col("n")) * col("sxx") - col("sx") * col("sx"))
    val vyN = d(dec(col("n")) * col("syy") - col("sy") * col("sy"))
    mo.select(col("n").as("n_rows"),
      when(vxN > 0, round(covN / vxN, 6)).as("elasticity"),
      when(vxN > 0 && vyN > 0,
        round(covN * covN / (vxN * vyN), 6)).as("r2"))
  }

  /** SAX SYMBOLIZATION + MOTIF COUNTS (Lin, Keogh et al. 2003, on the
    * weekly PAA): complete weeks of revenue collapse to their exact
    * integer sums, terciles of the week-sum spine cut symbols a/b/c, and
    * consecutive 3-week symbol trigrams are the MOTIFS — "which
    * low/mid/high revenue shapes recur?", the discrete pattern-mining
    * view that q_acf_daily's linear correlations can't see.
    *
    * Exactness: week sums are exact cents Longs (no mean — PAA over
    * equal 7-day windows compares identically by sum); tercile cuts are
    * type-1 order statistics (3·cum ≥ n, 3·cum ≥ 2n); motifs are string
    * concatenation. Scale posture: corpus → day spine → week spine; the
    * lead window runs on the WEEK spine (calendar-bounded).
    */
  def saxMotifs(orders: DataFrame): DataFrame = {
    val weeks = dayIndexed(dailyCents(orders, "y"))
      .groupBy(expr("t div 7").as("wk"))
      .agg(sum(col("y")).as("ws"), count(lit(1)).as("nd"))
      .filter(col("nd") === 7)
      .persistTracked()
    val cum = valueCum(weeks, "ws")
    val nn = weeks.agg(count(lit(1)).as("n"))
    val b1 = orderStat(cum, nn, "ws", "n", 1, 3, "b1")
    val b2 = orderStat(cum, nn, "ws", "n", 2, 3, "b2")
    val sym = weeks.crossJoin(broadcast(b1)).crossJoin(broadcast(b2))
      .select(col("wk"),
        when(col("ws") <= col("b1"), "a")
          .when(col("ws") <= col("b2"), "b").otherwise("c").as("s"))
    val wo = Window.orderBy("wk")
    // motifs must span CONSECUTIVE weeks: incomplete weeks were dropped
    // above (nd = 7), so on gapped calendars lead() would otherwise stitch
    // non-adjacent weeks into a phantom "3-week" motif — require
    // wk+1/wk+2 adjacency in both engines
    val motifs = sym
      .select(col("wk"),
        when(lead(col("wk"), 1).over(wo) === col("wk") + 1 &&
            lead(col("wk"), 2).over(wo) === col("wk") + 2,
          concat(col("s"), lead(col("s"), 1).over(wo),
            lead(col("s"), 2).over(wo))).as("motif"))
      .filter(col("motif").isNotNull)
    val tot = motifs.agg(count(lit(1)).as("tot"))
    motifs.groupBy("motif").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("motif"), col("n"),
        expr("n * 1000000 div tot").as("share_ppm"))
      .orderBy(desc("n"), col("motif"))
  }

  /** JARQUE–BERA NORMALITY TEST (Jarque & Bera 1980) of daily revenue:
    * JB = n/6·(S² + K²/4) from exact skewness and excess kurtosis — the
    * "can I use z-intervals on this metric at all" gate in front of
    * q_ab_test / q_bayes_ab's normal machinery. χ²(2) tail has the
    * closed form exp(−JB/2), so no special function is needed.
    *
    * Exactness: values shift to integer dollars about the FLOOR-mean
    * first (central moments are shift-invariant; the shift keeps the
    * 4th-power sums inside DECIMAL(38) where raw cents⁴ would blow it),
    * then all four moment sums are exact decimal folds and the moment
    * identities are one shared double tree. Scale posture: corpus →
    * day spine; two spine passes (shift, then moments).
    */
  def jarqueBera(orders: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val daily = dailyCents(orders, "yc")
      .select(expr("yc div 100").as("y"))
      .persistTracked()
    val g = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val sh = daily.crossJoin(broadcast(g))
      .select((col("y") - expr("s div n")).as("dv"), col("n"))
    val mo = sh.groupBy("n").agg(
      sum(dec(col("dv"))).as("s1"),
      sum(dec(col("dv")) * dec(col("dv"))).as("s2"),
      sum(dec(col("dv")) * dec(col("dv")) * dec(col("dv"))).as("s3"),
      sum(dec(col("dv")) * dec(col("dv")) * dec(col("dv")) *
        dec(col("dv"))).as("s4"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    val m1 = d(col("s1")) / nd
    val m2 = d(col("s2")) / nd - m1 * m1
    val m3 = d(col("s3")) / nd - lit(3.0) * m1 * (d(col("s2")) / nd) +
      lit(2.0) * m1 * m1 * m1
    val m4 = d(col("s4")) / nd - lit(4.0) * m1 * (d(col("s3")) / nd) +
      lit(6.0) * m1 * m1 * (d(col("s2")) / nd) -
      lit(3.0) * m1 * m1 * m1 * m1
    val skew = m3 / (m2 * sqrt(m2))
    val kx = m4 / (m2 * m2) - lit(3.0)
    val jb = nd / 6.0 * (skew * skew + kx * kx / 4.0)
    mo.select(col("n").as("n_days"),
      when(m2 > 0, round(skew, 6)).as("skewness"),
      when(m2 > 0, round(kx, 6)).as("kurtosis_excess"),
      when(m2 > 0, round(jb, 6)).as("jb_stat"),
      when(m2 > 0, round(exp(lit(-0.5) * jb), 6)).as("p_value"))
  }

  /** INSTRUMENTAL-VARIABLE / WALD ESTIMATOR (Wald 1940; the LATE of
    * Imbens & Angrist 1994): the md5 user split is the ENCOURAGEMENT
    * instrument Z, "heavy clicker" (≥ 10 clicks) is the endogenous
    * exposure X, purchase spend is Y — β_IV = ITT_Y / ITT_X, the
    * non-compliance-proof effect estimate the naive X→Y regression
    * can't give (clickers self-select). Released with the first-stage
    * strength and a weak-instrument flag (|ITT_X| ≤ 0.01 → the Wald
    * ratio explodes and is withheld — the standard F≈10 caution in
    * ratio form). On the hash A/A instrument the EXPECTED readout is
    * weak_instrument = true — the op's job is to withhold the ratio in
    * exactly that case; the planted spec drives the strong-instrument
    * path.
    *
    * Exactness: per-arm counts/sums are exact integers/decimals; the
    * two ITTs and their ratio are one shared double tree. Scale: one
    * user-grain shuffle, then a 2-row frame.
    */
  def ivWald(events: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val per = events.groupBy("user_id").agg(
      when(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        >= 10, 1L).otherwise(0L).as("x"),
      sum(when(col("event_type") === "purchase" && col("value").isNotNull,
        cents).otherwise(0L)).as("yc"))
    val z = when(
      conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 2 === 0, 0L).otherwise(1L)
    val g = per.select(z.as("z"), col("x"), col("yc"))
      .groupBy("z").agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(dec(col("yc"))).as("sy"))
    val one = g.agg(
      max(when(col("z") === 1, col("n"))).as("n1"),
      max(when(col("z") === 0, col("n"))).as("n0"),
      max(when(col("z") === 1, col("sx"))).as("sx1"),
      max(when(col("z") === 0, col("sx"))).as("sx0"),
      max(when(col("z") === 1, col("sy"))).as("sy1"),
      max(when(col("z") === 0, col("sy"))).as("sy0"))
    def d(c: Column) = c.cast("double")
    val itx = d(col("sx1")) / d(col("n1")) - d(col("sx0")) / d(col("n0"))
    val ity = (d(col("sy1")) / d(col("n1")) -
      d(col("sy0")) / d(col("n0"))) / 100.0
    val weak = abs(itx) <= 0.01
    one.select(col("n1").as("n_encouraged"), col("n0").as("n_control"),
      round(ity, 6).as("itt_y_dollars"),
      round(itx, 6).as("first_stage"),
      weak.as("weak_instrument"),
      when(!weak, round(ity / itx, 6)).as("late_dollars"))
  }

  /** BASS DIFFUSION MODEL (Bass 1969), discrete OLS estimate: new
    * adopters per day n_t = a + b·N_{t−1} + c·N²_{t−1} regressed over
    * the adoption spine (first-ever event per user), then the structural
    * parameters — innovation p, imitation q, market size m — recovered
    * from the (a, b, c) roots. THE growth-curve model behind every
    * "when does adoption saturate" forecast.
    *
    * Exactness: the adoption spine and cumulative counts are exact
    * integers; the two-regressor fit reuses q_ols_multi's shared Cramer
    * strings over exact DECIMAL(38,0) Gram sums (x = N, z = N²; at
    * ≥1e9-user scale rescale N by 10³ before the fold — the z·z terms
    * are the DECIMAL(38) ceiling). m is the negative root of
    * c·m² + b·m + a = 0.
    *
    * Scale posture: one user-grain shuffle to first-seen days, one
    * calendar-bounded spine pass, scalar Cramer algebra.
    */
  def bassDiffusion(orders: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val first = orders.groupBy("o_custkey")
      .agg(min(to_date(col("o_orderdate"))).as("d0"))
    val daily = first.groupBy("d0").agg(count(lit(1)).as("nt"))
    val w = Window.orderBy("d0")
      .rowsBetween(Window.unboundedPreceding, -1)
    val spine = daily
      .withColumn("np", coalesce(sum(col("nt")).over(w), lit(0L)))
    val m = spine.select(col("nt").as("y"), col("np").as("x"),
        (col("np") * col("np")).as("zz"))
      .agg(count(lit(1)).as("cn"),
        sum(dec(col("x"))).as("msx"), sum(dec(col("zz"))).as("msz"),
        sum(dec(col("y"))).as("msy"),
        sum(dec(col("x")) * dec(col("x"))).as("msxx"),
        sum(dec(col("zz")) * dec(col("zz"))).as("mszz"),
        sum(dec(col("x")) * dec(col("zz"))).as("msxz"),
        sum(dec(col("x")) * dec(col("y"))).as("msxy"),
        sum(dec(col("zz")) * dec(col("y"))).as("mszy"),
        sum(dec(col("y")) * dec(col("y"))).as("msyy"))
    def d(c: String) = col(c).cast("double")
    val dd = m.select(d("cn").as("n"), d("msx").as("sx"),
      d("msz").as("sz"), d("msy").as("sy"), d("msxx").as("sxx"),
      d("mszz").as("szz"), d("msxz").as("sxz"), d("msxy").as("sxy"),
      d("mszy").as("szy"), d("msyy").as("syy"), col("cn"))
    val sol = dd.select(col("cn"),
      expr(olsDet).as("det"), expr(olsD0).as("d0"),
      expr(olsD1).as("d1"), expr(olsD2).as("d2"))
    val ok = abs(col("det")) > 0
    // det routes through a safe stand-in BEFORE any division: the okM
    // condition below evaluates a/b/c EAGERLY (conditions aren't lazy),
    // and ANSI double division aborts on /0 (the KN-discount lesson)
    val detSafe = when(ok, col("det")).otherwise(lit(1.0))
    val a = col("d0") / detSafe
    val b = col("d1") / detSafe
    val c = col("d2") / detSafe
    // m = (-b - sqrt(b² - 4ac)) / (2c): the positive market-size root
    // (c < 0 for a real diffusion, so the minus branch is the + root).
    // c routes through the same safe-stand-in trick for the division.
    val disc = b * b - lit(4.0) * a * c
    val cSafe = when(c < 0, c).otherwise(lit(-1.0))
    val mkt = (lit(-1.0) * b - sqrt(disc)) / (lit(2.0) * cSafe)
    val okM = ok && disc > 0 && c < 0 && abs(mkt) > 0
    sol.select(col("cn").as("n_days"),
      when(ok, round(a, 6)).as("coef_a"),
      when(ok, round(b, 6)).as("coef_b"),
      when(ok, round(c, 9)).as("coef_c"),
      when(okM, round(mkt, 2)).as("market_size"),
      when(okM, round(a / mkt, 6)).as("innovation_p"),
      when(okM, round(b + a / mkt, 6)).as("imitation_q"))
  }

  /** EMPIRICAL-BAYES SHRINKAGE of per-part return rates (the
    * James–Stein / beta-binomial recipe, Efron & Morris 1975): fit a
    * beta prior to the across-part rate distribution by method of
    * moments, then shrink each part's raw x/n toward the prior mean
    * with strength α+β — small-n parts move a lot, well-measured parts
    * barely — the estimator every "rank groups by a noisy rate"
    * dashboard should use instead of raw rates. Released: the 10 parts
    * the prior corrects HARDEST (the exact rows a raw-rate ranking gets
    * most wrong).
    *
    * Exactness: per-part counts are exact; rates freeze to 6dp before
    * the across-part moment fold (12dp-exact squares); prior strength
    * clamps at 0 (degenerate variance → no shrinkage, never a 0-divide,
    * via the safe-variance stand-in). Scale posture: one shuffle to the
    * part dimension, scalar prior, one broadcast map pass.
    */
  def jamesStein(li: DataFrame, topN: Int = 10): DataFrame = {
    val per = li.groupBy(col("l_partkey").as("part"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
    val rates = per.select(col("part"), col("n"), col("x"),
        round(col("x").cast("double") / col("n").cast("double"), 6)
          .as("r"))
      .persistTracked()
    val mo = rates.agg(count(lit(1)).as("k"),
      sum(col("r").cast(DecimalType(18, 6))).as("sr"),
      sum((col("r") * col("r")).cast(DecimalType(28, 12))).as("srr"))
    def d(c: Column) = c.cast("double")
    val mu = d(col("sr")) / d(col("k"))
    val v = (d(col("srr")) - d(col("k")) * mu * mu) /
      greatest(d(col("k")) - 1, lit(1.0))
    val vSafe = when(v > 0, v).otherwise(lit(1.0))
    val strength = greatest(mu * (lit(1.0) - mu) / vSafe - 1.0, lit(0.0))
    val prior = mo.select(round(mu, 6).as("mu"),
      round(strength, 4).as("st"))
    val j = rates.crossJoin(broadcast(prior))
    val shrunk = (d(col("x")) + col("mu") * col("st")) /
      (d(col("n")) + col("st"))
    j.select(col("part"), col("n"), col("x"), col("r").as("raw_rate"),
        round(shrunk, 6).as("shrunk_rate"),
        col("st").as("prior_strength"),
        round(abs(shrunk - col("r")), 6).as("correction"))
      .orderBy(desc("correction"), col("part"))
      .limit(topN)
  }

  /** HURST EXPONENT by rescaled-range analysis (Hurst 1951; Mandelbrot
    * & Wallis 1969): mean R/S over blocks of size k ∈ {8,16,32,64} days
    * of revenue, then H = the log-log slope — H ≈ 0.5 is memoryless,
    * H > 0.5 long-range persistent (trends feed themselves), H < 0.5
    * mean-reverting. The long-memory diagnostic beside q_acf_daily's
    * short-lag view; it decides whether naive CI widths (∝√n) are even
    * valid for the metric.
    *
    * Exactness: block deviations scale to the exact integers
    * dev' = k·y − Σ_block y (the q_morans_i trick), so the cumulative
    * range and Σdev'² are exact; R/S = range'·sqrt(k/Σdev'²) is one
    * shared double tree rounded 6dp before the per-k DECIMAL fold; the
    * final 4-point log-log slope uses exact moment algebra. Scale
    * posture: corpus → day spine; per k one partitioned
    * (block-bounded) window pass.
    */
  def hurst(orders: DataFrame, ks: Seq[Int] = Seq(8, 16, 32, 64))
      : DataFrame = {
    val spine = dayIndexed(dailyCents(orders, "y")).persistTracked()
    def d(c: Column) = c.cast("double")
    val perK = ks.map { k =>
      val blk = expr(s"t div $k")
      val wb = Window.partitionBy("b")
      val wc = Window.partitionBy("b").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cells = spine.select(blk.as("b"), col("t"), col("y"))
        .withColumn("nb", count(lit(1)).over(wb))
        .filter(col("nb") === k)
        .withColumn("sb", sum(col("y")).over(wb))
        .withColumn("dv", lit(k.toLong) * col("y") - col("sb"))
        .withColumn("cd", sum(col("dv")).over(wc))
      val rs = cells.groupBy("b")
        .agg((max(col("cd")) - min(col("cd"))).as("rng"),
          sum(col("dv").cast(DecimalType(38, 0)) * col("dv")).as("sd2"))
        .filter(col("sd2") > 0)
        .select(round(d(col("rng")) *
          sqrt(lit(k.toDouble) / d(col("sd2"))), 6)
          .cast(DecimalType(18, 6)).as("rs"))
      rs.agg(count(lit(1)).as("n_blocks"),
          sum(col("rs")).as("srs"))
        .select(lit(k).as("k"), col("n_blocks"),
          when(col("n_blocks") > 0,
            round(d(col("srs")) / d(col("n_blocks")), 6)).as("rs_mean"))
    }
    val pts = perK.reduce(_ unionByName _)
      .filter(col("rs_mean") > 0)
      .select(log(col("k").cast("double")).as("lx"),
        log(col("rs_mean")).as("ly"))
    val mo = pts.agg(count(lit(1)).as("n"),
      sum(col("lx").cast(DecimalType(28, 12))).as("sx"),
      sum(col("ly").cast(DecimalType(28, 12))).as("sy"),
      sum((col("lx") * col("ly")).cast(DecimalType(28, 12))).as("sxy"),
      sum((col("lx") * col("lx")).cast(DecimalType(28, 12))).as("sxx"))
    val nd = d(col("n"))
    val det = nd * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val detSafe = when(abs(det) > 0, det).otherwise(lit(1.0))
    val h = (nd * d(col("sxy")) - d(col("sx")) * d(col("sy"))) / detSafe
    mo.select(col("n").as("n_scales"),
      when(abs(det) > 0 && col("n") > 1, round(h, 4)).as("hurst"))
  }

  /** MANN–KENDALL TREND TEST (Mann 1945; Kendall 1975): the
    * significance HALF of the robust-trend duo — q_theil_sen gives the
    * slope, this gives the tie-corrected S statistic, continuity-
    * corrected z, and the monotone-trend verdict, with no distribution
    * assumption (the hydrology/KPI standard). (q_trend_robust carries a
    * per-segment monthly mk_z; this is the corpus-level daily window
    * with the Φ p-value and the labeled verdict.)
    *
    * Exactness: S and the tie term are exact integers off the same
    * trailing-window day spine as q_theil_sen (the pair frame is
    * calendar-bounded, never corpus²); the variance routes through a
    * safe stand-in so the eager trend-label condition can't divide by
    * zero. Scale posture: corpus → day spine → windowDays² pairs.
    */
  def mannKendall(orders: DataFrame, windowDays: Int = 180): DataFrame = {
    val dd = trailingDays(orders, windowDays)
    val sAgg = dd.as("a").join(dd.as("b"), col("b.t") > col("a.t"))
      .select(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L).as("sg"))
      .agg(sum(col("sg")).as("s"))
    val ties = dd.groupBy("y").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) *
        (lit(2L) * col("c") + 5)), lit(0L)).as("tsum"))
    val nn = dd.agg(count(lit(1)).as("n"))
    def d(c: Column) = c.cast("double")
    val j = sAgg.crossJoin(broadcast(ties)).crossJoin(broadcast(nn))
    val nd = d(col("n"))
    val v = (nd * (nd - 1) * (lit(2.0) * nd + 5) - d(col("tsum"))) / 18.0
    val vSafe = when(v > 0, v).otherwise(lit(1.0))
    val z = when(col("s") > 0, (d(col("s")) - 1) / sqrt(vSafe))
      .when(col("s") < 0, (d(col("s")) + 1) / sqrt(vSafe))
      .otherwise(lit(0.0))
    val p = pTwoSided(abs(z))
    j.select(col("n").as("n_days"), col("s").as("s_stat"),
      when(v > 0, round(z, 6)).as("z"),
      when(v > 0, round(p, 6)).as("p_value"),
      when(v > 0 && p < 0.05 && col("s") > 0, "increasing")
        .when(v > 0 && p < 0.05 && col("s") < 0, "decreasing")
        .otherwise("none").as("trend"))
  }

  /** PETTITT CHANGEPOINT TEST (Pettitt 1979): the rank-based single
    * changepoint detector — K = max_t |U_t| with
    * U_t = Σ_{i≤t} 2R_i − t(n+1) over the daily-revenue spine — the
    * nonparametric complement of q_changepoint/q_cusum (those react to
    * mean shifts in value units; this one is outlier-proof and gives a
    * p-value). Released: the most probable change date, K, and the
    * Pettitt tail approximation 2·exp(−6K²/(n³+n²)) clamped at 1.
    *
    * Exactness: midranks enter as the exact DOUBLED integers
    * (2·cum − c + 1, the aucRank identity), so every U_t is an exact
    * integer; the argmax breaks ties by earliest day. Scale posture:
    * corpus → day spine; one value-spine cumsum + one day-spine cumsum
    * (both calendar-bounded windows), then a TakeOrdered(1).
    */
  def pettitt(orders: DataFrame): DataFrame = {
    val daily = dailyCents(orders, "y")
      .persistTracked()
    val dr = valueCum(daily, "y")
      .select(col("y"), (lit(2L) * col("cum") - col("c") + 1L).as("dd"))
    val nn = daily.agg(count(lit(1)).as("n"))
    val wt = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = daily.join(dr, Seq("y")).crossJoin(broadcast(nn))
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("cumd", sum(col("dd")).over(wt))
      .filter(col("rn") < col("n"))
      .select(col("day"), col("n"),
        (col("cumd") - col("rn") * (col("n") + 1)).as("u"))
    def d(c: Column) = c.cast("double")
    val kd = d(abs(col("u")))
    val nd = d(col("n"))
    val p = least(lit(2.0) *
      exp(lit(-6.0) * kd * kd / (nd * nd * nd + nd * nd)), lit(1.0))
    u.orderBy(abs(col("u")).desc, col("day")).limit(1)
      .select(col("n").as("n_days"), col("day").as("change_date"),
        abs(col("u")).as("k_stat"), col("u").as("u_at_k"),
        round(p, 6).as("p_value"))
  }

  /** CROSTON'S METHOD (Croston 1972; SBA correction per Syntetos &
    * Boylan 2005) for INTERMITTENT demand: a slow-moving part sells on
    * a few scattered days, so a plain per-day EWMA (q_ewma_daily)
    * forecasts near-zero everywhere and then misses every spike.
    * Croston splits the series into demand SIZES and demand INTERVALS,
    * EWMA-smooths each, and forecasts size/interval demand per day —
    * run here on the most-traded part's ship-day series (still only
    * ~m ≪ days demand events: the intermittency is the point).
    *
    * Determinism: the recursive EWMAs unroll to their closed forms
    * Σ w_j·y_j with w_j = α(1−α)^{m−j} spelled exp(ln(1−α)·(m−j)) —
    * ln(1−α) is a Scala literal shared with the oracle, the exponent is
    * an exact integer, and each term rounds 9dp before the DECIMAL
    * fold. Scale posture: one part-dimension shuffle picks the target,
    * one filtered pass builds the demand-event spine (m-bounded), and
    * the two EWMA folds run on that spine.
    */
  def croston(li: DataFrame, alpha: Double = 0.1): DataFrame = {
    val target = li.groupBy(col("l_partkey").as("part"))
      .agg(count(lit(1)).as("nl"))
      .orderBy(desc("nl"), col("part")).limit(1)
    val dem = li.join(broadcast(target), col("l_partkey") === col("part"))
      .groupBy(col("part"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val w = Window.orderBy("day") // demand-event spine, m-bounded
    val seq0 = dem
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("gap",
        datediff(col("day"), lag(col("day"), 1).over(w)).cast("long"))
    val mm = seq0.agg(max(col("i")).as("m"))
    val lnb = math.log(1 - alpha)
    val j = seq0.crossJoin(broadcast(mm))
    def d(c: Column) = c.cast("double")
    val wsize = when(col("i") === 1,
      exp(lit(lnb) * d(col("m") - 1)))
      .otherwise(lit(alpha) * exp(lit(lnb) * d(col("m") - col("i"))))
    val wint = when(col("i") === 2,
      exp(lit(lnb) * d(col("m") - 2)))
      .otherwise(lit(alpha) * exp(lit(lnb) * d(col("m") - col("i"))))
    val a = j.agg(max(col("part")).as("part"),
      max(col("m")).as("n_demands"),
      sum(round(wsize * d(col("q")), 9).cast(DecimalType(28, 9))).as("z"),
      sum(when(col("i") >= 2,
        round(wint * d(col("gap")), 9).cast(DecimalType(28, 9)))).as("p"),
      sum(col("gap")).as("sgap"), count(col("gap")).as("ngap"))
    val zd = d(col("z"))
    val pd = d(col("p"))
    a.select(col("part"), col("n_demands"),
      when(col("ngap") > 0, round(d(col("sgap")) / d(col("ngap")), 6))
        .as("mean_interval_days"),
      round(zd, 6).as("size_ewma"),
      round(pd, 6).as("interval_ewma"),
      when(pd > 0, round(zd / pd, 6)).as("croston_forecast"),
      when(pd > 0, round(lit(1 - alpha / 2) * (zd / pd), 6))
        .as("sba_forecast"))
  }

  private def describeAllSql(table: String, numeric: Seq[String],
                             categorical: Seq[String]): String = {
    val numSelects = numeric.map { c =>
      s"""SELECT '$c' AS col_name, cnt, round(sx / cnt, 6) AS mean,
         | round(sqrt((cnt * sxx - sx * sx) / (cnt * (cnt - 1))), 6) AS std,
         | min_v, max_v,
         | CAST(NULL AS BIGINT) AS n_unique, CAST(NULL AS VARCHAR) AS top,
         | CAST(NULL AS BIGINT) AS top_freq, q1, q2, q3
         |FROM (SELECT count($c) AS cnt,
         |  CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
         |  quantile_cont(CAST($c AS DOUBLE), 0.25) AS q1,
         |  quantile_cont(CAST($c AS DOUBLE), 0.5) AS q2,
         |  quantile_cont(CAST($c AS DOUBLE), 0.75) AS q3
         | FROM $table)""".stripMargin
    }
    val catSelects = categorical.map { c =>
      s"""SELECT '$c' AS col_name,
         | (SELECT count($c) FROM $table) AS cnt,
         | CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
         | CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
         | (SELECT count(DISTINCT $c) FROM $table) AS n_unique,
         | f.top, f.top_freq,
         | CAST(NULL AS DOUBLE) AS q1, CAST(NULL AS DOUBLE) AS q2,
         | CAST(NULL AS DOUBLE) AS q3
         |FROM (SELECT $c AS top, count(*) AS top_freq FROM $table
         |      WHERE $c IS NOT NULL GROUP BY 1
         |      ORDER BY top_freq DESC, top DESC LIMIT 1) f""".stripMargin
    }
    (numSelects ++ catSelects).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** DuckDB Holt–Winters replay: recursive CTE with the 7 seasonal
    * registers as columns; l' is textually repeated inside b'/s_k'
    * (CTE columns can't reference siblings) exactly as the Spark
    * named_struct does.
    */
  private def holtWintersSql: String = {
    val sdw = (0 to 6).map(k => s"WHEN $k THEN f.s$k").mkString(
      "(CASE i.dw ", " ", " END)")
    val lp = s"((i.rc - $sdw + f.l + f.b) // 2)"
    val sCols = (0 to 6).map(k =>
      s"CASE WHEN i.dw = $k THEN ((i.rc - $lp) + f.s$k) // 2 ELSE f.s$k END")
      .mkString(",\n  ")
    val zeros = (0 to 6).map(k => s"CAST(0 AS BIGINT) AS s$k").mkString(", ")
    s"""WITH RECURSIVE d AS (
       | SELECT CAST(o_orderdate AS DATE) AS day,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
       | FROM orders GROUP BY 1),
       |i AS (SELECT day, rc, dayofweek(day) AS dw,
       |      row_number() OVER (ORDER BY day) AS rn FROM d),
       |f AS (
       | SELECT 1 AS rn, (SELECT rc FROM i WHERE rn = 1) AS l,
       |  CAST(0 AS BIGINT) AS b, $zeros
       | UNION ALL
       | SELECT i.rn, $lp AS l,
       |  ($lp - f.l + f.b) // 2 AS b,
       |  $sCols
       | FROM f JOIN i ON i.rn = f.rn + 1),
       |last AS (SELECT * FROM f ORDER BY rn DESC LIMIT 1),
       |md AS (SELECT max(day) AS last_day FROM d),
       |fc AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS h)
       |SELECT h, last_day + CAST(h AS INTEGER) AS day,
       | round(CAST(l + h * b +
       |  (CASE dayofweek(last_day + CAST(h AS INTEGER))
       |   ${(0 to 6).map(k => s"WHEN $k THEN s$k").mkString(" ")} END)
       |  AS DOUBLE) / 100.0, 2) AS forecast
       |FROM fc CROSS JOIN last CROSS JOIN md ORDER BY h""".stripMargin
  }

  /** Gini impurity 1 − p² − q² as a DuckDB expression (same tree as
    * the Spark side's [[splitFinder]] gini).
    */
  private def giniSql(p: String, n: String): String = {
    val fp = s"(CAST($p AS DOUBLE) / CAST($n AS DOUBLE))"
    s"(1.0 - $fp * $fp - (1.0 - $fp) * (1.0 - $fp))"
  }

  /** Parameterized DeLong-CI DuckDB statement over documents' n_chars
    * score — shared by q_auc_delong_ci (label = is-English) and
    * q_adversarial_valid (label = held-out split flag). Same placement
    * identity, same 6dp moment folds, same degenerate-count guards.
    */
  private def delongSql(posPred: String, wherePred: String): String =
    s"""WITH c AS (
       | SELECT CAST(n_chars AS BIGINT) AS v,
       |  CAST(sum(CASE WHEN $posPred THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |  CAST(sum(CASE WHEN $posPred THEN 0 ELSE 1 END) AS BIGINT) AS q
       | FROM documents
       | WHERE $wherePred
       | GROUP BY 1),
       |cum AS (
       | SELECT v, p, q,
       |  sum(q) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cq,
       |  sum(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cp
       | FROM c),
       |tot AS (SELECT CAST(sum(p) AS BIGINT) AS n1,
       |        CAST(sum(q) AS BIGINT) AS n0 FROM c),
       |m AS (
       | SELECT n1, n0,
       |  CAST(sum(CAST(round(p * ((CAST(cq - q AS DOUBLE) + 0.5 * q) / n0),
       |    6) AS DECIMAL(28,6))) AS DOUBLE) AS s10,
       |  CAST(sum(CAST(round(p * (((CAST(cq - q AS DOUBLE) + 0.5 * q) / n0)
       |    * ((CAST(cq - q AS DOUBLE) + 0.5 * q) / n0)),
       |    6) AS DECIMAL(28,6))) AS DOUBLE) AS ss10,
       |  CAST(sum(CAST(round(q * ((CAST(n1 - cp AS DOUBLE) + 0.5 * p) / n1),
       |    6) AS DECIMAL(28,6))) AS DOUBLE) AS s01,
       |  CAST(sum(CAST(round(q * (((CAST(n1 - cp AS DOUBLE) + 0.5 * p) / n1)
       |    * ((CAST(n1 - cp AS DOUBLE) + 0.5 * p) / n1)),
       |    6) AS DECIMAL(28,6))) AS DOUBLE) AS ss01
       | FROM cum CROSS JOIN tot GROUP BY 1, 2)
       |SELECT n1 AS n_pos, n0 AS n_neg,
       | round(s10 / n1, 6) AS auc,
       | CASE WHEN n1 > 1 AND n0 > 1 THEN
       |  round(sqrt((ss10 - s10 * s10 / n1) / (n1 - 1) / n1
       |   + (ss01 - s01 * s01 / n0) / (n0 - 1) / n0), 6) END AS se_delong,
       | CASE WHEN n1 > 1 AND n0 > 1 THEN
       |  round(s10 / n1 - 1.959964 * sqrt((ss10 - s10 * s10 / n1)
       |   / (n1 - 1) / n1 + (ss01 - s01 * s01 / n0) / (n0 - 1) / n0), 6)
       |  END AS ci_lo,
       | CASE WHEN n1 > 1 AND n0 > 1 THEN
       |  round(s10 / n1 + 1.959964 * sqrt((ss10 - s10 * s10 / n1)
       |   / (n1 - 1) / n1 + (ss01 - s01 * s01 / n0) / (n0 - 1) / n0), 6)
       |  END AS ci_hi
       |FROM m""".stripMargin

  /** Shared DuckDB CTE chain for the Kaplan-Meier spine — used by
    * q_kaplan_meier and stacked under q_rmst's step integral.
    * Pre-stripped; embed with plain concatenation only.
    */
  private def kmCtesSql: String =
    """e AS (SELECT user_id, CAST(ts AS DATE) AS dt FROM events),
      |mx AS (SELECT max(dt) AS mx FROM e),
      |p AS (
      | SELECT user_id,
      |  CAST(datediff('day', min(dt), max(dt)) AS INTEGER) AS dur,
      |  max(dt) = max(mx) AS censored
      | FROM e, mx GROUP BY 1),
      |bd AS (
      | SELECT dur,
      |  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |  count(*) AS n_ending
      | FROM p GROUP BY 1),
      |tot AS (SELECT count(*) AS n_total FROM p),
      |r AS (
      | SELECT dur, d,
      |  n_total - COALESCE(CAST(sum(n_ending) OVER (ORDER BY dur
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |   AS n_at_risk
      | FROM bd, tot),
      |s AS (
      | SELECT dur, d, n_at_risk,
      |  CAST(CASE WHEN d < n_at_risk THEN
      |    round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)), 6)
      |   ELSE 0.0 END AS DECIMAL(18,6)) AS term,
      |  max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER (ORDER BY dur
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      | FROM r),
      |c AS (
      | SELECT dur, d, n_at_risk, dead,
      |  sum(term) OVER (ORDER BY dur
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuml
      | FROM s)""".stripMargin

  def entries: Seq[Q] = Seq(
    // Croston/SBA intermittent-demand forecast for the most-traded part.
    // same target pick, same closed-form EWMA weights with the shared
    // ln(1-α) literal, same 9dp DECIMAL folds
    Q("q_croston", { (s, d) => croston(Tables.lineitem(s, d)) }, {
      val lnb = math.log(0.9)
      s"""WITH target AS (
         | SELECT l_partkey AS part, count(*) AS nl FROM lineitem
         | GROUP BY 1 ORDER BY nl DESC, part LIMIT 1),
         |dem AS (
         | SELECT part, CAST(l_shipdate AS DATE) AS day,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
         | FROM lineitem JOIN target ON l_partkey = part GROUP BY 1, 2),
         |seq AS (
         | SELECT part, day, q,
         |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         |  CAST(datediff('day', lag(day, 1) OVER (ORDER BY day), day)
         |   AS BIGINT) AS gap
         | FROM dem),
         |mm AS (SELECT CAST(max(i) AS BIGINT) AS m FROM seq),
         |terms AS (
         | SELECT part, q, gap, i, m,
         |  CASE WHEN i = 1 THEN exp($lnb * CAST(m - 1 AS DOUBLE))
         |   ELSE 0.1 * exp($lnb * CAST(m - i AS DOUBLE)) END AS wsize,
         |  CASE WHEN i = 2 THEN exp($lnb * CAST(m - 2 AS DOUBLE))
         |   ELSE 0.1 * exp($lnb * CAST(m - i AS DOUBLE)) END AS wint
         | FROM seq, mm),
         |a AS (
         | SELECT max(part) AS part, max(m) AS n_demands,
         |  sum(CAST(round(wsize * CAST(q AS DOUBLE), 9)
         |   AS DECIMAL(28,9))) AS z,
         |  sum(CASE WHEN i >= 2 THEN CAST(round(wint
         |    * CAST(gap AS DOUBLE), 9) AS DECIMAL(28,9)) END) AS p,
         |  CAST(sum(gap) AS BIGINT) AS sgap,
         |  CAST(count(gap) AS BIGINT) AS ngap
         | FROM terms)
         |SELECT part, n_demands,
         | CASE WHEN ngap > 0 THEN
         |  round(CAST(sgap AS DOUBLE) / CAST(ngap AS DOUBLE), 6) END
         |  AS mean_interval_days,
         | round(CAST(z AS DOUBLE), 6) AS size_ewma,
         | round(CAST(p AS DOUBLE), 6) AS interval_ewma,
         | CASE WHEN CAST(p AS DOUBLE) > 0 THEN
         |  round(CAST(z AS DOUBLE) / CAST(p AS DOUBLE), 6) END
         |  AS croston_forecast,
         | CASE WHEN CAST(p AS DOUBLE) > 0 THEN
         |  round(0.95 * (CAST(z AS DOUBLE) / CAST(p AS DOUBLE)), 6) END
         |  AS sba_forecast
         |FROM a""".stripMargin
    }),
    // Tie-corrected Mann-Kendall monotone-trend verdict (theil_sen's twin).
    // same trailing window, same exact S / tie integers, same guarded
    // variance and Φ tail, same trend labels
    Q("q_mann_kendall", { (s, d) => mannKendall(Tables.orders(s, d)) },
      s"""WITH daily AS (
         | SELECT datediff('day', DATE '1970-01-01',
         |   CAST(o_orderdate AS DATE)) AS t,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         |   AS y
         | FROM orders GROUP BY 1),
         |mx AS (SELECT max(t) AS mt FROM daily),
         |d AS (SELECT t, y FROM daily, mx WHERE t > mt - 180),
         |sa AS (SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
         |  WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
         | FROM d a JOIN d b ON b.t > a.t),
         |ties AS (SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0)
         |   AS BIGINT) AS tsum
         | FROM (SELECT count(*) AS c FROM d GROUP BY y)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         |f AS (SELECT s, tsum, n,
         |  (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
         |    * (2.0 * CAST(n AS DOUBLE) + 5) - CAST(tsum AS DOUBLE))
         |   / 18.0 AS v
         | FROM sa, ties, nn),
         |g AS (SELECT s, n, v,
         |  CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)
         |    / sqrt(CASE WHEN v > 0 THEN v ELSE 1.0 END)
         |   WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)
         |    / sqrt(CASE WHEN v > 0 THEN v ELSE 1.0 END)
         |   ELSE 0.0 END AS z FROM f),
         |h AS (SELECT s, n, v, z, ${pTwoSidedSql("abs(z)")} AS p FROM g)
         |SELECT n AS n_days, s AS s_stat,
         | CASE WHEN v > 0 THEN round(z, 6) END AS z,
         | CASE WHEN v > 0 THEN round(p, 6) END AS p_value,
         | CASE WHEN v > 0 AND p < 0.05 AND s > 0 THEN 'increasing'
         |  WHEN v > 0 AND p < 0.05 AND s < 0 THEN 'decreasing'
         |  ELSE 'none' END AS trend
         |FROM h""".stripMargin),
    // Rank-based Pettitt single-changepoint test with change date.
    // same doubled midranks, same integer U_t spine, same clamped tail
    Q("q_pettitt", { (s, d) => pettitt(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS y
        | FROM orders GROUP BY 1),
        |dr AS (SELECT y, 2 * cum - c + 1 AS dd FROM (
        | SELECT y, count(*) AS c,
        |  sum(count(*)) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cum
        | FROM daily GROUP BY y)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |u AS (
        | SELECT day, n, cumd - rn * (n + 1) AS u FROM (
        |  SELECT day, n,
        |   row_number() OVER (ORDER BY day) AS rn,
        |   sum(dd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cumd
        |  FROM daily JOIN dr USING (y) CROSS JOIN nn) WHERE rn < n),
        |k AS (SELECT n, day, abs(u) AS k_stat, u FROM u
        |  ORDER BY abs(u) DESC, day LIMIT 1)
        |SELECT n AS n_days, day AS change_date,
        | CAST(k_stat AS BIGINT) AS k_stat, CAST(u AS BIGINT) AS u_at_k,
        | round(least(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
        |   * CAST(k_stat AS DOUBLE)
        |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |     + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 1.0), 6)
        |  AS p_value
        |FROM k""".stripMargin),
    // Empirical-Bayes shrinkage of noisy per-part return rates.
    // same 6dp rate freeze, same clamped MOM prior, same shrink tree
    Q("q_james_stein", { (s, d) => jamesStein(Tables.lineitem(s, d)) },
      """WITH per AS (
        | SELECT l_partkey AS part, count(*) AS n,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS x
        | FROM lineitem GROUP BY 1),
        |rates AS (SELECT part, n, x,
        |  round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS r FROM per),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  sum(CAST(r AS DECIMAL(18,6))) AS sr,
        |  sum(CAST(r * r AS DECIMAL(28,12))) AS srr FROM rates),
        |pr0 AS (SELECT CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) AS mu0,
        |  (CAST(srr AS DOUBLE) - CAST(k AS DOUBLE)
        |    * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |    * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)))
        |   / greatest(CAST(k AS DOUBLE) - 1, 1.0) AS v FROM mo),
        |pr AS (SELECT round(mu0, 6) AS mu,
        |  round(greatest(mu0 * (1.0 - mu0)
        |    / (CASE WHEN v > 0 THEN v ELSE 1.0 END) - 1.0, 0.0), 4)
        |   AS st FROM pr0)
        |SELECT part, n, x, r AS raw_rate,
        | round((CAST(x AS DOUBLE) + mu * st)
        |  / (CAST(n AS DOUBLE) + st), 6) AS shrunk_rate,
        | st AS prior_strength,
        | round(abs((CAST(x AS DOUBLE) + mu * st)
        |  / (CAST(n AS DOUBLE) + st) - r), 6) AS correction
        |FROM rates, pr
        |ORDER BY correction DESC, part LIMIT 10""".stripMargin),
    // Long-memory R/S Hurst exponent of daily revenue.
    // same integer block deviations, same R/S tree, same 4-point
    // log-log slope with the safe determinant
    Q("q_hurst", { (s, d) => hurst(Tables.orders(s, d)) }, {
      def kSql(k: Int) =
        s"""c$k AS (
           | SELECT b, dv, sum(dv) OVER (PARTITION BY b ORDER BY t
           |   ROWS UNBOUNDED PRECEDING) AS cd
           | FROM (
           |  SELECT t // $k AS b, t,
           |   $k * y - sum(y) OVER (PARTITION BY t // $k) AS dv,
           |   count(*) OVER (PARTITION BY t // $k) AS nb
           |  FROM spine) WHERE nb = $k),
           |r$k AS (
           | SELECT CAST(round(CAST(rng AS DOUBLE)
           |   * sqrt(${k.toDouble} / CAST(sd2 AS DOUBLE)), 6)
           |  AS DECIMAL(18,6)) AS rs
           | FROM (SELECT b, max(cd) - min(cd) AS rng,
           |   sum(CAST(dv AS HUGEINT) * dv) AS sd2 FROM c$k GROUP BY 1)
           | WHERE sd2 > 0),
           |m$k AS (SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_blocks,
           | CASE WHEN count(*) > 0 THEN
           |  round(CAST(sum(rs) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           | END AS rs_mean FROM r$k)""".stripMargin
      val det = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
      s"""WITH daily AS (
         | SELECT CAST(o_orderdate AS DATE) AS day,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         |   AS y
         | FROM orders GROUP BY 1),
         |mn AS (SELECT min(day) AS d0 FROM daily),
         |spine AS (SELECT CAST(datediff('day', d0, day) AS BIGINT) AS t,
         |  y FROM daily, mn),
         |${kSql(8)},
         |${kSql(16)},
         |${kSql(32)},
         |${kSql(64)},
         |pts AS (
         | SELECT ln(CAST(k AS DOUBLE)) AS lx, ln(rs_mean) AS ly
         | FROM (SELECT * FROM m8 UNION ALL SELECT * FROM m16
         |  UNION ALL SELECT * FROM m32 UNION ALL SELECT * FROM m64)
         | WHERE rs_mean > 0),
         |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
         | sum(CAST(lx AS DECIMAL(28,12))) AS sx,
         | sum(CAST(ly AS DECIMAL(28,12))) AS sy,
         | sum(CAST(lx * ly AS DECIMAL(28,12))) AS sxy,
         | sum(CAST(lx * lx AS DECIMAL(28,12))) AS sxx FROM pts)
         |SELECT n AS n_scales,
         | CASE WHEN abs($det) > 0 AND n > 1 THEN
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   / (CASE WHEN abs($det) > 0 THEN $det ELSE 1.0 END), 4) END
         |  AS hurst
         |FROM mo""".stripMargin
    }),
    // Normality gate for daily revenue (skew/kurtosis, χ²(2) tail).
    // same floor-mean shift, same HUGEINT power sums, same moment tree
    Q("q_jarque_bera", { (s, d) => jarqueBera(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |   AS BIGINT) // 100 AS y
        | FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS s FROM daily),
        |sh AS (SELECT y - (s // n) AS dv, n FROM daily, g),
        |mo AS (
        | SELECT n, sum(CAST(dv AS HUGEINT)) AS s1,
        |  sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS s2,
        |  sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)
        |      * CAST(dv AS HUGEINT)) AS s3,
        |  sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)
        |      * CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS s4
        | FROM sh GROUP BY 1),
        |f AS (
        | SELECT n, CAST(n AS DOUBLE) AS nd,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        | FROM mo),
        |f2 AS (
        | SELECT n, nd, m1, r2, r3, r4,
        |  r2 - m1 * m1 AS m2,
        |  r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
        |  r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
        |   - 3.0 * m1 * m1 * m1 * m1 AS m4
        | FROM f),
        |f3 AS (
        | SELECT n, nd, m2,
        |  m3 / (m2 * sqrt(m2)) AS skew,
        |  m4 / (m2 * m2) - 3.0 AS kx
        | FROM f2),
        |f4 AS (
        | SELECT n, m2, skew, kx,
        |  nd / 6.0 * (skew * skew + kx * kx / 4.0) AS jb
        | FROM f3)
        |SELECT n AS n_days,
        | CASE WHEN m2 > 0 THEN round(skew, 6) END AS skewness,
        | CASE WHEN m2 > 0 THEN round(kx, 6) END AS kurtosis_excess,
        | CASE WHEN m2 > 0 THEN round(jb, 6) END AS jb_stat,
        | CASE WHEN m2 > 0 THEN round(exp(-0.5 * jb), 6) END AS p_value
        |FROM f4""".stripMargin),
    // Encouragement-design Wald/IV estimate of click -> spend.
    // same md5 encouragement arm, same exact per-arm moments, same
    // ITT-ratio tree with the weak-instrument withhold
    Q("q_iv_wald", { (s, d) => ivWald(Tables.events(s, d)) },
      """WITH per AS (
        | SELECT user_id,
        |  CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
        |    END) >= 10 THEN 1 ELSE 0 END AS x,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    AND value IS NOT NULL
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END) AS HUGEINT) AS yc
        | FROM events GROUP BY 1),
        |g AS (
        | SELECT CASE WHEN CAST(('0x' ||
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |    % 2 = 0 THEN 0 ELSE 1 END AS z,
        |  count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, sum(yc) AS sy
        | FROM per GROUP BY 1),
        |one AS (SELECT
        |  max(CASE WHEN z = 1 THEN n END) AS n1,
        |  max(CASE WHEN z = 0 THEN n END) AS n0,
        |  max(CASE WHEN z = 1 THEN sx END) AS sx1,
        |  max(CASE WHEN z = 0 THEN sx END) AS sx0,
        |  max(CASE WHEN z = 1 THEN sy END) AS sy1,
        |  max(CASE WHEN z = 0 THEN sy END) AS sy0
        | FROM g),
        |f AS (SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
        |  CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |   - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS itx,
        |  (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |   - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0 AS ity
        | FROM one)
        |SELECT n1 AS n_encouraged, n0 AS n_control,
        | round(ity, 6) AS itt_y_dollars, round(itx, 6) AS first_stage,
        | (abs(itx) <= 0.01) AS weak_instrument,
        | CASE WHEN NOT abs(itx) <= 0.01 THEN round(ity / itx, 6) END
        |  AS late_dollars
        |FROM f""".stripMargin),
    // Bass diffusion p/q/m from the first-order customer-adoption spine.
    // same adoption spine, same shared Cramer strings over HUGEINT
    // Gram sums, same guarded root extraction
    Q("q_bass_diffusion", { (s, d) => bassDiffusion(Tables.orders(s, d)) },
      s"""WITH fst AS (SELECT o_custkey, min(CAST(o_orderdate AS DATE))
         |  AS d0
         | FROM orders GROUP BY 1),
         |daily AS (SELECT d0, count(*) AS nt FROM fst GROUP BY 1),
         |spine AS (
         | SELECT nt, COALESCE(sum(nt) OVER (ORDER BY d0
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np
         | FROM daily),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS cn,
         |  sum(CAST(np AS HUGEINT)) AS msx,
         |  sum(CAST(np * np AS HUGEINT)) AS msz,
         |  sum(CAST(nt AS HUGEINT)) AS msy,
         |  sum(CAST(np AS HUGEINT) * CAST(np AS HUGEINT)) AS msxx,
         |  sum(CAST(np * np AS HUGEINT) * CAST(np * np AS HUGEINT))
         |   AS mszz,
         |  sum(CAST(np AS HUGEINT) * CAST(np * np AS HUGEINT)) AS msxz,
         |  sum(CAST(np AS HUGEINT) * CAST(nt AS HUGEINT)) AS msxy,
         |  sum(CAST(np * np AS HUGEINT) * CAST(nt AS HUGEINT)) AS mszy,
         |  sum(CAST(nt AS HUGEINT) * CAST(nt AS HUGEINT)) AS msyy
         | FROM spine),
         |dd AS (SELECT cn, CAST(cn AS DOUBLE) AS n,
         |  CAST(msx AS DOUBLE) AS sx, CAST(msz AS DOUBLE) AS sz,
         |  CAST(msy AS DOUBLE) AS sy, CAST(msxx AS DOUBLE) AS sxx,
         |  CAST(mszz AS DOUBLE) AS szz, CAST(msxz AS DOUBLE) AS sxz,
         |  CAST(msxy AS DOUBLE) AS sxy, CAST(mszy AS DOUBLE) AS szy,
         |  CAST(msyy AS DOUBLE) AS syy FROM m),
         |sol AS (SELECT cn, $olsDet AS det, $olsD0 AS d0,
         |  $olsD1 AS d1, $olsD2 AS d2 FROM dd),
         |f AS (SELECT cn, det,
         |  d0 / (CASE WHEN abs(det) > 0 THEN det ELSE 1.0 END) AS a,
         |  d1 / (CASE WHEN abs(det) > 0 THEN det ELSE 1.0 END) AS b,
         |  d2 / (CASE WHEN abs(det) > 0 THEN det ELSE 1.0 END) AS c
         | FROM sol),
         |g AS (SELECT cn, det, a, b, c,
         |  b * b - 4.0 * a * c AS disc FROM f),
         |h AS (SELECT cn, det, a, b, c, disc,
         |  CASE WHEN disc > 0 THEN (-1.0 * b - sqrt(disc))
         |   / (2.0 * (CASE WHEN c < 0 THEN c ELSE -1.0 END)) END AS mkt
         | FROM g)
         |SELECT cn AS n_days,
         | CASE WHEN abs(det) > 0 THEN round(a, 6) END AS coef_a,
         | CASE WHEN abs(det) > 0 THEN round(b, 6) END AS coef_b,
         | CASE WHEN abs(det) > 0 THEN round(c, 9) END AS coef_c,
         | CASE WHEN abs(det) > 0 AND disc > 0 AND c < 0
         |   AND abs(mkt) > 0 THEN round(mkt, 2) END AS market_size,
         | CASE WHEN abs(det) > 0 AND disc > 0 AND c < 0
         |   AND abs(mkt) > 0 THEN round(a / mkt, 6) END AS innovation_p,
         | CASE WHEN abs(det) > 0 AND disc > 0 AND c < 0
         |   AND abs(mkt) > 0 THEN round(b + a / mkt, 6) END
         |  AS imitation_q
         |FROM h""".stripMargin),
    // Purchase-vs-click lead/lag cross-correlation, k = -7..7.
    // same day-spine lag keys, same HUGEINT moment differencing
    Q("q_ccf_daily", { (s, d) => ccfDaily(Tables.events(s, d)) },
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END) AS BIGINT) AS p,
        |  CAST(sum(CASE WHEN event_type = 'click'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END) AS BIGINT) AS c
        | FROM events
        | WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
        | GROUP BY 1),
        |mn AS (SELECT min(day) AS d0 FROM daily),
        |spine AS (SELECT CAST(datediff('day', d0, day) AS BIGINT) AS t,
        |  p, c FROM daily, mn),
        |lags AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
        |la AS (SELECT lag, t - lag AS t2, p FROM spine, lags),
        |mo AS (
        | SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |  sum(CAST(a.p AS HUGEINT)) AS sp,
        |  sum(CAST(b.c AS HUGEINT)) AS sc,
        |  sum(CAST(a.p AS HUGEINT) * CAST(b.c AS HUGEINT)) AS spc,
        |  sum(CAST(a.p AS HUGEINT) * CAST(a.p AS HUGEINT)) AS spp,
        |  sum(CAST(b.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS scc
        | FROM la a JOIN spine b ON a.t2 = b.t GROUP BY 1)
        |SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
        | CASE WHEN CAST(n * spp - sp * sp AS DOUBLE) > 0
        |       AND CAST(n * scc - sc * sc AS DOUBLE) > 0 THEN
        |  round(CAST(n * spc - sp * sc AS DOUBLE)
        |   / sqrt(CAST(n * spp - sp * sp AS DOUBLE)
        |      * CAST(n * scc - sc * sc AS DOUBLE)), 6) END AS ccf
        |FROM mo ORDER BY lag""".stripMargin),
    // Log-log demand elasticity of quantity on unit price.
    // same ⌊ln·2^20⌋ fixed-point freeze, same HUGEINT Gram differencing
    Q("q_price_elasticity", { (s, d) =>
      priceElasticity(Tables.lineitem(s, d)) },
      """WITH mo AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |  sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |  sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        | FROM (
        |  SELECT CAST(floor(ln(CAST(l_extendedprice AS DOUBLE)
        |    / CAST(l_quantity AS DOUBLE)) * 1048576) AS BIGINT) AS x,
        |   CAST(floor(ln(CAST(l_quantity AS DOUBLE)) * 1048576)
        |    AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0))
        |SELECT CAST(n AS BIGINT) AS n_rows,
        | CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS elasticity,
        | CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |       AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    * CAST(n * sxy - sx * sy AS DOUBLE)
        |   / (CAST(n * sxx - sx * sx AS DOUBLE)
        |      * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
        |FROM mo""".stripMargin),
    // Weekly SAX symbols + recurring 3-week motif counts.
    // same complete-week sums, same type-1 tercile cuts, same trigram
    // windows on the week spine
    Q("q_sax_motifs", { (s, d) => saxMotifs(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS y
        | FROM orders GROUP BY 1),
        |mn AS (SELECT min(day) AS d0 FROM daily),
        |weeks AS (
        | SELECT CAST(datediff('day', d0, day) // 7 AS BIGINT) AS wk,
        |  CAST(sum(y) AS BIGINT) AS ws, count(*) AS nd
        | FROM daily, mn GROUP BY 1),
        |w2 AS (SELECT wk, ws FROM weeks WHERE nd = 7),
        |cum AS (
        | SELECT ws, sum(c) OVER (ORDER BY ws ROWS UNBOUNDED PRECEDING)
        |   AS cum
        | FROM (SELECT ws, count(*) AS c FROM w2 GROUP BY 1)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w2),
        |b1 AS (SELECT CAST(min(ws) AS BIGINT) AS b1 FROM cum, nn
        |  WHERE cum * 3 >= n),
        |b2 AS (SELECT CAST(min(ws) AS BIGINT) AS b2 FROM cum, nn
        |  WHERE cum * 3 >= n * 2),
        |sym AS (
        | SELECT wk, CASE WHEN ws <= b1 THEN 'a'
        |  WHEN ws <= b2 THEN 'b' ELSE 'c' END AS s
        | FROM w2, b1, b2),
        |mot AS (
        | SELECT CASE WHEN lead(wk, 1) OVER (ORDER BY wk) = wk + 1
        |          AND lead(wk, 2) OVER (ORDER BY wk) = wk + 2
        |  THEN s || lead(s, 1) OVER (ORDER BY wk)
        |    || lead(s, 2) OVER (ORDER BY wk) END AS motif
        | FROM sym),
        |m2 AS (SELECT motif FROM mot WHERE motif IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM m2)
        |SELECT motif, count(*) AS n,
        | CAST(CAST(count(*) AS HUGEINT) * 1000000 // max(tot) AS BIGINT)
        |  AS share_ppm
        |FROM m2, tot GROUP BY motif ORDER BY n DESC, motif""".stripMargin),
    // Weekly/monthly harmonic variance share of daily revenue.
    // same integer z = n·y − Σy centering, same literal cos/sin tables
    // (no in-engine trig), same 6dp DECIMAL projection folds
    Q("q_harmonic_power", { (s, d) => harmonicPower(Tables.orders(s, d)) }, {
      def caseSql(p: Int, tab: IndexedSeq[Double]) =
        s"(CASE t % $p " +
          (0 until p).map(j => s"WHEN $j THEN ${tab(j)}").mkString(" ") +
          " END)"
      def hSql(p: Int) =
        s"""h$p AS (
           | SELECT $p AS period, max(n) AS n_days, max(n) AS n,
           |  CAST(sum(CAST(round(CAST(z AS DOUBLE) *
           |    ${caseSql(p, cosLit(p))}, 6) AS DECIMAL(38,6)))
           |   AS DOUBLE) AS a,
           |  CAST(sum(CAST(round(CAST(z AS DOUBLE) *
           |    ${caseSql(p, sinLit(p))}, 6) AS DECIMAL(38,6)))
           |   AS DOUBLE) AS b,
           |  sum(z * z) AS szz
           | FROM zc)""".stripMargin
      s"""WITH daily AS (
         | SELECT CAST(o_orderdate AS DATE) AS day,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         |   AS y
         | FROM orders GROUP BY 1),
         |mn AS (SELECT min(day) AS d0 FROM daily),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS s FROM daily),
         |zc AS (
         | SELECT CAST(datediff('day', d0, day) AS BIGINT) AS t,
         |  CAST(n AS HUGEINT) * y - CAST(s AS HUGEINT) AS z, n
         | FROM daily, mn, g),
         |${hSql(7)},
         |${hSql(30)}
         |SELECT period, n_days,
         | CASE WHEN szz > 0 THEN
         |  round(2.0 * (a * a + b * b)
         |   / (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)), 6) END
         |  AS var_share
         |FROM (SELECT * FROM h7 UNION ALL SELECT * FROM h30)
         |ORDER BY period""".stripMargin
    }),
    // Two-regime GMM of daily revenue (3 unrolled EM iterations).
    // same exact q25/q75/variance init, same unrolled EM iterations
    // (9dp responsibilities, DECIMAL M-folds, 6dp param rounding)
    Q("q_gmm_daily", { (s, d) => gmmDaily(Tables.orders(s, d)) }, {
      def fSql(y: String, mu: String, s: String) =
        s"exp(-0.5 * ($y - $mu) * ($y - $mu) / $s) / sqrt($s)"
      def iterSql(t: Int): String = {
        val pp = s"p${t - 1}"
        val y = "CAST(y AS DOUBLE)"
        val num = s"$pp.p1 * ${fSql(y, s"$pp.mu1", s"$pp.s1")}"
        val den = s"$num + (1.0 - $pp.p1) * " +
          fSql(y, s"$pp.mu2", s"$pp.s2")
        s"""r$t AS (
           | SELECT y, $pp.n AS n,
           |  round(CASE WHEN $den > 0 THEN ($num) / ($den)
           |   WHEN abs($y - $pp.mu1) <= abs($y - $pp.mu2) THEN 1.0
           |   ELSE 0.0 END, 9) AS r
           | FROM daily, $pp),
           |m$t AS (
           | SELECT max(n) AS n,
           |  sum(CAST(r AS DECIMAL(28,9))) AS sr,
           |  sum(CAST(round(r * CAST(y AS DOUBLE), 6) AS DECIMAL(38,6)))
           |   AS sry,
           |  sum(CAST(round(r * CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 2)
           |   AS DECIMAL(38,2))) AS sryy,
           |  sum(CAST(y AS HUGEINT)) AS sy,
           |  sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
           | FROM r$t),
           |p$t AS (
           | SELECT n,
           |  round(CAST(sry AS DOUBLE)
           |   / greatest(CAST(sr AS DOUBLE), 0.000001), 6) AS mu1,
           |  round((CAST(sy AS DOUBLE) - CAST(sry AS DOUBLE))
           |   / greatest(CAST(n AS DOUBLE) - CAST(sr AS DOUBLE),
           |      0.000001), 6) AS mu2,
           |  round(greatest(CAST(sryy AS DOUBLE)
           |     / greatest(CAST(sr AS DOUBLE), 0.000001)
           |    - (CAST(sry AS DOUBLE)
           |       / greatest(CAST(sr AS DOUBLE), 0.000001))
           |      * (CAST(sry AS DOUBLE)
           |       / greatest(CAST(sr AS DOUBLE), 0.000001)), 1.0), 6)
           |   AS s1,
           |  round(greatest((CAST(syy AS DOUBLE) - CAST(sryy AS DOUBLE))
           |     / greatest(CAST(n AS DOUBLE) - CAST(sr AS DOUBLE),
           |        0.000001)
           |    - ((CAST(sy AS DOUBLE) - CAST(sry AS DOUBLE))
           |       / greatest(CAST(n AS DOUBLE) - CAST(sr AS DOUBLE),
           |          0.000001))
           |      * ((CAST(sy AS DOUBLE) - CAST(sry AS DOUBLE))
           |       / greatest(CAST(n AS DOUBLE) - CAST(sr AS DOUBLE),
           |          0.000001)), 1.0), 6)
           |   AS s2,
           |  round(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p1
           | FROM m$t)""".stripMargin
      }
      s"""WITH daily AS (
         | SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
         |   AS BIGINT) AS y
         | FROM orders GROUP BY CAST(o_orderdate AS DATE)),
         |cum AS (
         | SELECT y, sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
         |   AS cum
         | FROM (SELECT y, count(*) AS c FROM daily GROUP BY 1)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  sum(CAST(y AS HUGEINT)) AS sy,
         |  sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
         | FROM daily),
         |q1 AS (SELECT CAST(min(y) AS BIGINT) AS m1 FROM cum, nn
         |  WHERE cum * 4 >= n),
         |q3 AS (SELECT CAST(min(y) AS BIGINT) AS m2 FROM cum, nn
         |  WHERE cum * 4 >= n * 3),
         |p0 AS (
         | SELECT n, CAST(m1 AS DOUBLE) AS mu1, CAST(m2 AS DOUBLE) AS mu2,
         |  round(greatest((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
         |    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |   / greatest(CAST(n AS DOUBLE) - 1, 1.0), 1.0), 6) AS s1,
         |  round(greatest((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
         |    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |   / greatest(CAST(n AS DOUBLE) - 1, 1.0), 1.0), 6) AS s2,
         |  0.5 AS p1
         | FROM nn, q1, q3),
         |${iterSql(1)},
         |${iterSql(2)},
         |${iterSql(3)}
         |SELECT n AS n_days,
         | round(CASE WHEN mu1 <= mu2 THEN p1 ELSE 1.0 - p1 END, 6)
         |  AS pi_lo,
         | round(CASE WHEN mu1 <= mu2 THEN mu1 ELSE mu2 END / 100.0, 2)
         |  AS mu_lo_dollars,
         | round(CASE WHEN mu1 <= mu2 THEN mu2 ELSE mu1 END / 100.0, 2)
         |  AS mu_hi_dollars,
         | round(sqrt(CASE WHEN mu1 <= mu2 THEN s1 ELSE s2 END)
         |  / 100.0, 2) AS sigma_lo_dollars,
         | round(sqrt(CASE WHEN mu1 <= mu2 THEN s2 ELSE s1 END)
         |  / 100.0, 2) AS sigma_hi_dollars
         |FROM p3""".stripMargin
    }),
    // Unpaired purchase-vs-click day shift: HL estimate + Mann-Whitney U.
    // same day-spine samples, same pairwise-difference median spine,
    // same doubled-midrank integers, same Φ tail
    Q("q_hodges_lehmann", { (s, d) => hodgesLehmann(Tables.events(s, d)) },
      s"""WITH daily AS (
         | SELECT CAST(ts AS DATE) AS day, event_type,
         |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |   AS BIGINT) AS v
         | FROM events
         | WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
         | GROUP BY 1, 2),
         |x AS (SELECT v AS x FROM daily WHERE event_type = 'purchase'),
         |y AS (SELECT v AS y FROM daily WHERE event_type = 'click'),
         |diffs AS (SELECT x - y AS d FROM x CROSS JOIN y),
         |cum AS (
         | SELECT d, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
         |   AS cum
         | FROM (SELECT d, count(*) AS c FROM diffs GROUP BY 1)),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM diffs),
         |hl AS (SELECT CAST(min(d) AS BIGINT) AS hl,
         |  max(n_pairs) AS n_pairs
         | FROM cum, np WHERE cum * 2 >= n_pairs),
         |allv AS (
         | SELECT x AS v, 1 AS isx FROM x
         | UNION ALL SELECT y AS v, 0 AS isx FROM y),
         |gv AS (
         | SELECT c, cx, 2 * cum - c + 1 AS d_rank FROM (
         |  SELECT v, count(*) AS c, CAST(sum(isx) AS BIGINT) AS cx,
         |   sum(count(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |    AS cum
         |  FROM allv GROUP BY v)),
         |a AS (
         | SELECT CAST(sum(cx * d_rank) AS BIGINT) AS r2x,
         |  CAST(sum(cx) AS BIGINT) AS nx,
         |  CAST(sum(c - cx) AS BIGINT) AS ny,
         |  CAST(sum(c * c * c - c) AS BIGINT) AS tie FROM gv),
         |f AS (
         | SELECT nx, ny,
         |  CAST(nx AS DOUBLE) AS nxd, CAST(ny AS DOUBLE) AS nyd,
         |  CAST(r2x AS DOUBLE) / 2.0
         |   - CAST(nx AS DOUBLE) * (CAST(nx AS DOUBLE) + 1) / 2.0 AS u
         | FROM a),
         |f2 AS (
         | SELECT nx, ny, u,
         |  nxd * nyd / 12.0 * (((nxd + nyd) + 1)
         |   - CAST((SELECT tie FROM a) AS DOUBLE)
         |     / greatest((nxd + nyd) * ((nxd + nyd) - 1), 1.0)) AS v2,
         |  u - nxd * nyd / 2.0 AS num
         | FROM f)
         |SELECT nx AS n_x, ny AS n_y,
         | (SELECT n_pairs FROM hl) AS n_pairs,
         | round(u, 6) AS u_stat,
         | CASE WHEN v2 > 0 THEN round(num / sqrt(v2), 6) END AS z,
         | CASE WHEN v2 > 0 THEN round(${pTwoSidedSql(
        "abs(num / sqrt(v2))")}, 6) END AS p_value,
         | round(CAST((SELECT hl FROM hl) AS DOUBLE) / 100.0, 6)
         |  AS hl_shift_dollars
         |FROM f2""".stripMargin),
    // Ordered dose-response trend of return rate across quantity doses.
    // same 5 exact dose moments, same z tree
    Q("q_cochran_armitage", { (s, d) =>
      cochranArmitage(Tables.lineitem(s, d)) },
      s"""WITH g AS (
         | SELECT CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS BIGINT)
         |   + 1 AS t,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         |   AS BIGINT) AS rr
         | FROM lineitem GROUP BY 1),
         |a AS (
         | SELECT CAST(sum(n) AS BIGINT) AS nn,
         |  CAST(sum(rr) AS BIGINT) AS rt,
         |  CAST(sum(t * rr) AS BIGINT) AS str,
         |  CAST(sum(t * n) AS BIGINT) AS stn,
         |  CAST(sum(t * t * n) AS BIGINT) AS st2n,
         |  CAST(count(*) AS BIGINT) AS k_doses FROM g),
         |f AS (
         | SELECT k_doses, nn,
         |  CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE) AS pbar,
         |  CAST(str AS DOUBLE) - (CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE))
         |   * CAST(stn AS DOUBLE) AS num,
         |  (CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE))
         |   * (1.0 - CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE))
         |   * (CAST(st2n AS DOUBLE)
         |      - CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE)
         |        / CAST(nn AS DOUBLE)) AS den
         | FROM a)
         |SELECT k_doses, nn AS n_rows, round(pbar, 6) AS overall_rate,
         | CASE WHEN den > 0 THEN round(num / sqrt(den), 6) END AS z,
         | CASE WHEN den > 0 THEN round(${pTwoSidedSql(
        "abs(num / sqrt(den))")}, 6) END AS p_value
         |FROM f""".stripMargin),
    // Peaks-over-threshold GPD fit of the order-total tail + VaR99.
    // same type-1 p95 threshold, same HUGEINT excess moments, same
    // exp(−ξ·ln x) pow tree
    Q("q_tail_gpd", { (s, d) => tailGpd(Tables.orders(s, d)) },
      """WITH v AS (
        | SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS v
        | FROM orders),
        |cum AS (
        | SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |   AS cum
        | FROM (SELECT v, count(*) AS c FROM v GROUP BY 1)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |u AS (SELECT CAST(min(v) AS BIGINT) AS u, max(n) AS n
        |  FROM cum, nn WHERE cum * 20 >= n * 19),
        |exc AS (
        | SELECT max(u.u) AS u, max(u.n) AS n,
        |  CAST(count(*) AS BIGINT) AS ne,
        |  sum(CAST(v.v - u.u AS HUGEINT)) AS sy,
        |  sum(CAST(v.v - u.u AS HUGEINT) * CAST(v.v - u.u AS HUGEINT))
        |   AS syy
        | FROM v, u WHERE v.v > u.u),
        |f AS (
        | SELECT n, u, ne,
        |  CAST(sy AS DOUBLE) / CAST(ne AS DOUBLE) AS m,
        |  (CAST(syy AS DOUBLE) - CAST(ne AS DOUBLE)
        |    * (CAST(sy AS DOUBLE) / CAST(ne AS DOUBLE))
        |    * (CAST(sy AS DOUBLE) / CAST(ne AS DOUBLE)))
        |   / (CAST(ne AS DOUBLE) - 1) AS s2
        | FROM exc),
        |g AS (
        | SELECT n, u, ne, m, s2,
        |  0.5 * (1.0 - m * m / s2) AS xi,
        |  0.5 * m * (1.0 + m * m / s2) AS beta,
        |  0.01 * CAST(n AS DOUBLE) / CAST(ne AS DOUBLE) AS tailp
        | FROM f)
        |SELECT n AS n_total,
        | round(CAST(u AS DOUBLE) / 100.0, 2) AS threshold_dollars,
        | ne AS n_exceed, round(m / 100.0, 6) AS mean_excess_dollars,
        | CASE WHEN ne > 1 AND s2 > 0 THEN round(xi, 6) END AS xi,
        | CASE WHEN ne > 1 AND s2 > 0 THEN round(beta / 100.0, 6) END
        |  AS beta_dollars,
        | CASE WHEN ne > 1 AND s2 > 0 AND abs(xi) > 0.000000001
        |       AND tailp > 0 THEN
        |  round((CAST(u AS DOUBLE) + beta / xi
        |    * (exp(-1.0 * xi * ln(tailp)) - 1.0)) / 100.0, 2) END
        |  AS var99_dollars
        |FROM g""".stripMargin),
    // Sharp RDD at the quantity price break: local-linear jump estimate.
    // same integer half-unit recentring, same HUGEINT Gram differencing
    Q("q_rdd", { (s, d) => rdd(Tables.lineitem(s, d)) },
      """WITH base AS (
        | SELECT CAST(l_quantity AS BIGINT) * 2 - 51 AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS y
        | FROM lineitem
        | WHERE abs(CAST(l_quantity AS BIGINT) * 2 - 51) <= 30),
        |mo AS (
        | SELECT CASE WHEN x > 0 THEN 'right' ELSE 'left' END AS side,
        |  CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |  CAST(sum(x * y) AS HUGEINT) AS sxy,
        |  CAST(sum(x * x) AS HUGEINT) AS sxx
        | FROM base GROUP BY 1),
        |fit AS (
        | SELECT side, CAST(n AS BIGINT) AS n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
        |   CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_x,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
        |   CAST(sy * sxx - sx * sxy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) END AS icpt
        | FROM mo),
        |one AS (
        | SELECT max(CASE WHEN side = 'left' THEN n END) AS n_left,
        |  max(CASE WHEN side = 'right' THEN n END) AS n_right,
        |  max(CASE WHEN side = 'left' THEN icpt END) AS yl,
        |  max(CASE WHEN side = 'right' THEN icpt END) AS yr,
        |  max(CASE WHEN side = 'left' THEN slope_x END) AS sl,
        |  max(CASE WHEN side = 'right' THEN slope_x END) AS sr
        | FROM fit)
        |SELECT n_left, n_right,
        | round(yl / 100.0, 4) AS y_left_dollars,
        | round(yr / 100.0, 4) AS y_right_dollars,
        | round((yr - yl) / 100.0, 4) AS jump_dollars,
        | round(sl * 2 / 100.0, 4) AS slope_left_per_qty,
        | round(sr * 2 / 100.0, 4) AS slope_right_per_qty
        |FROM one""".stripMargin),
    // Queen-adjacency spatial autocorrelation of the customer-density grid.
    // occupied-cell lattice + queen-adjacency join twin; HUGEINT cross
    // products mirror the Spark DECIMAL(38,0) folds
    Q("q_morans_i", { (s, d) => moransI(Tables.customer(s, d)) },
      """WITH cells AS (
        | SELECT CAST(floor(c_acctbal / 500.0) AS BIGINT) AS li,
        |  CAST(c_custkey % 12 AS BIGINT) AS gi, count(*) AS x
        | FROM customer GROUP BY 1, 2),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s FROM cells),
        |z AS (SELECT li, gi, n * x - s AS z, n FROM cells, g),
        |num AS (
        | SELECT count(*) AS w_pairs,
        |  sum(CAST(a.z AS HUGEINT) * CAST(b.z AS HUGEINT)) AS num
        | FROM z a JOIN z b
        |  ON b.li BETWEEN a.li - 1 AND a.li + 1
        |  AND b.gi BETWEEN a.gi - 1 AND a.gi + 1
        |  AND NOT (a.li = b.li AND a.gi = b.gi)),
        |den AS (SELECT CAST(max(n) AS BIGINT) AS n_cells,
        |  sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS den FROM z)
        |SELECT n_cells, w_pairs,
        | CASE WHEN w_pairs > 0 AND den > 0 THEN
        |  round(CAST(n_cells AS DOUBLE) / CAST(w_pairs AS DOUBLE)
        |   * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6) END
        |  AS morans_i,
        | CASE WHEN n_cells > 1 THEN
        |  round(-1.0 / (CAST(n_cells AS DOUBLE) - 1.0), 6) END
        |  AS expected_i
        |FROM num, den""".stripMargin),
    // Median-of-pairwise-slopes robust trend of trailing daily revenue.
    // same day spine, same shifted non-negative floor division, same
    // type-1 order statistic off the distinct-slope count spine
    Q("q_theil_sen", { (s, d) => theilSen(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |   AS t,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS y
        | FROM orders GROUP BY 1),
        |mx AS (SELECT max(t) AS mt FROM daily),
        |d AS (SELECT t, y FROM daily, mx WHERE t > mt - 180),
        |pairs AS (
        | SELECT CAST((CAST(b.y - a.y AS HUGEINT) * 100) //
        |   (b.t - a.t) AS BIGINT)
        |  - (CASE WHEN b.y < a.y AND
        |     (CAST(b.y - a.y AS HUGEINT) * 100) % (b.t - a.t) != 0
        |     THEN 1 ELSE 0 END) AS s_fp
        | FROM d a JOIN d b ON b.t > a.t),
        |gp AS (SELECT s_fp, count(*) AS c FROM pairs GROUP BY 1),
        |cum AS (SELECT s_fp,
        |  sum(c) OVER (ORDER BY s_fp ROWS UNBOUNDED PRECEDING) AS cum
        | FROM gp),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs)
        |SELECT max(n_days) AS n_days, max(n_pairs) AS n_pairs,
        | round(CAST(min(s_fp) AS DOUBLE) / 10000.0, 6)
        |  AS slope_dollars_per_day
        |FROM cum, tot WHERE cum * 2 >= n_pairs""".stripMargin),
    // Counterfactual policy value from logged traffic (IPS + SNIPS).
    // same per-action fold: terms at fixed DECIMAL scale, n cancels
    Q("q_ips_offpolicy", { (s, d) => ipsOffPolicy(Tables.events(s, d)) },
      """WITH base AS (
        | SELECT event_type AS a,
        |  CASE WHEN hour(ts) >= 18 AND hour(ts) <= 23 THEN 'purchase'
        |       WHEN hour(ts) >= 9 AND hour(ts) <= 17 THEN 'click'
        |       ELSE 'view' END = event_type AS m,
        |  CAST(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents
        | FROM events WHERE ts IS NOT NULL),
        |per AS (
        | SELECT a, count(*) AS na,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS ma,
        |  CAST(sum(CASE WHEN m THEN cents ELSE 0 END) AS BIGINT) AS sa
        | FROM base GROUP BY 1),
        |agg AS (
        | SELECT CAST(sum(na) AS BIGINT) AS n,
        |  CAST(sum(ma) AS BIGINT) AS n_matched,
        |  CAST(sum(CAST(round(CAST(ma AS DOUBLE) / CAST(na AS DOUBLE), 12)
        |    AS DECIMAL(28,12))) AS DOUBLE) AS sw,
        |  CAST(sum(CAST(round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS swr,
        |  CAST(sum(CAST(round(CAST(ma AS DOUBLE)
        |     / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)), 12)
        |    AS DECIMAL(28,12))) AS DOUBLE) AS sw2
        | FROM per)
        |SELECT n, n_matched,
        | round(swr / 100.0, 6) AS ips_value,
        | CASE WHEN sw > 0 THEN round(swr / sw / 100.0, 6) END
        |  AS snips_value,
        | CASE WHEN sw2 > 0 THEN round(sw * sw / sw2, 6) END AS ess,
        | round(CAST(n_matched AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |  AS match_rate
        |FROM agg""".stripMargin),
    // Two-regressor OLS from one Gram-sums pass (distributed normal eqs).
    // same exact HUGEINT moments, IDENTICAL Cramer strings (shared consts)
    Q("q_ols_multi", { (s, d) => olsMulti(Tables.lineitem(s, d)) },
      s"""WITH base AS (
         | SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
         |   AS BIGINT) AS y,
         |  CAST(l_quantity AS BIGINT) AS x,
         |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS z
         | FROM lineitem),
         |m AS (
         | SELECT count(*) AS cn,
         |  sum(CAST(x AS HUGEINT)) AS msx, sum(CAST(z AS HUGEINT)) AS msz,
         |  sum(CAST(y AS HUGEINT)) AS msy,
         |  sum(CAST(x AS HUGEINT) * x) AS msxx,
         |  sum(CAST(z AS HUGEINT) * z) AS mszz,
         |  sum(CAST(x AS HUGEINT) * z) AS msxz,
         |  sum(CAST(x AS HUGEINT) * y) AS msxy,
         |  sum(CAST(z AS HUGEINT) * y) AS mszy,
         |  sum(CAST(y AS HUGEINT) * y) AS msyy
         | FROM base),
         |dd AS (
         | SELECT cn, CAST(cn AS DOUBLE) AS n, CAST(msx AS DOUBLE) AS sx,
         |  CAST(msz AS DOUBLE) AS sz, CAST(msy AS DOUBLE) AS sy,
         |  CAST(msxx AS DOUBLE) AS sxx, CAST(mszz AS DOUBLE) AS szz,
         |  CAST(msxz AS DOUBLE) AS sxz, CAST(msxy AS DOUBLE) AS sxy,
         |  CAST(mszy AS DOUBLE) AS szy, CAST(msyy AS DOUBLE) AS syy
         | FROM m),
         |sol AS (
         | SELECT cn, n, sy, sxy, szy, syy,
         |  $olsDet AS det, $olsD0 AS d0, $olsD1 AS d1, $olsD2 AS d2
         | FROM dd)
         |SELECT cn AS n,
         | CASE WHEN abs(det) > 0 THEN round(d0 / det / 100.0, 6) END
         |  AS intercept_usd,
         | CASE WHEN abs(det) > 0 THEN round(d1 / det / 100.0, 6) END
         |  AS per_qty_usd,
         | CASE WHEN abs(det) > 0 THEN round(d2 / det, 6) END
         |  AS per_discount_usd,
         | CASE WHEN abs(det) > 0
         |   AND syy - sy * sy / n > 0 THEN
         |  round(1.0 - (syy - d0 / det * sy - d1 / det * sxy
         |    - d2 / det * szy) / (syy - sy * sy / n), 6) END AS r2
         |FROM sol""".stripMargin),
    // Area under the KM curve to day 14: the censoring-safe retention mean.
    // KM step integral: same spine, lag(survival, 1, 1.0) left-endpoint
    // rectangles clamped at tau, plus the censored tail rectangle
    Q("q_rmst", { (s, d) => rmst(Tables.events(s, d)) },
      ("WITH " + kmCtesSql + ",\n" +
        """km AS (
          | SELECT dur,
          |  CASE WHEN dead = 1 THEN 0.0
          |   ELSE round(exp(CAST(cuml AS DOUBLE)), 6) END AS survival
          | FROM c WHERE d > 0),
          |terms AS (
          | SELECT CAST(CASE WHEN lag(dur, 1, 0) OVER (ORDER BY dur) < 14
          |   THEN round(lag(survival, 1, 1.0) OVER (ORDER BY dur)
          |    * CAST(least(dur, 14) - lag(dur, 1, 0) OVER (ORDER BY dur)
          |       AS DOUBLE), 6)
          |   ELSE 0.0 END AS DECIMAL(18,6)) AS t
          | FROM km),
          |tl AS (
          | SELECT CAST(CASE WHEN dur < 14
          |   THEN round(survival * CAST(14 - dur AS DOUBLE), 6)
          |   ELSE 0.0 END AS DECIMAL(18,6)) AS tail_t
          | FROM km ORDER BY dur DESC LIMIT 1),
          |agg AS (SELECT count(*) AS n_steps,
          |        CAST(sum(t) AS DOUBLE) AS st FROM terms)
          |SELECT CAST(14 AS INTEGER) AS tau, n_steps,
          | round(st + CAST(tail_t AS DOUBLE), 6) AS rmst_days,
          | round((st + CAST(tail_t AS DOUBLE)) / 14.0, 6) AS rmst_share
          |FROM agg CROSS JOIN tl""".stripMargin)),
    // Chain-counterfactual channel credit: conversion-probability drop
    // when each event type is removed from the session Markov chain.
    // same sessionize CTEs, same S=1e12 value iteration unrolled per
    // round (the q_markov_stationary generated-CTE idiom), same integer
    // removal-effect division
    Q("q_markov_attribution", { (s, d) =>
      markovAttribution(Tables.events(s, d)) }, {
      val S = "1000000000000"
      def roundSql(t: Int) =
        s"""x$t AS (
           | SELECT sk.rm, sk.state, sk.occ,
           |  CASE WHEN sk.state = 'purchase' THEN $S
           |       WHEN sk.state = sk.rm THEN 0
           |       ELSE COALESCE(CAST(ag.sx // sk.occ AS BIGINT), 0)
           |  END AS x
           | FROM sk LEFT JOIN (
           |  SELECT xp.rm, tr.src AS state,
           |   sum(CAST(tr.n AS HUGEINT) * xp.x) AS sx
           |  FROM x${t - 1} xp JOIN tr ON tr.dst = xp.state
           |   AND tr.src <> xp.rm AND tr.dst <> xp.rm
           |  GROUP BY 1, 2) ag
           |  ON ag.rm = sk.rm AND ag.state = sk.state)""".stripMargin
      s"""WITH e AS (
         | SELECT user_id, event_id, event_type,
         |  date_trunc('second', ts) AS ts FROM events),
         |g AS (
         | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
         |  AS new_sess
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         | SELECT *, sum(new_sess) OVER (PARTITION BY user_id
         |   ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
         | FROM g),
         |tpairs AS (
         | SELECT event_type AS dst, lag(event_type) OVER (
         |   PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS src
         | FROM s),
         |tr AS (
         | SELECT src, dst, count(*) AS n FROM tpairs
         | WHERE src IS NOT NULL AND src <> 'purchase' GROUP BY 1, 2),
         |occ AS (
         | SELECT event_type AS state, count(*) AS occ FROM e GROUP BY 1),
         |rms AS (
         | SELECT state AS rm FROM occ WHERE state <> 'purchase'
         | UNION ALL SELECT '(none)'),
         |sk AS (SELECT rm, state, occ FROM rms CROSS JOIN occ),
         |x0 AS (
         | SELECT rm, state, occ,
         |  CASE WHEN state = 'purchase' THEN $S ELSE 0 END AS x FROM sk),
         |${(1 to 4).map(roundSql).mkString(",\n")},
         |st AS (
         | SELECT event_type AS state, count(*) AS st FROM g
         | WHERE new_sess = 1 GROUP BY 1),
         |stt AS (SELECT CAST(sum(st) AS BIGINT) AS tot FROM st),
         |pv AS (
         | SELECT x4.rm,
         |  CAST(sum(CAST(st.st AS HUGEINT) * x4.x) // tot AS BIGINT) AS p
         | FROM x4 JOIN st ON st.state = x4.state CROSS JOIN stt
         | GROUP BY 1, tot),
         |pfull AS (SELECT p AS pf FROM pv WHERE rm = '(none)')
         |SELECT rm AS channel,
         | CAST(pf // 1000000 AS BIGINT) AS p_full_ppm,
         | CAST(p // 1000000 AS BIGINT) AS p_removed_ppm,
         | CASE WHEN pf > 0 THEN
         |  CAST(CAST(pf - p AS HUGEINT) * 1000000 // pf AS BIGINT)
         | END AS removal_effect_ppm
         |FROM pv CROSS JOIN pfull WHERE rm <> '(none)'
         |ORDER BY rm""".stripMargin
    }),
    // Two-arm ratio-metric lift with user-grain delta-method CI.
    Q("q_ratio_lift_ci", { (s, d) => ratioLiftCi(Tables.events(s, d)) }, {
      def r(p: String) = s"(CAST(${p}_sx AS DOUBLE) / CAST(${p}_sy AS DOUBLE))"
      // Bessel n/(n-1): sample moments (Deng et al.), matching the Spark
      // tree's (central_moment) * bessel association exactly
      def bes(p: String) =
        s"(CAST(${p}_n AS DOUBLE) / (CAST(${p}_n AS DOUBLE) - 1.0))"
      def se2(p: String) =
        s"""(((CAST(${p}_sxx AS DOUBLE) / ${p}_n
           |   - CAST(${p}_sx AS DOUBLE) / ${p}_n
           |     * (CAST(${p}_sx AS DOUBLE) / ${p}_n)) * ${bes(p)}
           |  + ${r(p)} * ${r(p)} * ((CAST(${p}_syy AS DOUBLE) / ${p}_n
           |   - CAST(${p}_sy AS DOUBLE) / ${p}_n
           |     * (CAST(${p}_sy AS DOUBLE) / ${p}_n)) * ${bes(p)})
           |  - 2.0 * ${r(p)} * ((CAST(${p}_sxy AS DOUBLE) / ${p}_n
           |   - CAST(${p}_sx AS DOUBLE) / ${p}_n
           |     * (CAST(${p}_sy AS DOUBLE) / ${p}_n)) * ${bes(p)}))
           | / (CAST(${p}_n AS DOUBLE) * (CAST(${p}_sy AS DOUBLE) / ${p}_n)
           |    * (CAST(${p}_sy AS DOUBLE) / ${p}_n)))""".stripMargin
      s"""WITH pu AS (
         | SELECT user_id,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
         |    1, 4)) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
         |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |   AS BIGINT) AS x,
         |  count(*) AS y
         | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |m AS (
         | SELECT arm, count(*) AS n,
         |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |  sum(CAST(x AS HUGEINT) * x) AS sxx,
         |  sum(CAST(y AS HUGEINT) * y) AS syy,
         |  sum(CAST(x AS HUGEINT) * y) AS sxy
         | FROM pu GROUP BY 1),
         |wide AS (
         | SELECT
         |  max(CASE WHEN arm = 'a' THEN n END) AS a_n,
         |  max(CASE WHEN arm = 'a' THEN sx END) AS a_sx,
         |  max(CASE WHEN arm = 'a' THEN sy END) AS a_sy,
         |  max(CASE WHEN arm = 'a' THEN sxx END) AS a_sxx,
         |  max(CASE WHEN arm = 'a' THEN syy END) AS a_syy,
         |  max(CASE WHEN arm = 'a' THEN sxy END) AS a_sxy,
         |  max(CASE WHEN arm = 'b' THEN n END) AS b_n,
         |  max(CASE WHEN arm = 'b' THEN sx END) AS b_sx,
         |  max(CASE WHEN arm = 'b' THEN sy END) AS b_sy,
         |  max(CASE WHEN arm = 'b' THEN sxx END) AS b_sxx,
         |  max(CASE WHEN arm = 'b' THEN syy END) AS b_syy,
         |  max(CASE WHEN arm = 'b' THEN sxy END) AS b_sxy
         | FROM m),
         |f AS (
         | SELECT a_n, b_n, ${r("a")} AS ra, ${r("b")} AS rb,
         |  sqrt(${se2("a")} + ${se2("b")}) AS se
         | FROM wide)
         |SELECT a_n AS n_users_a, b_n AS n_users_b,
         | round(ra / 100.0, 6) AS ratio_a, round(rb / 100.0, 6) AS ratio_b,
         | round((rb - ra) / 100.0, 6) AS diff, round(se / 100.0, 6) AS se,
         | round((rb - ra - 1.959964 * se) / 100.0, 6) AS ci_lo,
         | round((rb - ra + 1.959964 * se) / 100.0, 6) AS ci_hi,
         | abs(rb - ra) > 1.959964 * se AS significant
         |FROM f""".stripMargin
    }),
    // Matched-model Laspeyres/Paasche/Fisher price indices.
    Q("q_price_index", { (s, d) => priceIndex(Tables.lineitem(s, d)) },
      """WITH py AS (
        | SELECT l_partkey AS part, CAST(year(l_shipdate) AS INTEGER) AS y,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |   AS BIGINT)) AS BIGINT) AS sq,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |   AS BIGINT)) AS BIGINT) AS se
        | FROM lineitem GROUP BY 1, 2),
        |yr AS (SELECT min(y) AS y0, max(y) AS y1 FROM py),
        |base AS (
        | SELECT part, y0, y1, sq AS q0, se AS e0
        | FROM py CROSS JOIN yr WHERE y = y0),
        |cur AS (
        | SELECT part, sq AS q1, se AS e1
        | FROM py CROSS JOIN yr WHERE y = y1),
        |m AS (
        | SELECT y0, y1,
        |  CAST(round(CAST(e1 AS DOUBLE) / CAST(q1 AS DOUBLE)
        |    * CAST(q0 AS DOUBLE), 6) AS DECIMAL(38,6)) AS l_num,
        |  CAST(round(CAST(e0 AS DOUBLE) / CAST(q0 AS DOUBLE)
        |    * CAST(q0 AS DOUBLE), 6) AS DECIMAL(38,6)) AS l_den,
        |  CAST(round(CAST(e1 AS DOUBLE) / CAST(q1 AS DOUBLE)
        |    * CAST(q1 AS DOUBLE), 6) AS DECIMAL(38,6)) AS p_num,
        |  CAST(round(CAST(e0 AS DOUBLE) / CAST(q0 AS DOUBLE)
        |    * CAST(q1 AS DOUBLE), 6) AS DECIMAL(38,6)) AS p_den
        | FROM base JOIN cur USING (part)),
        |a AS (
        | SELECT y0, y1, count(*) AS n_parts,
        |  CAST(sum(l_num) AS DOUBLE) AS ln2,
        |  CAST(sum(l_den) AS DOUBLE) AS ld,
        |  CAST(sum(p_num) AS DOUBLE) AS pn,
        |  CAST(sum(p_den) AS DOUBLE) AS pd
        | FROM m GROUP BY 1, 2)
        |SELECT y0 AS base_year, y1 AS current_year, n_parts,
        | round(ln2 / ld, 6) AS laspeyres,
        | round(pn / pd, 6) AS paasche,
        | round(sqrt(ln2 / ld * (pn / pd)), 6) AS fisher
        |FROM a""".stripMargin),
    // Long-run session attention: stationary vector of the event chain.
    Q("q_markov_stationary", { (s, d) =>
      markovStationary(Tables.events(s, d)) }, {
      val S = "1000000000000"
      def roundSql(t: Int) = {
        val prev = s"pi${t - 1}"
        s"""pi$t AS (
           | SELECT dst AS state,
           |  CAST(sum(CAST(pi AS HUGEINT) * p // $S) AS BIGINT) AS pi
           | FROM pm JOIN $prev ON pm.src = $prev.state GROUP BY 1)"""
          .stripMargin
      }
      s"""WITH e AS (
         | SELECT user_id, event_id, event_type,
         |  date_trunc('second', ts) AS ts FROM events),
         |g AS (
         | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
         |  AS new_sess
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         | SELECT *, sum(new_sess) OVER (PARTITION BY user_id
         |   ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
         | FROM g),
         |t AS (
         | SELECT event_type AS dst, lag(event_type) OVER (
         |   PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS src
         | FROM s),
         |tr AS (SELECT src, dst, count(*) AS n FROM t
         |       WHERE src IS NOT NULL GROUP BY 1, 2),
         |ni AS (SELECT src, CAST(sum(n) AS BIGINT) AS ni FROM tr GROUP BY 1),
         |pe AS (
         | SELECT tr.src, tr.dst,
         |  CAST(CAST(n AS HUGEINT) * $S // ni AS BIGINT) AS p
         | FROM tr JOIN ni USING (src)),
         |states AS (SELECT DISTINCT state FROM
         | (SELECT src AS state FROM tr UNION ALL SELECT dst FROM tr)),
         |selfr AS (
         | SELECT state AS src, state AS dst, CAST($S AS BIGINT) AS p
         | FROM states WHERE state NOT IN (SELECT DISTINCT src FROM tr)),
         |pm AS (SELECT * FROM pe UNION ALL SELECT * FROM selfr),
         |kf AS (SELECT count(*) AS k FROM states),
         |pi0 AS (SELECT state, CAST($S // k AS BIGINT) AS pi
         |        FROM states CROSS JOIN kf),
         |${(1 to 4).map(roundSql).mkString(",\n")}
         |SELECT st.state, coalesce(pi4.pi, 0) AS pi_mass,
         | CAST(coalesce(pi4.pi, 0) * 1000000 // $S AS BIGINT) AS share_ppm
         |FROM states st LEFT JOIN pi4 ON st.state = pi4.state
         |ORDER BY st.state""".stripMargin
    }),
    // Pareto/ABC revenue classes over the part dimension.
    Q("q_abc_classes", { (s, d) => abcClasses(Tables.lineitem(s, d)) },
      """WITH rev AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS rc
        | FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS tot FROM rev),
        |cl AS (
        | SELECT rc, tot,
        |  CASE WHEN CAST(sum(rc) OVER (ORDER BY rc DESC, l_partkey
        |     ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 100
        |    <= CAST(tot AS HUGEINT) * 80
        |   THEN 'A'
        |   WHEN CAST(sum(rc) OVER (ORDER BY rc DESC, l_partkey
        |     ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 100
        |    <= CAST(tot AS HUGEINT) * 95
        |   THEN 'B' ELSE 'C' END AS abc
        | FROM rev CROSS JOIN tot)
        |SELECT abc, count(*) AS n_parts,
        | CAST(sum(rc) AS BIGINT) AS revenue_cents,
        | CAST(CAST(sum(rc) AS HUGEINT) * 1000000 // max(tot) AS BIGINT)
        |  AS share_ppm
        |FROM cl GROUP BY 1 ORDER BY abc""".stripMargin),
    // Paired nonparametric daily purchase-vs-click location test.
    Q("q_wilcoxon_signed", { (s, d) => wilcoxonSigned(Tables.events(s, d)) },
      s"""WITH daily AS (
         | SELECT CAST(ts AS DATE) AS day,
         |  CAST(sum(CASE WHEN event_type = 'purchase'
         |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |   ELSE 0 END) AS BIGINT) AS sp,
         |  CAST(sum(CASE WHEN event_type = 'click'
         |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |   ELSE 0 END) AS BIGINT) AS sc
         | FROM events
         | WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
         | GROUP BY 1),
         |df AS (SELECT sp - sc AS diff FROM daily WHERE sp - sc <> 0),
         |gp AS (
         | SELECT abs(diff) AS ad, count(*) AS c,
         |  CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp
         | FROM df GROUP BY 1),
         |cum AS (
         | SELECT c, cp,
         |  2 * CAST(sum(c) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING)
         |    AS BIGINT) - c + 1 AS d_rank
         | FROM gp),
         |a AS (
         | SELECT CAST(sum(c) AS BIGINT) AS n,
         |  CAST(sum(cp * d_rank) AS BIGINT) AS w2,
         |  CAST(sum(c * c * c - c) AS BIGINT) AS tie
         | FROM cum),
         |f AS (
         | SELECT n, w2,
         |  CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 2.0 AS mu2,
         |  CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
         |   * (2.0 * CAST(n AS DOUBLE) + 1) / 6.0
         |   - CAST(tie AS DOUBLE) / 12.0 AS var2
         | FROM a)
         |SELECT n AS n_pairs, CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
         | CASE WHEN var2 > 0
         |  THEN round((CAST(w2 AS DOUBLE) - mu2) / sqrt(var2), 6) END AS z,
         | CASE WHEN var2 > 0 THEN round(${pTwoSidedSql(
        "abs((CAST(w2 AS DOUBLE) - mu2) / sqrt(var2))")}, 6) END AS p_value
         |FROM f""".stripMargin),
    // Portmanteau white-noise test over the first 7 daily-revenue ACFs.
    Q("q_ljung_box", { (s, d) => ljungBox(Tables.orders(s, d)) },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS yc
        | FROM orders GROUP BY 1),
        |i AS (SELECT yc, row_number() OVER (ORDER BY day) AS rn FROM d),
        |p AS (
        | SELECT k.k AS lag, a.yc AS x, b.yc AS y
        | FROM i a, i b, (SELECT unnest(range(1, 8)) AS k) k
        | WHERE b.rn = a.rn + k.k),
        |a AS (
        | SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(*) AS DOUBLE) AS dm,
        |  CAST(sum(x) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE)
        |   AS sxx,
        |  CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
        |   AS syy,
        |  CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
        |   AS sxy
        | FROM p GROUP BY 1),
        |rho AS (
        | SELECT lag, n_pairs,
        |  CASE WHEN dm * sxx - sx * sx > 0 AND dm * syy - sy * sy > 0 THEN
        |   round((dm * sxy - sx * sy)
        |     / sqrt((dm * sxx - sx * sx) * (dm * syy - sy * sy)), 6)
        |  END AS acf
        | FROM a),
        |terms AS (
        | SELECT CAST(n_pairs + lag AS BIGINT) AS n,
        |  CAST(CASE WHEN acf IS NOT NULL
        |   THEN round(acf * acf / n_pairs, 12) ELSE 0.0 END
        |   AS DECIMAL(28,12)) AS t
        | FROM rho)
        |SELECT n AS n_days, count(*) AS m_lags,
        | round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
        |   * CAST(sum(t) AS DOUBLE), 6) AS q_stat,
        | count(*) AS dof
        |FROM terms GROUP BY n""".stripMargin),
    // Blocked nonparametric k-treatment test (days as blocks).
    Q("q_friedman", { (s, d) => friedman(Tables.events(s, d)) },
      """WITH base AS (
        | SELECT CAST(ts AS DATE) AS day, event_type AS t,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events
        | WHERE value IS NOT NULL
        |  AND event_type IN ('click','error','purchase','signup','view')
        | GROUP BY 1, 2),
        |cells AS (
        | SELECT d.day, tt.t, coalesce(b.cents, 0) AS cents
        | FROM (SELECT DISTINCT day FROM base) d
        |  CROSS JOIN (SELECT unnest(
        |    ['click','error','purchase','signup','view']) AS t) tt
        |  LEFT JOIN base b ON b.day = d.day AND b.t = tt.t),
        |gp AS (SELECT day, cents, count(*) AS c FROM cells GROUP BY 1, 2),
        |dr AS (
        | SELECT day, cents,
        |  2 * CAST(sum(c) OVER (PARTITION BY day ORDER BY cents
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - c + 1 AS d_rank
        | FROM gp),
        |byt AS (
        | SELECT t, count(*) AS n, CAST(sum(d_rank) AS BIGINT) AS d2
        | FROM cells JOIN dr USING (day, cents) GROUP BY 1),
        |ties AS (
        | SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tie FROM gp),
        |a AS (
        | SELECT count(*) AS k, max(n) AS n_blocks,
        |  sum(CAST(d2 * d2 AS HUGEINT)) AS d2sq
        | FROM byt)
        |SELECT n_blocks, k AS k_treatments, k - 1 AS dof,
        | CASE WHEN k > 1 THEN round(
        |  3.0 * CAST(d2sq AS DOUBLE)
        |   / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(k AS DOUBLE) + 1))
        |  - 3.0 * CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) + 1), 6)
        | END AS q_stat,
        | CASE WHEN k > 1 AND 1.0 - CAST(tie AS DOUBLE)
        |    / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |       * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)) > 0
        |  THEN round((3.0 * CAST(d2sq AS DOUBLE)
        |    / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |       * (CAST(k AS DOUBLE) + 1))
        |   - 3.0 * CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) + 1))
        |   / (1.0 - CAST(tie AS DOUBLE)
        |    / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |       * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1))), 6)
        | END AS q_tie_adj
        |FROM a CROSS JOIN ties""".stripMargin),
    // Equivalence/non-inferiority readout: is B within ±$5 of A?
    Q("q_tost_equivalence", { (s, d) =>
      tostEquivalence(Tables.events(s, d)) }, {
      val diff = "(CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)"
      val se = """sqrt(((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE)
                 |    * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                 |    / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE)
                 |   + ((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE)
                 |    * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                 |    / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE))"""
        .stripMargin
      def upper(z: String) =
        s"""CASE WHEN $z >= 0 THEN ${pTwoSidedSql(s"abs($z)")} / 2
           | ELSE 1.0 - ${pTwoSidedSql(s"abs($z)")} / 2 END""".stripMargin
      val zLo = "((df + 500) / se)"
      val zUp = "((500 - df) / se)"
      s"""WITH rows0 AS (
         | SELECT (event_type = 'purchase') AS t,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         | FROM events
         | WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         |m AS (
         | SELECT
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS na,
         |  CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT) AS sb,
         |  CAST(sum(CASE WHEN t THEN 0 ELSE cents END) AS BIGINT) AS sa,
         |  sum(CASE WHEN t THEN CAST(cents * cents AS HUGEINT)
         |      ELSE CAST(0 AS HUGEINT) END) AS ssb,
         |  sum(CASE WHEN t THEN CAST(0 AS HUGEINT)
         |      ELSE CAST(cents * cents AS HUGEINT) END) AS ssa
         | FROM rows0),
         |s AS (SELECT na, nb, $diff AS df, $se AS se FROM m),
         |p AS (
         | SELECT na, nb, df, se,
         |  ${upper(zLo)} AS p_lo, ${upper(zUp)} AS p_up
         | FROM s)
         |SELECT na AS n_a, nb AS n_b,
         | round(df / 100.0, 6) AS diff, round(se / 100.0, 6) AS se,
         | CAST(5.0 AS DOUBLE) AS delta,
         | round(p_lo, 6) AS p_lower, round(p_up, 6) AS p_upper,
         | round(greatest(p_lo, p_up), 6) AS p_tost,
         | greatest(p_lo, p_up) < 0.05 AS equivalent
         |FROM p""".stripMargin
    }),
    // Seasonal/trend strength of the daily-revenue decomposition.
    Q("q_seasonal_strength", { (s, d) =>
      seasonalStrength(Tables.orders(s, d)) },
      """WITH d AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS rc
        | FROM orders GROUP BY 1),
        |t AS (
        | SELECT day, rc, count(*) OVER w7 AS cnt7,
        |  CAST(sum(rc) OVER w7 AS BIGINT) // 7 AS trend
        | FROM d
        | WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |de AS (
        | SELECT day, rc, rc - trend AS det,
        |  CAST(isodow(day) AS INTEGER) AS dow
        | FROM t WHERE cnt7 = 7),
        |seas AS (
        | SELECT dow,
        |  CAST(sum(det + 1099511627776) AS BIGINT) // count(*)
        |   - 1099511627776 AS seasonal
        | FROM de GROUP BY 1),
        |r AS (
        | SELECT det, det - seasonal AS rem, rc - seasonal AS tr
        | FROM de JOIN seas USING (dow)),
        |m AS (
        | SELECT count(*) AS n,
        |  CAST(sum(det) AS BIGINT) AS s_det,
        |  sum(CAST(det AS HUGEINT) * det) AS ss_det,
        |  CAST(sum(rem) AS BIGINT) AS s_rem,
        |  sum(CAST(rem AS HUGEINT) * rem) AS ss_rem,
        |  CAST(sum(tr) AS BIGINT) AS s_tr,
        |  sum(CAST(tr AS HUGEINT) * tr) AS ss_tr
        | FROM r),
        |v AS (
        | SELECT n,
        |  (CAST(ss_det AS DOUBLE) - CAST(s_det AS DOUBLE)
        |    * CAST(s_det AS DOUBLE) / CAST(n AS DOUBLE))
        |   / (CAST(n AS DOUBLE) - 1.0) AS v_det,
        |  (CAST(ss_rem AS DOUBLE) - CAST(s_rem AS DOUBLE)
        |    * CAST(s_rem AS DOUBLE) / CAST(n AS DOUBLE))
        |   / (CAST(n AS DOUBLE) - 1.0) AS v_rem,
        |  (CAST(ss_tr AS DOUBLE) - CAST(s_tr AS DOUBLE)
        |    * CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE))
        |   / (CAST(n AS DOUBLE) - 1.0) AS v_tr
        | FROM m)
        |SELECT n AS n_days,
        | round(greatest(0.0, 1.0 - v_rem / v_det), 6) AS seasonal_strength,
        | round(greatest(0.0, 1.0 - v_rem / v_tr), 6) AS trend_strength
        |FROM v""".stripMargin),
    // Paired model comparison: McNemar χ² on the disagreement cells of
    // two rule classifiers over the same events (one-pass 2×2 table).
    Q("q_mcnemar", { (s, d) => mcnemar(Tables.events(s, d)) },
      """WITH c AS (
        | SELECT (event_type = 'purchase') AS truth,
        |  (COALESCE(value, 0.0) > 50.0) AS pa,
        |  (hour(ts) % 2 = 0) AS pb
        | FROM events WHERE ts IS NOT NULL),
        |t AS (
        | SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN pa = truth AND pb = truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS both_correct,
        |  CAST(sum(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a_only,
        |  CAST(sum(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b_only,
        |  CAST(sum(CASE WHEN pa <> truth AND pb <> truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS both_wrong
        | FROM c)
        |SELECT n, both_correct, a_only, b_only, both_wrong,
        | round(CAST(both_correct + a_only AS DOUBLE) / n, 6) AS acc_a,
        | round(CAST(both_correct + b_only AS DOUBLE) / n, 6) AS acc_b,
        | CASE WHEN a_only + b_only > 0 THEN
        |  round(pow(CAST(abs(a_only - b_only) AS DOUBLE) - 1.0, 2)
        |    / CAST(a_only + b_only AS DOUBLE), 6) END AS mcnemar_chi2
        |FROM t""".stripMargin),
    // Fisher randomization test: is the purchase−click value gap real?
    // (hash-seeded Bernoulli reassignment, B=48 sharded replicates)
    Q("q_permutation_test", { (s, d) => randomizationTest(Tables.events(s, d)) },
      s"""WITH rows0 AS (
         | SELECT event_id, (event_type = 'purchase') AS t,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         | FROM events
         | WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         |obs AS (
         | SELECT
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n0,
         |  CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT) AS s1,
         |  CAST(sum(CASE WHEN t THEN 0 ELSE cents END) AS BIGINT) AS s0
         | FROM rows0),
         |o2 AS (
         | SELECT n1, n0,
         |  CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 AS d_obs,
         |  CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) AS phat
         | FROM obs),
         |reps AS (
         | SELECT r.cents, (g.g - 1) * 4 + s.s + 1 AS b,
         |  (CAST(('0x' || substr(md5(concat_ws(':', r.event_id, g.g)),
         |    s.s * 8 + 1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
         | FROM rows0 r CROSS JOIN range(1, 13) g(g)
         |  CROSS JOIN range(0, 4) s(s)),
         |pr AS (
         | SELECT b,
         |  CASE WHEN sum(CASE WHEN g1 THEN 1 ELSE 0 END) > 0
         |        AND sum(CASE WHEN g1 THEN 0 ELSE 1 END) > 0 THEN
         |   CAST(sum(CASE WHEN g1 THEN cents ELSE 0 END) AS DOUBLE)
         |     / sum(CASE WHEN g1 THEN 1 ELSE 0 END)
         |   - CAST(sum(CASE WHEN g1 THEN 0 ELSE cents END) AS DOUBLE)
         |     / sum(CASE WHEN g1 THEN 0 ELSE 1 END) END AS d_b
         | FROM (SELECT b, cents, u < (SELECT phat FROM o2) AS g1 FROM reps)
         | GROUP BY b),
         |agg AS (
         | SELECT count(*) AS b_reps,
         |  CAST(sum(CASE WHEN COALESCE(abs(d_b) >=
         |    (SELECT abs(d_obs) FROM o2), TRUE) THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_extreme
         | FROM pr)
         |SELECT o2.n1 AS n_treat, o2.n0 AS n_ctrl,
         | round(o2.d_obs / 100.0, 6) AS diff_obs,
         | agg.b_reps, agg.n_extreme,
         | round(CAST(agg.n_extreme + 1 AS DOUBLE)
         |   / CAST(agg.b_reps + 1 AS DOUBLE), 6) AS p_value
         |FROM o2 CROSS JOIN agg""".stripMargin),
    // Coarsened-exact-matching ATT: priority effect on order value,
    // matched within (status × quarter) strata — one groupBy, no pairs.
    Q("q_cem_att", { (s, d) => cemAtt(Tables.orders(s, d)) },
      """WITH rows0 AS (
        | SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
        |  o_orderstatus AS st,
        |  year(o_orderdate) * 10 + quarter(o_orderdate) AS qtr,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM orders),
        |strata AS (
        | SELECT st, qtr,
        |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS nc,
        |  CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT) AS sct,
        |  CAST(sum(CASE WHEN t THEN 0 ELSE cents END) AS BIGINT) AS scc
        | FROM rows0 GROUP BY 1, 2),
        |naive AS (
        | SELECT CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN t THEN 1 ELSE 0 END)
        |  - CAST(sum(CASE WHEN t THEN 0 ELSE cents END) AS DOUBLE)
        |    / sum(CASE WHEN t THEN 0 ELSE 1 END) AS naive
        | FROM rows0),
        |agg AS (
        | SELECT count(*) AS n_strata,
        |  CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_strata_matched,
        |  CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)
        |   AS BIGINT) AS n_treated,
        |  CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN nc ELSE 0 END)
        |   AS BIGINT) AS n_control,
        |  CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN sct ELSE 0 END)
        |   AS BIGINT) AS st_sum,
        |  sum(CASE WHEN nt > 0 AND nc > 0 THEN
        |    CAST(round(CAST(nt AS DOUBLE) * scc / nc, 6) AS DECIMAL(28,6))
        |   ELSE CAST(0 AS DECIMAL(28,6)) END) AS wc_sum
        | FROM strata)
        |SELECT n_strata, n_strata_matched, n_treated, n_control,
        | CASE WHEN n_treated > 0 THEN
        |  round((CAST(st_sum AS DOUBLE) / n_treated
        |    - CAST(wc_sum AS DOUBLE) / n_treated) / 100.0, 6) END AS att,
        | round(naive / 100.0, 6) AS naive_diff
        |FROM agg CROSS JOIN naive""".stripMargin),
    // DeLong CI on the q_auc_length AUC (length predicting is-English).
    Q("q_auc_delong_ci", { (s, d) =>
      aucDelongCi(Tables.documents(s, d), col("n_chars"),
        col("lang") === "en") },
      delongSql("lang = 'en'",
        "n_chars IS NOT NULL AND lang IS NOT NULL")),
    // Adversarial validation (split hygiene): can a drift-prone feature
    // predict the held-out flag? Healthy split -> AUC CI straddles 0.5.
    // split-hygiene check: a drift-prone feature should NOT predict the
    // held-out flag (healthy split -> AUC CI straddles 0.5)
    Q("q_adversarial_valid", { (s, d) =>
      aucDelongCi(Tables.documents(s, d), col("n_chars"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 5 === 0) },
      delongSql(
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))" +
          " AS BIGINT) % 5 = 0",
        "n_chars IS NOT NULL")),
    // Bayesian A/B: P(B beats A) + credible interval of the lift
    // (normal posterior on exact moment sums, portable A&S Phi).
    Q("q_bayes_ab", { (s, d) => bayesAb(Tables.events(s, d)) }, {
      val z = "(((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)) / se)"
      s"""WITH rows0 AS (
         | SELECT (event_type = 'purchase') AS t,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         | FROM events
         | WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         |m AS (
         | SELECT
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS na,
         |  CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT) AS sb,
         |  CAST(sum(CASE WHEN t THEN 0 ELSE cents END) AS BIGINT) AS sa,
         |  sum(CASE WHEN t THEN CAST(cents * cents AS HUGEINT)
         |      ELSE CAST(0 AS HUGEINT) END) AS ssb,
         |  sum(CASE WHEN t THEN CAST(0 AS HUGEINT)
         |      ELSE CAST(cents * cents AS HUGEINT) END) AS ssa
         | FROM rows0),
         |s AS (
         | SELECT na, nb, sa, sb,
         |  sqrt(((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS
         |    DOUBLE) / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))
         |    / CAST(nb AS DOUBLE)
         |   + ((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS
         |    DOUBLE) / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0))
         |    / CAST(na AS DOUBLE)) AS se
         | FROM m)
         |SELECT na AS n_a, nb AS n_b,
         | round(CAST(sa AS DOUBLE) / na / 100.0, 6) AS mean_a,
         | round(CAST(sb AS DOUBLE) / nb / 100.0, 6) AS mean_b,
         | round((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
         |   / 100.0, 6) AS lift,
         | round(((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
         |   - 1.959964 * se) / 100.0, 6) AS ci_lo,
         | round(((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
         |   + 1.959964 * se) / 100.0, 6) AS ci_hi,
         | round(CASE WHEN $z >= 0
         |  THEN 1.0 - ${pTwoSidedSql(s"abs($z)")} / 2.0
         |  ELSE ${pTwoSidedSql(s"abs($z)")} / 2.0 END, 6)
         |  AS prob_b_beats_a
         |FROM s""".stripMargin
    }),
    // Kneedle chord knee of the Lorenz concentration curve: the decile
    // where cumulative spend share bends away from proportional.
    Q("q_knee_lorenz", { (s, d) =>
      kneePoint(lorenzDeciles(Tables.orders(s, d)), "decile",
        "cum_share_ppm") },
      """WITH per AS (
        | SELECT o_custkey,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |   AS DECIMAL(18,2)) * 100 AS BIGINT) AS sc
        | FROM orders GROUP BY 1),
        |dec AS (
        | SELECT sc, ntile(10) OVER (ORDER BY sc, o_custkey) AS decile
        | FROM per),
        |g AS (
        | SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(sum(sc) AS BIGINT) AS spend_cents
        | FROM dec GROUP BY 1),
        |t AS (SELECT CAST(sum(sc) AS BIGINT) AS tot FROM per),
        |curve AS (
        | SELECT decile,
        |  CAST(CAST(sum(spend_cents) OVER (ORDER BY decile
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000 // tot AS BIGINT)
        |   AS cum_share_ppm
        | FROM g CROSS JOIN t),
        |mm AS (
        | SELECT CAST(min(decile) AS DOUBLE) AS x0,
        |  CAST(max(decile) AS DOUBLE) AS x1,
        |  CAST(min(cum_share_ppm) AS DOUBLE) AS y0,
        |  CAST(max(cum_share_ppm) AS DOUBLE) AS y1
        | FROM curve)
        |SELECT decile, cum_share_ppm,
        | round(abs((CAST(decile AS DOUBLE) - x0) / (x1 - x0)
        |   - (CAST(cum_share_ppm AS DOUBLE) - y0) / (y1 - y0)), 6) AS gap
        |FROM curve CROSS JOIN mm
        |ORDER BY gap DESC, decile LIMIT 1""".stripMargin),
    // O'Brien-Fleming 5-look group-sequential monitor on the
    // purchase-vs-click value gap (calendar information fractions).
    Q("q_obrien_fleming", { (s, d) => obrienFleming(Tables.events(s, d)) },
      """WITH rows0 AS (
        | SELECT CAST(ts AS DATE) AS day, (event_type = 'purchase') AS t,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events
        | WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |looks AS (
        | SELECT day, CAST(ntile(5) OVER (ORDER BY day) AS BIGINT) AS look
        | FROM (SELECT DISTINCT day FROM rows0)),
        |pl AS (
        | SELECT look, count(DISTINCT r.day) AS n_days,
        |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT) AS sb,
        |  CAST(sum(CASE WHEN t THEN 0 ELSE cents END) AS BIGINT) AS sa,
        |  sum(CASE WHEN t THEN CAST(cents * cents AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS ssb,
        |  sum(CASE WHEN t THEN CAST(0 AS HUGEINT)
        |      ELSE CAST(cents * cents AS HUGEINT) END) AS ssa
        | FROM rows0 r JOIN looks USING (day) GROUP BY 1),
        |c AS (
        | SELECT look,
        |  CAST(sum(n_days) OVER w AS BIGINT) AS n_days,
        |  CAST(sum(nb) OVER w AS BIGINT) AS nb,
        |  CAST(sum(na) OVER w AS BIGINT) AS na,
        |  CAST(sum(sb) OVER w AS BIGINT) AS sb,
        |  CAST(sum(sa) OVER w AS BIGINT) AS sa,
        |  sum(ssb) OVER w AS ssb, sum(ssa) OVER w AS ssa
        | FROM pl WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)),
        |zf AS (
        | SELECT look, n_days, na, nb,
        |  round((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
        |   / sqrt(((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE)
        |      * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE)
        |    + ((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE)
        |      * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
        |      / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE)), 6) AS z,
        |  CASE look WHEN 1 THEN 4.8769 WHEN 2 THEN 3.3569
        |   WHEN 3 THEN 2.6803 WHEN 4 THEN 2.2898 ELSE 2.0310 END AS boundary
        | FROM c)
        |SELECT look, n_days, na, nb, z, boundary,
        | abs(z) >= boundary AS crossed
        |FROM zf ORDER BY look""".stripMargin),
    // Pinball-loss quantile backtest on the daily-revenue spine
    // (train quantiles as forecasts, held-out proper scoring).
    Q("q_pinball_loss", { (s, d) => pinballLoss(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS dc
        | FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM daily),
        |idx AS (
        | SELECT day, dc,
        |  row_number() OVER (ORDER BY day) <= (nd * 7) // 10 AS is_train
        | FROM daily CROSS JOIN n),
        |tn AS (SELECT count(*) AS ntr FROM idx WHERE is_train),
        |ranked AS (
        | SELECT dc, row_number() OVER (ORDER BY dc, day) AS qr
        | FROM idx WHERE is_train),
        |fc AS (
        | SELECT k, dc AS fc, ntr
        | FROM ranked CROSS JOIN (SELECT unnest([1, 5, 9]) AS k) qq
        |  CROSS JOIN tn
        | WHERE qr = (k * ntr + 9) // 10),
        |test AS (SELECT day, dc FROM idx WHERE NOT is_train),
        |terms AS (
        | SELECT k, fc, ntr,
        |  greatest(k * (dc - fc), (k - 10) * (dc - fc)) AS loss,
        |  CASE WHEN dc > fc THEN 1 ELSE 0 END AS over
        | FROM test CROSS JOIN fc)
        |SELECT CAST(k AS DOUBLE) / 10.0 AS q,
        | CAST(max(ntr) AS BIGINT) AS n_train_days,
        | count(*) AS n_test_days,
        | round(CAST(max(fc) AS DOUBLE) / 100.0, 6) AS forecast,
        | round(CAST(sum(loss) AS DOUBLE) / count(*) / 1000.0, 6)
        |  AS pinball_loss,
        | round(CAST(sum(over) AS DOUBLE) / count(*), 6) AS exceed_rate
        |FROM terms GROUP BY k ORDER BY q""".stripMargin),
    // NB method-of-moments fit of daily purchase counts (zeros kept
    // via the all-events day spine).
    Q("q_nb_fit", { (s, d) => nbFit(Tables.events(s, d)) },
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |m AS (
        | SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
        |  CAST(sum(c * c) AS BIGINT) AS ss,
        |  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
        | FROM daily),
        |f AS (
        | SELECT n, z, CAST(s AS DOUBLE) / n AS mean,
        |  (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vr
        | FROM m)
        |SELECT n AS n_days, round(mean, 6) AS mean, round(vr, 6) AS variance,
        | CASE WHEN vr > mean THEN round(mean * mean / (vr - mean), 6) END
        |  AS nb_r,
        | CASE WHEN vr > mean THEN round(mean / vr, 6) END AS nb_p,
        | round(CAST(z AS DOUBLE) / CAST(n AS DOUBLE), 6) AS zero_share_obs,
        | round(exp(-mean), 6) AS zero_share_poisson
        |FROM f""".stripMargin),
    // Seasonal-naive MASE benchmark on the daily-revenue spine.
    Q("q_mase_naive", { (s, d) => maseNaive(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS dc
        | FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM daily),
        |idx AS (
        | SELECT row_number() OVER (ORDER BY day) <= (nd * 7) // 10
        |   AS is_train,
        |  abs(dc - lag(dc, 7) OVER (ORDER BY day)) AS ae,
        |  lag(dc, 7) OVER (ORDER BY day) AS lag7
        | FROM daily CROSS JOIN n),
        |a AS (
        | SELECT
        |  CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_train,
        |  CAST(sum(CASE WHEN is_train THEN ae ELSE 0 END) AS BIGINT)
        |   AS ae_train,
        |  CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_test,
        |  CAST(sum(CASE WHEN is_train THEN 0 ELSE ae END) AS BIGINT)
        |   AS ae_test
        | FROM idx WHERE lag7 IS NOT NULL)
        |SELECT n_train AS n_train_terms, n_test AS n_test_terms,
        | round(CAST(ae_train AS DOUBLE) / n_train / 100.0, 6) AS mae_train,
        | round(CAST(ae_test AS DOUBLE) / n_test / 100.0, 6) AS mae_test,
        | CASE WHEN ae_train > 0 THEN
        |  round((CAST(ae_test AS DOUBLE) / n_test)
        |    / (CAST(ae_train AS DOUBLE) / n_train), 6) END AS mase
        |FROM a""".stripMargin),
    Q("q_split_finder", { (s, d) => splitFinder(Tables.documents(s, d)) }, {
      val gl = giniSql("pl", "cl")
      val gr = giniSql("np - pl", "n - cl")
      val gp = giniSql("np", "n")
      s"""WITH cells AS (
         | SELECT CAST(n_chars AS BIGINT) AS v,
         |  CAST(count(*) AS BIGINT) AS c,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
         | FROM documents
         | WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |        CAST(sum(p) AS BIGINT) AS np FROM cells),
         |cum AS (
         | SELECT v,
         |  CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |       AS BIGINT) AS cl,
         |  CAST(sum(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |       AS BIGINT) AS pl
         | FROM cells),
         |sc AS (
         | SELECT v, cl AS n_left, n - cl AS n_right, n, np, pl, cl,
         |  round((CAST(cl AS DOUBLE) * $gl
         |    + CAST(n - cl AS DOUBLE) * $gr) / CAST(n AS DOUBLE), 6)
         |   AS gini_split
         | FROM cum CROSS JOIN tot WHERE cl < n),
         |best AS (SELECT * FROM sc ORDER BY gini_split ASC, v ASC LIMIT 1)
         |SELECT v AS split_at, n_left, n_right,
         | round($gp, 6) AS gini_parent, gini_split,
         | round($gp - gini_split, 6) AS gini_gain
         |FROM best""".stripMargin
    }),
    Q("q_pr_auc", { (s, d) => prAuc(Tables.documents(s, d)) },
      """WITH cells AS (
        | SELECT CAST(n_chars AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
        | FROM documents
        | WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(p) AS BIGINT) AS np FROM cells),
        |cum AS (
        | SELECT v, c, p,
        |  CAST(sum(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS ct,
        |  CAST(sum(p) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS pt
        | FROM cells),
        |terms AS (
        | SELECT np,
        |  CAST(round((CAST(pt AS DOUBLE) / CAST(np AS DOUBLE)
        |     - CAST(pt - p AS DOUBLE) / CAST(np AS DOUBLE))
        |    * (CAST(pt AS DOUBLE) / CAST(ct AS DOUBLE)
        |     + CASE WHEN ct - c = 0
        |        THEN CAST(pt AS DOUBLE) / CAST(ct AS DOUBLE)
        |        ELSE CAST(pt - p AS DOUBLE)
        |          / (CASE WHEN ct - c > 0 THEN CAST(ct - c AS DOUBLE)
        |             ELSE 1.0 END) END) / 2, 6) AS DECIMAL(18,6)) AS t
        | FROM cum CROSS JOIN tot)
        |SELECT np AS n_positives,
        | round(CAST(sum(t) AS DOUBLE), 6) AS pr_auc
        |FROM terms GROUP BY np""".stripMargin),
    Q("q_kendall_tau", { (s, d) => kendallTau(Tables.documents(s, d)) },
      s"""WITH cells AS (
        | SELECT CAST(len(${TextAnalysis.tokensSql("text")}) AS BIGINT) AS x,
        |  CAST(n_chars AS BIGINT) // 32 AS y,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM documents
        | WHERE text IS NOT NULL AND n_chars IS NOT NULL
        | GROUP BY 1, 2),
        |conc AS (
        | SELECT CAST(COALESCE(sum(a.n * b.n), 0) AS BIGINT) AS c
        | FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y),
        |disc AS (
        | SELECT CAST(COALESCE(sum(a.n * b.n), 0) AS BIGINT) AS dd
        | FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y),
        |tx AS (
        | SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS tx2,
        |  CAST(sum(t) AS BIGINT) AS nn
        | FROM (SELECT sum(n) AS t FROM cells GROUP BY x)),
        |ty AS (
        | SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS ty2
        | FROM (SELECT sum(n) AS t FROM cells GROUP BY y))
        |SELECT nn AS n_rows, c AS n_concordant, dd AS n_discordant,
        | tx2 // 2 AS ties_x_pairs, ty2 // 2 AS ties_y_pairs,
        | CASE WHEN (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1) / 2
        |     - CAST(tx2 AS DOUBLE) / 2)
        |    * (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1) / 2
        |     - CAST(ty2 AS DOUBLE) / 2) > 0 THEN
        |  round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
        |   / sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1) / 2
        |      - CAST(tx2 AS DOUBLE) / 2)
        |     * (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1) / 2
        |      - CAST(ty2 AS DOUBLE) / 2)), 6)
        | END AS tau_b
        |FROM conc CROSS JOIN disc CROSS JOIN tx CROSS JOIN ty""".stripMargin),
    Q("q_nelson_aalen", { (s, d) => nelsonAalen(Tables.events(s, d)) },
      """WITH ev AS (
        | SELECT user_id, CAST(ts AS DATE) AS dt FROM events),
        |mx AS (SELECT max(dt) AS mx FROM ev),
        |per AS (
        | SELECT user_id,
        |  CAST(date_diff('day', min(dt), max(dt)) AS INTEGER) AS dur,
        |  max(dt) = (SELECT mx FROM mx) AS censored
        | FROM ev GROUP BY user_id),
        |bydur AS (
        | SELECT dur,
        |  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |  CAST(count(*) AS BIGINT) AS e
        | FROM per GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM per),
        |risk AS (
        | SELECT dur, d,
        |  nt - COALESCE(CAST(sum(e) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS n_at_risk
        | FROM bydur CROSS JOIN tot),
        |terms AS (
        | SELECT dur, n_at_risk, d,
        |  CAST(sum(CAST(round(CAST(d AS DOUBLE)
        |    / CAST(n_at_risk AS DOUBLE), 6) AS DECIMAL(18,6)))
        |   OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ch
        | FROM risk)
        |SELECT dur, n_at_risk, d, ch AS cum_hazard,
        | round(exp(-ch), 6) AS fh_survival
        |FROM terms WHERE d > 0 ORDER BY dur""".stripMargin),
    Q("q_holt_winters", { (s, d) => holtWinters(Tables.orders(s, d)) }, holtWintersSql),
    Q("q_cohort_ltv", { (s, d) => cohortLtv(Tables.orders(s, d)) },
      """WITH per AS (
        | SELECT o_custkey,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM orders),
        |f AS (SELECT o_custkey, CAST(min(m) AS BIGINT) AS cm
        |      FROM per GROUP BY 1),
        |g AS (
        | SELECT cm, m - cm AS age_months,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        | FROM per JOIN f USING (o_custkey) GROUP BY 1, 2)
        |SELECT ((cm - 1) // 12) * 100 + (cm - ((cm - 1) // 12) * 12)
        |  AS cohort_month,
        | age_months, n_orders, rev_cents,
        | CAST(sum(rev_cents) OVER (PARTITION BY cm ORDER BY age_months
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |FROM g ORDER BY cohort_month, age_months""".stripMargin),
    Q("q_max_drawdown", { (s, d) => maxDrawdown(Tables.orders(s, d)) },
      """WITH d AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
        | FROM orders GROUP BY 1),
        |p AS (
        | SELECT day, rc,
        |  CAST(max(rc) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS peak,
        |  CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS dno
        | FROM d),
        |x AS (
        | SELECT day, peak, rc, peak - rc AS dd,
        |  row_number() OVER (ORDER BY peak - rc DESC, dno ASC) AS rnk,
        |  count(*) OVER () AS n_days
        | FROM p)
        |SELECT CAST(n_days AS BIGINT) AS n_days, day AS trough_day,
        | peak AS peak_cents, rc AS trough_cents,
        | dd AS max_drawdown_cents,
        | CAST(dd * 1000000 // peak AS BIGINT) AS dd_ppm
        |FROM x WHERE rnk = 1""".stripMargin),
    Q("q_lorenz_deciles", { (s, d) => lorenzDeciles(Tables.orders(s, d)) },
      """WITH per AS (
        | SELECT o_custkey,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |   AS DECIMAL(18,2)) * 100 AS BIGINT) AS sc
        | FROM orders GROUP BY 1),
        |dec AS (
        | SELECT sc, ntile(10) OVER (ORDER BY sc, o_custkey) AS decile
        | FROM per),
        |g AS (
        | SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(sc) AS BIGINT) AS spend_cents
        | FROM dec GROUP BY 1),
        |t AS (SELECT CAST(sum(sc) AS BIGINT) AS tot FROM per)
        |SELECT decile, n_customers, spend_cents,
        | CAST(spend_cents * 1000000 // tot AS BIGINT) AS share_ppm,
        | CAST(CAST(sum(spend_cents) OVER (ORDER BY decile
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000 // tot AS BIGINT)
        |  AS cum_share_ppm
        |FROM g CROSS JOIN t ORDER BY decile""".stripMargin),
    Q("q_logrank", { (s, d) => logrank(Tables.events(s, d)) },
      """WITH ev AS (
        | SELECT user_id, CAST(ts AS DATE) AS dt FROM events),
        |mx AS (SELECT max(dt) AS mx FROM ev),
        |per AS (
        | SELECT user_id,
        |  CAST(date_diff('day', min(dt), max(dt)) AS INTEGER) AS dur,
        |  max(dt) = (SELECT mx FROM mx) AS censored,
        |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |       AS BIGINT) % 2 = 0 AS ctl
        | FROM ev GROUP BY user_id),
        |bydur AS (
        | SELECT dur,
        |  CAST(sum(CASE WHEN NOT censored AND ctl THEN 1 ELSE 0 END)
        |       AS BIGINT) AS dc,
        |  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |  CAST(sum(CASE WHEN ctl THEN 1 ELSE 0 END) AS BIGINT) AS ec,
        |  CAST(count(*) AS BIGINT) AS e
        | FROM per GROUP BY 1),
        |tot AS (
        | SELECT CAST(count(*) AS BIGINT) AS nt,
        |  CAST(sum(CASE WHEN ctl THEN 1 ELSE 0 END) AS BIGINT) AS nc
        | FROM per),
        |risk AS (
        | SELECT dur, dc, d, ec, e,
        |  nt - COALESCE(CAST(sum(e) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS n,
        |  nc - COALESCE(CAST(sum(ec) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS na
        | FROM bydur CROSS JOIN tot),
        |terms AS (
        | SELECT dc, d,
        |  CAST(round(CAST(dc AS DOUBLE)
        |    - CAST(na AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |   AS DECIMAL(18,6)) AS oe,
        |  CAST(round(CAST(d AS DOUBLE) * (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1), 6) AS DECIMAL(18,6)) AS vr
        | FROM risk WHERE d > 0 AND n > 1),
        |a AS (
        | SELECT CAST(sum(d) AS BIGINT) AS n_deaths,
        |  CAST(sum(dc) AS BIGINT) AS n_deaths_control,
        |  CAST(sum(oe) AS DOUBLE) AS soe, CAST(sum(vr) AS DOUBLE) AS svr
        | FROM terms)
        |SELECT nt AS n_users, nc AS n_control, n_deaths, n_deaths_control,
        | round(soe, 6) AS o_minus_e, round(svr, 6) AS var_logrank,
        | CASE WHEN svr > 0 THEN round(soe / sqrt(svr), 6) END AS z
        |FROM a CROSS JOIN tot""".stripMargin),
    Q("q_shapley_attr", { (s, d) => shapleyAttr(Tables.events(s, d)) },
      """WITH fp AS (
        | SELECT user_id,
        |  min(struct_pack(ts := ts, event_id := event_id)) AS fp
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |pu AS (
        | SELECT e.user_id,
        |  max(CASE WHEN event_type = 'click' AND
        |    struct_pack(ts := e.ts, event_id := e.event_id) < fp
        |    THEN 1 ELSE 0 END) * 4
        |  + max(CASE WHEN event_type = 'view' AND
        |    struct_pack(ts := e.ts, event_id := e.event_id) < fp
        |    THEN 1 ELSE 0 END) * 2
        |  + max(CASE WHEN event_type = 'signup' AND
        |    struct_pack(ts := e.ts, event_id := e.event_id) < fp
        |    THEN 1 ELSE 0 END) AS mask
        | FROM events e JOIN fp USING (user_id) GROUP BY 1),
        |bymask AS (SELECT mask, CAST(count(*) AS BIGINT) AS cv
        |           FROM pu GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS smask),
        |v AS (
        | SELECT smask, CAST(COALESCE(sum(cv), 0) AS BIGINT) AS v
        | FROM spine LEFT JOIN bymask ON (mask & smask) = mask
        | GROUP BY 1),
        |combos AS (
        | SELECT ch AS channel, bit, smask,
        |  CAST(CASE bit_count(CAST(smask AS BIGINT))
        |   WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END AS BIGINT) AS w6
        | FROM (VALUES ('click', 4), ('view', 2), ('signup', 1)) c(ch, bit)
        | CROSS JOIN spine
        | WHERE (smask & bit) = 0),
        |phi AS (
        | SELECT channel, CAST(sum(w6 * (v1.v - v0.v)) AS BIGINT) AS phi6
        | FROM combos
        | JOIN v v0 ON v0.smask = combos.smask
        | JOIN v v1 ON v1.smask = (combos.smask | combos.bit)
        | GROUP BY 1),
        |tots AS (
        | SELECT (SELECT v FROM v WHERE smask = 7) AS vall,
        |  (SELECT v FROM v WHERE smask = 0) AS v0),
        |un AS (
        | SELECT channel, phi6 FROM phi
        | UNION ALL
        | SELECT 'organic', v0 * 6 FROM tots)
        |SELECT channel,
        | round(CAST(phi6 AS DOUBLE) / 6.0, 6) AS phi_conversions,
        | CASE WHEN vall > 0 THEN CAST(phi6 * 1000000 // (6 * vall) AS BIGINT)
        | END AS share_ppm
        |FROM un CROSS JOIN tots ORDER BY channel""".stripMargin),
    Q("q_fdr_bh", { (s, d) => fdrBh(Tables.documents(s, d)) }, {
      val z = """((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |   - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        |  / (sqrt((CAST(qt AS DOUBLE) - CAST(ss AS DOUBLE)
        |      * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        |     / (CAST(nn AS DOUBLE) - 1))
        |   / sqrt(CAST(n AS DOUBLE))))""".stripMargin
      s"""WITH g AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS qq
         | FROM (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
         |       WHERE source IS NOT NULL AND n_chars IS NOT NULL)
         | GROUP BY 1),
         |tot AS (
         | SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
         |  CAST(sum(qq) AS BIGINT) AS qt
         | FROM g),
         |zc AS (
         | SELECT source, n AS n_docs, $z AS z0
         | FROM g CROSS JOIN tot),
         |scored AS (
         | SELECT source, n_docs, round(z0, 6) AS z,
         |  ${pTwoSidedSql("abs(z0)")} AS praw
         | FROM zc),
         |ranked AS (
         | SELECT source, n_docs, z, praw,
         |  CAST(count(*) OVER () AS BIGINT) AS m,
         |  CAST(row_number() OVER (ORDER BY praw, source) AS BIGINT)
         |   AS p_rank
         | FROM scored),
         |k AS (
         | SELECT *, max(CASE WHEN praw <= p_rank * 0.05 / m
         |   THEN p_rank END) OVER () AS kmax
         | FROM ranked)
         |SELECT source, n_docs, z, round(praw, 12) AS p_value, p_rank,
         | p_rank <= COALESCE(kmax, 0) AS significant
         |FROM k ORDER BY p_rank""".stripMargin
    }),
    Q("q_overdispersion", { (s, d) => overdispersion(Tables.events(s, d)) },
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |b0 AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (
        | SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
        |        AS DATE) AS day FROM b0),
        |filled AS (
        | SELECT s.day, t.event_type, COALESCE(d.c, 0) AS c
        | FROM spine s
        | CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
        | LEFT JOIN daily d ON s.day = d.day AND t.event_type = d.event_type),
        |g AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS qq
        | FROM filled GROUP BY 1)
        |SELECT event_type, n AS n_days,
        | round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
        | round((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS var_daily,
        | CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
        |  round(((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |   / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) END AS dispersion,
        | CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
        |  ((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |   / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 1.5 END
        |  AS overdispersed
        |FROM g ORDER BY event_type""".stripMargin),
    // Kruskal–Wallis: does doc length DISTRIBUTION differ across sources
    // (rank-based — the q_anova_lang readout without normality)?
    Q("q_kruskal_wallis", { (s, d) =>
      kruskalWallis(Tables.documents(s, d), "source", col("n_chars"))
    },
      """WITH base AS (
        | SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cg
        |       FROM base GROUP BY 1, 2),
        |vf AS (
        | SELECT v, c, CAST(sum(c) OVER (ORDER BY v
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM (SELECT v, CAST(sum(cg) AS BIGINT) AS c FROM gv GROUP BY 1)),
        |rg AS (
        | SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
        |  CAST(sum(cg * (2 * cum - c + 1)) AS BIGINT) AS r2
        | FROM gv JOIN vf USING (v) GROUP BY 1),
        |terms AS (
        | SELECT ng,
        |  CAST(round(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |    / (4.0 * CAST(ng AS DOUBLE)), 6) AS DECIMAL(28,6)) AS tg
        | FROM rg),
        |ties AS (SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tie FROM vf),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |  CAST(sum(ng) AS BIGINT) AS n_rows, sum(tg) AS t
        | FROM terms)
        |SELECT k_groups, n_rows, k_groups - 1 AS dof,
        | CASE WHEN k_groups > 1 THEN
        |  round(12.0 * CAST(t AS DOUBLE)
        |     / (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) + 1))
        |   - 3.0 * (CAST(n_rows AS DOUBLE) + 1), 6) END AS h_stat,
        | CASE WHEN k_groups > 1 AND 1.0 - CAST(tie AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
        |       * CAST(n_rows AS DOUBLE) - CAST(n_rows AS DOUBLE)) > 0 THEN
        |  round((12.0 * CAST(t AS DOUBLE)
        |     / (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) + 1))
        |   - 3.0 * (CAST(n_rows AS DOUBLE) + 1))
        |   / (1.0 - CAST(tie AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
        |       * CAST(n_rows AS DOUBLE) - CAST(n_rows AS DOUBLE))), 6)
        | END AS h_tie_adj
        |FROM a CROSS JOIN ties""".stripMargin),
    // Brown–Forsythe: is doc-length VARIANCE homogeneous across sources
    // (the validity gate for the ANOVA F beside it)?
    Q("q_levene_bf", { (s, d) =>
      brownForsythe(Tables.documents(s, d), "source", "n_chars")
    },
      """WITH meds AS (
        | SELECT source,
        |  CAST(round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5) * 2, 0)
        |       AS BIGINT) AS m2
        | FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |z AS (
        | SELECT d.source, abs(2 * CAST(d.n_chars AS BIGINT) - m.m2) AS v
        | FROM documents d JOIN meds m ON d.source = m.source
        | WHERE d.n_chars IS NOT NULL),
        |g AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS ng,
        |  CAST(sum(v) AS BIGINT) AS sg, CAST(sum(v * v) AS BIGINT) AS qg
        | FROM z GROUP BY 1),
        |t AS (
        | SELECT ng, sg, qg,
        |  CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |    / CAST(ng AS DOUBLE), 6) AS DECIMAL(28,6)) AS tg
        | FROM g),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |  CAST(sum(ng) AS BIGINT) AS n_rows, CAST(sum(sg) AS BIGINT) AS s,
        |  CAST(sum(qg) AS BIGINT) AS q, sum(tg) AS t
        | FROM t)
        |SELECT k_groups, n_rows,
        | round(CAST(t AS DOUBLE)
        |   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |  AS ss_between,
        | round(CAST(q AS DOUBLE) - CAST(t AS DOUBLE), 6) AS ss_within,
        | CASE WHEN k_groups > 1 AND n_rows > k_groups
        |       AND CAST(q AS DOUBLE) - CAST(t AS DOUBLE) > 0 THEN
        |  round(((CAST(t AS DOUBLE)
        |     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |    / CAST(k_groups - 1 AS DOUBLE))
        |   / ((CAST(q AS DOUBLE) - CAST(t AS DOUBLE))
        |    / CAST(n_rows - k_groups AS DOUBLE)), 6)
        | END AS w_stat
        |FROM a""".stripMargin),
    // Granger-style lag-1 predictability: order count → next-day revenue.
    Q("q_granger_daily", { (s, d) => grangerDaily(Tables.orders(s, d)) },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) // 100 AS rev,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM orders GROUP BY 1),
        |b0 AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (
        | SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
        |        AS DATE) AS day FROM b0),
        |filled AS (
        | SELECT s.day, COALESCE(d.rev, 0) AS rev, COALESCE(d.cnt, 0) AS cnt
        | FROM spine s LEFT JOIN daily d ON s.day = d.day),
        |lagged AS (
        | SELECT rev AS y,
        |  lag(rev, 1) OVER (ORDER BY day) AS x1,
        |  lag(cnt, 1) OVER (ORDER BY day) AS x2
        | FROM filled),
        |mo AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1) AS BIGINT) AS s1,
        |  CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(y * y) AS BIGINT) AS syy,
        |  CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |  CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |  CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |  CAST(sum(x1 * y) AS BIGINT) AS s1y,
        |  CAST(sum(x2 * y) AS BIGINT) AS s2y
        | FROM lagged WHERE x1 IS NOT NULL),
        |c AS (
        | SELECT n,
        |  CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
        |  CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
        |  CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
        |  CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c1y,
        |  CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c2y,
        |  CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy
        | FROM mo),
        |b AS (
        | SELECT n, c11, c12, c22, c1y, c2y, cyy,
        |  c11 * c22 - c12 * c12 AS det,
        |  (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
        |  (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
        | FROM c)
        |SELECT n AS n_days,
        | CASE WHEN det > 0 THEN round(b1, 6) END AS beta_rev_lag,
        | CASE WHEN det > 0 THEN round(b2, 6) END AS beta_cnt_lag,
        | CASE WHEN det > 0 AND cyy - b1 * c1y - b2 * c2y > 0 AND n > 3 THEN
        |  round(((cyy - c1y * c1y / c11) - (cyy - b1 * c1y - b2 * c2y))
        |   / ((cyy - b1 * c1y - b2 * c2y) / (CAST(n AS DOUBLE) - 3)), 6)
        | END AS f_stat
        |FROM b""".stripMargin),
    // A6 — the one-call wide describe over lineitem's measures + flags.
    Q("q_a6_describe_all", { (s, d) =>
      describeAll(Tables.lineitem(s, d),
        numeric = Seq("l_quantity", "l_extendedprice", "l_discount"),
        categorical = Seq("l_returnflag", "l_linestatus"))
    },
      describeAllSql("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      Seq("l_returnflag", "l_linestatus"))),
    // A6 — describe(include='all') at FULL width: every column of the
    // table in one call — all numerics in one aggregate pass, ALL string
    // columns (including the per-row-unique c_name — the high-cardinality
    // regime where a per-column loop would be ruinous) through the single
    // melt. Passes over the table stay at two regardless of column count.
    Q("q_a6_describe_all_strings", { (s, d) =>
      describeAll(Tables.customer(s, d),
        numeric = Seq("c_acctbal", "c_custkey", "c_nationkey"),
        categorical = Seq("c_mktsegment", "c_name"))
    },
      describeAllSql("customer",
      Seq("c_acctbal", "c_custkey", "c_nationkey"),
      Seq("c_mktsegment", "c_name"))),
    // A8 — correlation (exact-moment Pearson).
    Q("q_a8_corr", { (s, d) =>
      exactCorr(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")
    },
      exactCorrSql("l_quantity", "l_extendedprice", "lineitem")),
    // A8 — the full correlation matrix over the numeric measures (the
    // reference's notebooks/002_EDA_csv.ipynb cell 37 corr() heatmap),
    // unpivoted to (x, y, corr) rows. ONE scan for all 6 pairs.
    Q("q_a8_corr_matrix", { (s, d) =>
      exactCorrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    }, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for (x <- cols; y <- cols if x < y) yield (x, y)
      pairs.map { case (x, y) =>
        s"SELECT '$x' AS x, '$y' AS y, \"corr\" FROM (${exactCorrSql(x, y, "lineitem")})"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY x, y")
    }),
    // A9 — rolling 7-day revenue (trailing-window dashboard metric). The
    // window runs over the PER-DAY pre-aggregate — calendar-bounded
    // cardinality (same argument as dimension windows), never the fact
    // table; the frame sums DECIMALs (exact in any addition order —
    // DuckDB's segment-tree window vs Spark's running scan would drift
    // doubles) and casts once at the end.
    Q("q_rolling_revenue", { (s, d) =>
      val daily = dailyRevenue(Tables.orders(s, d))
      val w = Window.orderBy("day_num").rangeBetween(-6, 0)
      daily
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
        .withColumn("rolling_7d", sum(col("dt")).over(w).cast("double"))
        .select(col("day"), col("dt").cast("double").as("daily_total"),
          col("rolling_7d"))
        .orderBy("day")
    },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS dt
        | FROM orders GROUP BY 1)
        |SELECT day, CAST(dt AS DOUBLE) AS daily_total,
        | CAST(sum(dt) OVER (ORDER BY day
        |   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS rolling_7d
        |FROM daily ORDER BY day""".stripMargin),
    // CUPED VARIANCE REDUCTION (Deng et al., WSDM 2013 — "Improving the
    // Sensitivity of Online Controlled Experiments"): per-user pre-period
    // spend x (first half-window) as covariate for post-period spend y;
    // θ = cov(x,y)/var(x), adjusted variance var(y)−cov²/var(x). The
    // experimentation-platform primitive that shrinks A/B CIs without
    // more traffic. ONE per-user aggregate (map-side combined), then one
    // moment fold — moments are EXACT integers (cents as DECIMAL(38,0))
    // cast to double once, so every division is IEEE-identical across
    // engines (the q_partial_corr convention).
    Q("q_cuped", { (s, d) => cuped(Tables.events(s, d)) },
      """WITH e AS (
        | SELECT user_id,
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |m AS (SELECT CAST(floor((min(day) + max(day)) / 2.0) AS BIGINT)
        |       AS mid FROM e),
        |p AS (
        | SELECT user_id,
        |  COALESCE(CAST(sum(CASE WHEN day <= mid THEN cents END) AS HUGEINT),
        |   0) AS x,
        |  COALESCE(CAST(sum(CASE WHEN day > mid THEN cents END) AS HUGEINT),
        |   0) AS y
        | FROM e, m GROUP BY 1),
        |mo AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        | FROM p)
        |SELECT CAST(n AS BIGINT) AS n_users,
        | CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
        | round(CAST(n * syy - sy * sy AS DOUBLE)
        |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0, 6) AS var_y,
        | CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
        |  round((CAST(n * syy - sy * sy AS DOUBLE)
        |    - CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0, 6) END AS var_adj,
        | CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |       AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE)
        |   / CAST(n * syy - sy * sy AS DOUBLE) * 100.0, 6) END
        |  AS var_reduction_pct
        |FROM mo""".stripMargin),
    // Post-stratification adjusted lift (strata + pooled + adjusted rows).
    Q("q_post_strat", { (s, d) => postStrat(Tables.events(s, d)) },
      """WITH e AS (
        | SELECT user_id,
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  event_type
        | FROM events),
        |m AS (SELECT CAST(floor((min(day) + max(day)) / 2.0) AS BIGINT)
        |       AS mid FROM e),
        |p AS (
        | SELECT user_id,
        |  sum(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS pre,
        |  max(CASE WHEN event_type = 'purchase' AND day > mid
        |      THEN 1 ELSE 0 END) AS y
        | FROM e, m GROUP BY 1),
        |lab AS (
        | SELECT y,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |    1, 4)) AS BIGINT) % 2 = 0 THEN 'control'
        |   ELSE 'treatment' END AS arm,
        |  CASE WHEN pre <= 28 THEN 'pre_low' WHEN pre <= 36 THEN 'pre_mid'
        |   ELSE 'pre_top' END AS stratum
        | FROM p),
        |st AS (
        | SELECT stratum, count(*) AS n,
        |  sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN arm = 'control' THEN y ELSE 0 END) AS xc,
        |  sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
        |  sum(CASE WHEN arm = 'treatment' THEN y ELSE 0 END) AS xt
        | FROM lab GROUP BY 1),
        |tot AS (
        | SELECT sum(n) AS n, sum(nc) AS nc, sum(xc) AS xc,
        |  sum(nt) AS nt, sum(xt) AS xt FROM st),
        |r AS (
        | SELECT stratum AS scope, CAST(n AS BIGINT) AS n_users,
        |  CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) AS rc,
        |  CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) AS rt
        | FROM st
        | UNION ALL
        | SELECT 'pooled', CAST(n AS BIGINT),
        |  CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE),
        |  CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
        | FROM tot),
        |adj AS (
        | SELECT 'post_stratified' AS scope,
        |  (SELECT CAST(n AS BIGINT) FROM tot) AS n_users,
        |  CAST(sum(CAST(round(CAST(s.n AS DOUBLE) / CAST(t.n AS DOUBLE)
        |   * (CAST(s.xc AS DOUBLE) / CAST(s.nc AS DOUBLE)), 6)
        |   AS DECIMAL(18,6))) AS DOUBLE) AS rate_c,
        |  CAST(sum(CAST(round(CAST(s.n AS DOUBLE) / CAST(t.n AS DOUBLE)
        |   * (CAST(s.xt AS DOUBLE) / CAST(s.nt AS DOUBLE)), 6)
        |   AS DECIMAL(18,6))) AS DOUBLE) AS rate_t,
        |  CAST(sum(CAST(round(CAST(s.n AS DOUBLE) / CAST(t.n AS DOUBLE)
        |   * (CAST(s.xt AS DOUBLE) / CAST(s.nt AS DOUBLE)
        |      - CAST(s.xc AS DOUBLE) / CAST(s.nc AS DOUBLE)), 6)
        |   AS DECIMAL(18,6))) AS DOUBLE) AS lift
        | FROM st s, tot t)
        |SELECT scope, n_users, round(rc, 6) AS rate_c,
        | round(rt, 6) AS rate_t, round(rt - rc, 6) AS lift FROM r
        |UNION ALL
        |SELECT scope, n_users, rate_c, rate_t, lift FROM adj
        |ORDER BY scope""".stripMargin),
    // Always-valid mSPRT monitor: the day-by-day llr trajectory + flag.
    Q("q_msprt", { (s, d) => msprt(Tables.events(s, d)) },
      """WITH pu AS (
        | SELECT user_id,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |   1, 4)) AS BIGINT) % 2 = 0 THEN 'c' ELSE 't' END AS arm,
        |  min(CAST(ts AS DATE)) AS first_dt,
        |  min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE)
        |      END) AS conv_dt
        | FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS dt FROM events),
        |grid AS (SELECT dt, arm FROM days,
        |         (SELECT 'c' AS arm UNION ALL SELECT 't') a),
        |joins AS (SELECT first_dt AS dt, arm, count(*) AS joined
        |          FROM pu GROUP BY 1, 2),
        |convs AS (SELECT conv_dt AS dt, arm, count(*) AS converted
        |          FROM pu WHERE conv_dt IS NOT NULL GROUP BY 1, 2),
        |byday AS (
        | SELECT g.dt, g.arm, coalesce(j.joined, 0) AS joined,
        |  coalesce(c.converted, 0) AS converted
        | FROM grid g LEFT JOIN joins j ON g.dt = j.dt AND g.arm = j.arm
        |  LEFT JOIN convs c ON g.dt = c.dt AND g.arm = c.arm),
        |cum AS (
        | SELECT dt, arm,
        |  sum(joined) OVER (PARTITION BY arm ORDER BY dt) AS n,
        |  sum(converted) OVER (PARTITION BY arm ORDER BY dt) AS x
        | FROM byday),
        |piv AS (
        | SELECT dt,
        |  CAST(max(CASE WHEN arm = 'c' THEN n END) AS BIGINT) AS n_c,
        |  CAST(max(CASE WHEN arm = 'c' THEN x END) AS BIGINT) AS x_c,
        |  CAST(max(CASE WHEN arm = 't' THEN n END) AS BIGINT) AS n_t,
        |  CAST(max(CASE WHEN arm = 't' THEN x END) AS BIGINT) AS x_t
        | FROM cum GROUP BY 1),
        |stat AS (
        | SELECT dt, n_c, x_c, n_t, x_t,
        |  CAST(x_c + x_t AS DOUBLE)
        |   / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) AS p,
        |  CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |   - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS dlt
        | FROM piv),
        |s2t AS (
        | SELECT dt, n_c, x_c, n_t, x_t, dlt,
        |  p * (1.0 - p) * (1.0 / CAST(n_c AS DOUBLE)
        |                   + 1.0 / CAST(n_t AS DOUBLE)) AS s2
        | FROM stat),
        |lt AS (
        | SELECT dt, n_c, x_c, n_t, x_t, s2,
        |  CASE WHEN s2 > 0 THEN
        |   0.5 * ln(s2 / (s2 + 0.01 * 0.01)) + dlt * dlt * (0.01 * 0.01)
        |    / (2.0 * s2 * (s2 + 0.01 * 0.01)) END AS llr
        | FROM s2t),
        |sg AS (
        | SELECT dt, n_c, x_c, n_t, x_t,
        |  CASE WHEN s2 > 0 THEN round(llr, 6) END AS llr,
        |  CASE WHEN s2 > 0 THEN llr >= ln(1.0 / 0.05)
        |   ELSE false END AS sig_today
        | FROM lt)
        |SELECT dt, n_c, x_c, n_t, x_t, llr, sig_today,
        | max(CASE WHEN sig_today THEN 1 ELSE 0 END)
        |  OVER (ORDER BY dt) = 1 AS crossed
        |FROM sg ORDER BY dt""".stripMargin),
    // Delete-one-bucket jackknife SE for revenue/event (vs q_ratio_ci).
    Q("q_jackknife_ratio", { (s, d) => jackknifeRatio(Tables.events(s, d)) },
      """WITH per AS (
        | SELECT user_id,
        |  sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x,
        |  count(*) AS y
        | FROM events WHERE value IS NOT NULL GROUP BY 1),
        |b AS (
        | SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |   AS BIGINT) % 32 AS b,
        |  sum(x) AS sx, sum(y) AS sy
        | FROM per GROUP BY 1),
        |tot AS (SELECT sum(sx) AS tx, sum(sy) AS ty FROM b),
        |jr AS (
        | SELECT CAST(round(CAST(t.tx - b.sx AS DOUBLE)
        |   / CAST(t.ty - b.sy AS DOUBLE) / 100.0, 6)
        |  AS DECIMAL(18,6)) AS thr
        | FROM b, tot t),
        |m1 AS (SELECT count(*) AS bn, sum(thr) AS s1 FROM jr),
        |v AS (
        | SELECT max(m.bn) AS bn,
        |  sum(CAST(round((CAST(thr AS DOUBLE)
        |    - CAST(m.s1 AS DOUBLE) / CAST(m.bn AS DOUBLE))
        |   * (CAST(thr AS DOUBLE)
        |    - CAST(m.s1 AS DOUBLE) / CAST(m.bn AS DOUBLE)), 10)
        |   AS DECIMAL(28,10))) AS sdev
        | FROM jr, m1 m),
        |f AS (
        | SELECT CAST(v.bn AS BIGINT) AS n_buckets,
        |  CAST(t.tx AS DOUBLE) / CAST(t.ty AS DOUBLE) / 100.0 AS r,
        |  sqrt(greatest((CAST(v.bn AS DOUBLE) - 1.0)
        |    / CAST(v.bn AS DOUBLE) * CAST(v.sdev AS DOUBLE), 0.0)) AS se
        | FROM v, tot t)
        |SELECT n_buckets, round(r, 6) AS ratio, round(se, 6) AS se,
        | round(r - 1.96 * se, 6) AS lo, round(r + 1.96 * se, 6) AS hi
        |FROM f""".stripMargin),
    // Cluster-randomization ICC + Kish design effect (nation clusters).
    Q("q_design_effect", { (s, d) =>
      designEffect(Tables.orders(s, d), Tables.customer(s, d))
    },
      """WITH j AS (
        | SELECT c_nationkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (
        | SELECT c_nationkey, count(*) AS ng, sum(v) AS sg,
        |  sum(v * v) AS qg
        | FROM j GROUP BY 1),
        |terms AS (
        | SELECT ng, sg, qg,
        |  CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |   / CAST(ng AS DOUBLE), 6) AS DECIMAL(28,6)) AS tg,
        |  ng * ng AS ng2
        | FROM g),
        |a AS (
        | SELECT count(*) AS gk, sum(ng) AS n, sum(sg) AS s, sum(qg) AS q,
        |  sum(tg) AS t, sum(ng2) AS n2
        | FROM terms),
        |f AS (
        | SELECT CAST(gk AS BIGINT) AS g_clusters, CAST(n AS BIGINT)
        |   AS n_rows,
        |  CAST(gk AS DOUBLE) AS gd, CAST(n AS DOUBLE) AS nd,
        |  CAST(t AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |   / CAST(n AS DOUBLE) AS ssb,
        |  CAST(q AS DOUBLE) - CAST(t AS DOUBLE) AS ssw,
        |  (CAST(n AS DOUBLE) - CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
        |   / (CAST(gk AS DOUBLE) - 1.0) AS n0
        | FROM a),
        |i AS (
        | SELECT g_clusters, n_rows, gd, nd, ssw, n0,
        |  (ssb / (gd - 1.0) - ssw / (nd - gd))
        |   / (ssb / (gd - 1.0) + (n0 - 1.0) * (ssw / (nd - gd))) AS icc
        | FROM f)
        |SELECT g_clusters, n_rows, round(nd / gd, 6) AS mean_cluster_size,
        | round(n0, 6) AS n0,
        | CASE WHEN g_clusters > 1 AND ssw > 0 THEN round(icc, 6) END
        |  AS icc,
        | CASE WHEN g_clusters > 1 AND ssw > 0
        |  THEN round(1.0 + (nd / gd - 1.0) * icc, 6) END AS deff
        |FROM i""".stripMargin),
    // Simpson's-paradox audit: segment A vs B mean order value, pooled
    // and per priority stratum, with the direction-reversal flag.
    Q("q_simpson_check", { (s, d) =>
      simpsonCheck(Tables.orders(s, d), Tables.customer(s, d))
    },
      """WITH j AS (
        | SELECT o_orderpriority AS stratum,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents,
        |  c_mktsegment = 'AUTOMOBILE' AS ia
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
        |per AS (
        | SELECT stratum,
        |  sum(CASE WHEN ia THEN 1 ELSE 0 END) AS n_a,
        |  sum(CASE WHEN ia THEN cents ELSE 0 END) AS sa,
        |  sum(CASE WHEN ia THEN 0 ELSE 1 END) AS n_b,
        |  sum(CASE WHEN ia THEN 0 ELSE cents END) AS sb
        | FROM j GROUP BY 1),
        |uni AS (
        | SELECT stratum, n_a, sa, n_b, sb FROM per
        | UNION ALL
        | SELECT 'pooled', sum(n_a), sum(sa), sum(n_b), sum(sb) FROM per),
        |g AS (
        | SELECT stratum, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS ma,
        |  CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mb
        | FROM uni),
        |pd AS (SELECT ma - mb AS pooled_diff FROM g
        |       WHERE stratum = 'pooled')
        |SELECT stratum, n_a, n_b, round(ma, 6) AS mean_a,
        | round(mb, 6) AS mean_b, round(ma - mb, 6) AS diff,
        | (ma - mb) * pooled_diff < 0 AS opposes_pooled
        |FROM g, pd ORDER BY stratum""".stripMargin),
    // RFM SEGMENTATION (Hughes 1994; the classic CRM cube): per-user
    // Recency / Frequency / Monetary, quartile-scored 1..4 through the
    // distributed exact-percentile engine (quantile_cont parity, the
    // q_decile_report pattern), then segment counts. Everything after
    // the per-user aggregate runs on user-cardinality frames; the nine
    // thresholds ride one broadcast row.
    Q("q_rfm", { (s, d) =>
      import graft.CacheScope.TrackedDataset
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("dt"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      val mx = ev.agg(max(col("dt")).as("mx"))
      val per = ev.crossJoin(broadcast(mx))
        .groupBy("user_id")
        .agg(datediff(max(col("mx")), max(col("dt"))).cast("double").as("r"),
          count(lit(1)).cast("double").as("f"),
          sum(col("cents")).cast("double").as("m"))
        .coalesce(1).persistTracked() // user-cardinality; see markov note
      val qs = Seq(0.25, 0.5, 0.75)
      def thr(c: String) = exactPercentiles(per, c,
        qs.zipWithIndex.map { case (q, i) => s"$c${i + 1}" -> q })
      def score(c: String) = lit(1) +
        (1 to 3).map(i => when(col(c) > col(s"$c$i"), 1).otherwise(0))
          .reduce(_ + _)
      per.crossJoin(broadcast(thr("r"))).crossJoin(broadcast(thr("f")))
        .crossJoin(broadcast(thr("m")))
        .select(score("r").as("r_score"), score("f").as("f_score"),
          score("m").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    }, {
      val caseFor = (c: String) => s"1 + (CASE WHEN $c > ${c}1 THEN 1 ELSE 0 END" +
        s" + CASE WHEN $c > ${c}2 THEN 1 ELSE 0 END" +
        s" + CASE WHEN $c > ${c}3 THEN 1 ELSE 0 END)"
      val thrCols = Seq("r", "f", "m").flatMap { c =>
        Seq(0.25, 0.5, 0.75).zipWithIndex.map { case (q, i) =>
          s"quantile_cont($c, $q) AS $c${i + 1}" }
      }.mkString(", ")
      s"""WITH e AS (
         | SELECT user_id, CAST(ts AS DATE) AS dt,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
         |mx AS (SELECT max(dt) AS mx FROM e),
         |p AS (
         | SELECT user_id,
         |  CAST(datediff('day', max(dt), max(mx)) AS DOUBLE) AS r,
         |  CAST(count(*) AS DOUBLE) AS f,
         |  CAST(sum(cents) AS DOUBLE) AS m
         | FROM e, mx GROUP BY 1),
         |t AS (SELECT $thrCols FROM p)
         |SELECT ${caseFor("r")} AS r_score, ${caseFor("f")} AS f_score,
         | ${caseFor("m")} AS m_score, count(*) AS n_users
         |FROM p, t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    }),
    // KAPLAN-MEIER SURVIVAL over user activity spans (Kaplan & Meier
    // 1958): duration = last-minus-first active day; users whose last
    // activity touches the corpus boundary are right-CENSORED (they count
    // in the at-risk denominator, never as churn). The KM product folds
    // as a cumulative DECIMAL sum of 6dp-rounded ln terms over the
    // duration spine (order-independent; a raw double Π would drift) —
    // the spine is duration-bounded (≤ calendar days), so both
    // unpartitioned windows run on a provably small frame. A d=n step
    // drives survival to exact 0 via the flag, not ln(0).
    Q("q_kaplan_meier", { (s, d) => kaplanMeier(Tables.events(s, d)) },
      ("WITH " + kmCtesSql + "\n" +
        """SELECT dur, n_at_risk, d,
          | CASE WHEN dead = 1 THEN 0.0
          |  ELSE round(exp(CAST(cuml AS DOUBLE)), 6) END AS survival
          |FROM c WHERE d > 0 ORDER BY dur""".stripMargin)),
    // DIFFERENCE-IN-DIFFERENCES (Card & Krueger 1994 canonical form):
    // deterministic md5 treatment split × pre/post half-window, four
    // cell means from ONE map-side-combined aggregate over purchases,
    // effect = (T_post − T_pre) − (C_post − C_pre). Cell sums are exact
    // cents; the four divisions happen once on the single result row.
    Q("q_did", { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      val mid = ev.agg(((min(col("day")) + max(col("day"))) / 2)
        .cast("long").as("mid"))
      val bucket = conv(substring(md5(col("user_id").cast("string")), 1, 4),
        16, 10).cast("long") % 100
      val cells = ev.crossJoin(broadcast(mid))
        .select((bucket < 50).as("treated"), (col("day") > col("mid")).as("post"),
          col("cents"))
        .groupBy("treated", "post")
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).as("s"))
      def cell(t: Boolean, p: Boolean, c: String) =
        max(when(col("treated") === t && col("post") === p, col(c)))
      val one = cells.agg(
        cell(true, false, "n").as("n_t_pre"), cell(true, true, "n").as("n_t_post"),
        cell(false, false, "n").as("n_c_pre"), cell(false, true, "n").as("n_c_post"),
        cell(true, false, "s").as("s_t_pre"), cell(true, true, "s").as("s_t_post"),
        cell(false, false, "s").as("s_c_pre"), cell(false, true, "s").as("s_c_post"))
      def mean(sc: String, nc: String) =
        col(sc).cast("double") / col(nc).cast("double") / 100.0
      one.select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
        round((mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) -
          (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre")), 6)
          .as("did_estimate"))
    },
      """WITH e AS (
        | SELECT user_id,
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |m AS (SELECT CAST(floor((min(day) + max(day)) / 2.0) AS BIGINT)
        |       AS mid FROM e),
        |c AS (
        | SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
        |    AS BIGINT) % 100 < 50 AS treated,
        |  day > mid AS post, cents
        | FROM e, m),
        |g AS (
        | SELECT treated, post, count(*) AS n,
        |  CAST(sum(cents) AS HUGEINT) AS s
        | FROM c GROUP BY 1, 2),
        |w AS (
        | SELECT
        |  max(CASE WHEN treated AND NOT post THEN n END) AS n_t_pre,
        |  max(CASE WHEN treated AND post THEN n END) AS n_t_post,
        |  max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_c_pre,
        |  max(CASE WHEN NOT treated AND post THEN n END) AS n_c_post,
        |  max(CASE WHEN treated AND NOT post THEN s END) AS s_t_pre,
        |  max(CASE WHEN treated AND post THEN s END) AS s_t_post,
        |  max(CASE WHEN NOT treated AND NOT post THEN s END) AS s_c_pre,
        |  max(CASE WHEN NOT treated AND post THEN s END) AS s_c_post
        | FROM g)
        |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        | round((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) / 100.0
        |   - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE) / 100.0)
        |  - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) / 100.0
        |   - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE) / 100.0), 6)
        |  AS did_estimate
        |FROM w""".stripMargin),
    // MINIMUM DETECTABLE EFFECT at alpha=0.05 / power=0.8 for a
    // two-arm split of the order stream — the "is this experiment even
    // worth running" scalar every platform computes next to q_ab_test:
    // MDE = (z_{0.975} + z_{0.8}) * sqrt(2 sigma^2 / n). One exact-moment
    // aggregate; constants are 6dp literals shared with the oracle.
    Q("q_mde", { (s, d) =>
      val o = Tables.orders(s, d)
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      val m = o.agg(count(lit(1)).as("n"), sum(dec(col("cents"))).as("sx"),
        sum(dec(col("cents")) * dec(col("cents"))).as("sxx"))
      val nD = dec(col("n"))
      val vx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
      val n2 = col("n").cast("double") * col("n").cast("double")
      val variance = vx / n2 / 10000.0 // dollars^2, population
      val mean = col("sx").cast("double") / col("n").cast("double") / 100.0
      val nArm = expr("n div 2")
      val mde = lit(2.801585) * // z_{0.975} + z_{0.8}, 6dp literal
        sqrt(lit(2.0) * variance / nArm.cast("double"))
      m.select(nArm.as("n_per_arm"), round(mean, 6).as("mean"),
        round(variance, 6).as("variance"),
        round(mde, 6).as("mde_abs"),
        round(mde / mean * 100.0, 6).as("mde_rel_pct"))
    },
      """WITH o AS (
        | SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  AS cents FROM orders),
        |m AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(cents) AS HUGEINT) AS sx,
        |  sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx
        | FROM o)
        |SELECT CAST(n AS BIGINT) // 2 AS n_per_arm,
        | round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean,
        | round(CAST(n * sxx - sx * sx AS DOUBLE)
        |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0, 6) AS variance,
        | round(2.801585 * sqrt(2.0
        |  * (CAST(n * sxx - sx * sx AS DOUBLE)
        |     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0)
        |  / CAST(CAST(n AS BIGINT) // 2 AS DOUBLE)), 6) AS mde_abs,
        | round(2.801585 * sqrt(2.0
        |  * (CAST(n * sxx - sx * sx AS DOUBLE)
        |     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0)
        |  / CAST(CAST(n AS BIGINT) // 2 AS DOUBLE))
        |  / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0) * 100.0, 6)
        |  AS mde_rel_pct
        |FROM m""".stripMargin),
    // RATIO-METRIC CI via the DELTA METHOD (Deng et al. 2017 "Trustworthy
    // online controlled experiments" lineage): most product metrics are
    // ratios of user-level sums (revenue per event here, r = ΣX/ΣY), and
    // naive row-level variance is wrong because the unit of randomization
    // is the USER. SE² = (varX + r²·varY − 2r·covXY) / (n·ȳ²) from
    // user-level moments. Every moment is an exact integer/decimal sum
    // (cents; X², XY, Y² fit DECIMAL(38,0) at any realistic scale), then
    // ONE double expression tree for r, SE and the 95% bounds — the
    // analytical companion to q_bootstrap_ci at a fraction of the cost
    // (one pass, no replicates).
    Q("q_ratio_ci", { (s, d) =>
      val perUser = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("user_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("xc"))
        .groupBy("user_id")
        .agg(sum(col("xc")).as("x"), count(lit(1)).as("y"))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      val m = perUser.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
      val nD = col("n").cast("double")
      val xb = col("sx").cast("double") / nD
      val yb = col("sy").cast("double") / nD
      val varX = col("sxx").cast("double") / nD - xb * xb
      val varY = col("syy").cast("double") / nD - yb * yb
      val covXY = col("sxy").cast("double") / nD - xb * yb
      val r = col("sx").cast("double") / col("sy").cast("double")
      val se = sqrt((varX + r * r * varY - lit(2.0) * r * covXY) /
        (nD * yb * yb))
      m.select(col("n").as("n_users"),
          round(r / 100.0, 6).as("ratio"),
          round(se / 100.0, 6).as("se"),
          round((r - lit(1.959964) * se) / 100.0, 6).as("ci_lo"),
          round((r + lit(1.959964) * se) / 100.0, 6).as("ci_hi"))
    },
      """WITH pu AS (
        | SELECT user_id,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS x,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM events WHERE value IS NOT NULL GROUP BY 1),
        |m AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |  sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
        |  sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        | FROM pu),
        |t AS (
        | SELECT CAST(n AS BIGINT) AS n_users,
        |  CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
        |  sqrt(((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |   + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
        |     * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
        |     * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
        |        - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        |   - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
        |     * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
        |        - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
        |  / (CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |     * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS se
        | FROM m)
        |SELECT n_users, round(r / 100.0, 6) AS ratio,
        | round(se / 100.0, 6) AS se,
        | round((r - 1.959964 * se) / 100.0, 6) AS ci_lo,
        | round((r + 1.959964 * se) / 100.0, 6) AS ci_hi
        |FROM t""".stripMargin),

    // POWER CURVE — q_mde's scalar generalized to the planning table:
    // the minimum detectable effect at n/4, n/2, n, 2n and 4n per-arm
    // sample sizes (same alpha .05 / power .8 constant, same exact
    // moments, one scan) — the "how long must this experiment run"
    // readout. The n-multiples explode from a 5-element literal array,
    // so the cost over q_mde is five map-side rows.
    Q("q_power_curve", { (s, d) =>
      val o = Tables.orders(s, d)
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      val m = o.agg(count(lit(1)).as("n"), sum(dec(col("cents"))).as("sx"),
        sum(dec(col("cents")) * dec(col("cents"))).as("sxx"))
      val vx = (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val n2 = col("n").cast("double") * col("n").cast("double")
      val variance = vx / n2 / 10000.0
      val mean = col("sx").cast("double") / col("n").cast("double") / 100.0
      val nArm = expr("(n div 2) * mult_num div mult_den")
      val mde = lit(2.801585) *
        sqrt(lit(2.0) * variance / nArm.cast("double"))
      m.select(col("n"), col("sx"), col("sxx"),
          explode(array(
            struct(lit("0.25x").as("scale"), lit(1L).as("mult_num"), lit(4L).as("mult_den")),
            struct(lit("0.5x").as("scale"), lit(1L).as("mult_num"), lit(2L).as("mult_den")),
            struct(lit("1x").as("scale"), lit(1L).as("mult_num"), lit(1L).as("mult_den")),
            struct(lit("2x").as("scale"), lit(2L).as("mult_num"), lit(1L).as("mult_den")),
            struct(lit("4x").as("scale"), lit(4L).as("mult_num"), lit(1L).as("mult_den")))).as("s"))
        .select(col("n"), col("sx"), col("sxx"),
          col("s.scale").as("scale"), col("s.mult_num").as("mult_num"),
          col("s.mult_den").as("mult_den"))
        .select(col("scale"), nArm.as("n_per_arm"),
          round(mde, 6).as("mde_abs"),
          round(mde / mean * 100.0, 6).as("mde_rel_pct"))
        .orderBy("scale")
    },
      """WITH o AS (
        | SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  AS cents FROM orders),
        |m AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(cents) AS HUGEINT) AS sx,
        |  sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx
        | FROM o),
        |s AS (
        | SELECT * FROM (VALUES ('0.25x', 1, 4), ('0.5x', 1, 2),
        |  ('1x', 1, 1), ('2x', 2, 1), ('4x', 4, 1))
        |  AS t(scale, mult_num, mult_den)),
        |x AS (
        | SELECT scale,
        |  (CAST(n AS BIGINT) // 2) * mult_num // mult_den AS n_per_arm,
        |  CAST(n * sxx - sx * sx AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0 AS variance,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean
        | FROM m, s)
        |SELECT scale, n_per_arm,
        | round(2.801585 * sqrt(2.0 * variance / CAST(n_per_arm AS DOUBLE)), 6)
        |  AS mde_abs,
        | round(2.801585 * sqrt(2.0 * variance / CAST(n_per_arm AS DOUBLE))
        |  / mean * 100.0, 6) AS mde_rel_pct
        |FROM x ORDER BY scale""".stripMargin),

    // QUANTILE TREATMENT EFFECTS — effects beyond the mean: the per-arm
    // exact p25/p50/p75 (the distributed X4 percentile engine, grouped
    // by the md5 arm assignment) and their differences. A treatment that
    // moves the tail but not the median (or vice versa) is invisible to
    // q_ab_test's mean difference; QTE is the standard readout for it.
    Q("q_qte", { (s, d) =>
      val bucket = conv(substring(md5(col("user_id").cast("string")), 1, 4),
        16, 10).cast("long") % 2
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(when(bucket === 0, "a").otherwise("b").as("arm"), col("value"))
      val g = groupedExactPercentiles(ev, "arm", "value",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      val a = g.filter(col("arm") === "a")
        .select(col("p25").as("a25"), col("p50").as("a50"), col("p75").as("a75"))
      val b = g.filter(col("arm") === "b")
        .select(col("p25").as("b25"), col("p50").as("b50"), col("p75").as("b75"))
      a.crossJoin(broadcast(b))
        .selectExpr("stack(3, 'p25', a25, b25, 'p50', a50, b50, " +
          "'p75', a75, b75) as (quantile, q_a, q_b)")
        .select(col("quantile"), col("q_a"), col("q_b"),
          round(col("q_b") - col("q_a"), 6).as("qte"))
        .orderBy("quantile")
    },
      """WITH e AS (
        | SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |    1, 4)) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS arm, value
        | FROM events WHERE value IS NOT NULL),
        |g AS (
        | SELECT arm, quantile_cont(value, 0.25) AS p25,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.75) AS p75
        | FROM e GROUP BY 1),
        |a AS (SELECT * FROM g WHERE arm = 'a'),
        |b AS (SELECT * FROM g WHERE arm = 'b'),
        |q AS (
        | SELECT 'p25' AS quantile, a.p25 AS q_a, b.p25 AS q_b FROM a, b
        | UNION ALL SELECT 'p50', a.p50, b.p50 FROM a, b
        | UNION ALL SELECT 'p75', a.p75, b.p75 FROM a, b)
        |SELECT quantile, q_a, q_b, round(q_b - q_a, 6) AS qte
        |FROM q ORDER BY quantile""".stripMargin),

    // SAMPLE-RATIO MISMATCH guardrail (the first trust check of every
    // experiment readout): md5-split users 50/50 (the q_ab_test
    // assignment), then χ² with 1 dof against the expected split —
    // χ² > 3.841459 (95%) flags a broken randomizer/logging pipe before
    // anyone reads the metric. Exact integer counts; one double tree.
    Q("q_srm_check", { (s, d) =>
      val bucket = conv(substring(md5(col("user_id").cast("string")), 1, 4),
        16, 10).cast("long") % 2
      val c = Tables.events(s, d)
        .select(col("user_id")).distinct()
        .select(when(bucket === 0, "a").otherwise("b").as("arm"))
        .groupBy("arm").agg(count(lit(1)).as("cnt"))
      val w = c.agg(
        coalesce(sum(when(col("arm") === "a", col("cnt"))), lit(0L)).as("na"),
        coalesce(sum(when(col("arm") === "b", col("cnt"))), lit(0L)).as("nb"))
      val nD = (col("na") + col("nb")).cast("double")
      val e = nD / 2.0
      val chi2 = (col("na").cast("double") - e) * (col("na").cast("double") - e) / e +
        (col("nb").cast("double") - e) * (col("nb").cast("double") - e) / e
      w.select(col("na"), col("nb"), round(chi2, 6).as("chi2"),
        (chi2 > 3.841459).as("srm_detected"))
    },
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (
        | SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |   1, 4)) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS arm
        | FROM u),
        |c AS (
        | SELECT
        |  CAST(COALESCE(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS na,
        |  CAST(COALESCE(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS nb
        | FROM arms)
        |SELECT na, nb,
        | round((CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   * (CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   / (CAST(na + nb AS DOUBLE) / 2.0)
        |  + (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   * (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   / (CAST(na + nb AS DOUBLE) / 2.0), 6) AS chi2,
        | ((CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   * (CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   / (CAST(na + nb AS DOUBLE) / 2.0)
        |  + (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   * (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
        |   / (CAST(na + nb AS DOUBLE) / 2.0)) > 3.841459 AS srm_detected
        |FROM c""".stripMargin),

    // DISTRIBUTION-FREE MEDIAN CI (order statistics; Hahn & Meeker):
    // the 95% CI for the median needs NO bootstrap and no normality —
    // binomial order-statistic ranks l = ⌊(n − z√n)/2⌋ and
    // u = ⌈1 + (n + z√n)/2⌉ bracket it (normal approximation to the
    // binomial ranks, the standard large-n form). Rank selection runs on
    // the DISTRIBUTED cumulative-value frame (X4's range-partitioned
    // percentile shape — min v with cum ≥ rank; no single-task sort, no
    // value buffering), so the whole CI costs the same as one exact
    // percentile pass. Contrast with q_bootstrap_ci: that one re-weights
    // the data B times for the MEAN; this reads it once for the median.
    // SPLIT CONFORMAL PREDICTION (Papadopoulos et al. 2002; Vovk et al.
    // 2005; Angelopoulos & Bates 2021 survey): the distribution-free
    // prediction-interval recipe — fit any predictor on a train split
    // (here: per-event-type exact median), take the ⌈(n+1)(1−α)⌉-th
    // smallest nonconformity score |y − ŷ| on a CALIBRATION split, and
    // intervals ŷ ± q̂ cover new points with probability ≥ 1−α, no
    // distributional assumptions. The query MEASURES realized coverage on
    // a held-out test split (α = 0.1; the md5 hash split is the
    // q_group_split idiom) rather than trusting the theorem.
    // Scale shape: the predictor is a type-cardinality broadcast; q̂ is
    // ONE order statistic selected by rank on the X4 range-partitioned
    // cumulative frame (no single-task sort at any calibration size);
    // coverage is one counting pass.
    Q("q_conformal_coverage", { (s, d) =>
      val bucket = conv(substring(md5(col("event_id").cast("string")), 1, 4),
        16, 10).cast("long") % 100
      // persisted: the split frame feeds the predictor fit, n_train, the
      // calibration scores, and the coverage pass — four consumers
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v"),
          bucket.as("b"))
        .persistTracked()
      val tr = e.filter(col("b") < 50)
      val cal = e.filter(col("b") >= 50 && col("b") < 75)
      val te = e.filter(col("b") >= 75)
      val med = groupedExactPercentiles(tr, "event_type", "v", Seq("m" -> 0.5))
      val cs = cal.join(broadcast(med), Seq("event_type"))
        .select(abs(col("v") - col("m")).as("sc"))
      val cum = cumulativeValueCounts(cs, Nil, "sc")
      val k = ceil((col("n") + 1) * lit(0.9))
      val qh = cum.agg(max(col("n")).as("n_cal"),
        min(when(col("cum") >= k, col("v"))).as("qhat"))
      val cov = te.join(broadcast(med), Seq("event_type"))
        .crossJoin(broadcast(qh))
        .groupBy("n_cal", "qhat")
        .agg(count(lit(1)).as("n_test"),
          coalesce(sum(when(abs(col("v") - col("m")) <= col("qhat"), 1L)),
            lit(0L)).as("ncov"))
      tr.agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(cov))
        .select(col("n_train"), col("n_cal"), col("n_test"),
          round(col("qhat"), 6).as("qhat"),
          round(col("ncov").cast("double") / col("n_test"), 6).as("coverage"),
          (col("ncov").cast("double") / col("n_test") >= 0.88)
            .as("covered_at_nominal"))
    },
      """WITH e AS (
        | SELECT event_type, CAST(value AS DOUBLE) AS v,
        |  CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
        |   AS BIGINT) % 100 AS b
        | FROM events WHERE value IS NOT NULL),
        |tr AS (SELECT * FROM e WHERE b < 50),
        |cal AS (SELECT * FROM e WHERE b >= 50 AND b < 75),
        |te AS (SELECT * FROM e WHERE b >= 75),
        |med AS (SELECT event_type, quantile_cont(v, 0.5) AS m
        |        FROM tr GROUP BY 1),
        |cs AS (SELECT abs(v - m) AS sc FROM cal JOIN med USING (event_type)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cs),
        |rk AS (SELECT sc, row_number() OVER (ORDER BY sc) AS rn FROM cs),
        |qh AS (SELECT min(sc) AS qhat FROM rk, nn
        |       WHERE rn >= CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)),
        |cov AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(COALESCE(sum(CASE WHEN abs(v - m) <= qhat THEN 1 ELSE 0 END),
        |   0) AS BIGINT) AS ncov
        | FROM te JOIN med USING (event_type) CROSS JOIN qh)
        |SELECT (SELECT count(*) FROM tr) AS n_train, nn.n_cal, cov.n_test,
        | round((SELECT qhat FROM qh), 6) AS qhat,
        | round(CAST(ncov AS DOUBLE) / n_test, 6) AS coverage,
        | CAST(ncov AS DOUBLE) / n_test >= 0.88 AS covered_at_nominal
        |FROM nn, cov""".stripMargin),
    Q("q_median_ci", { (s, d) =>
      val cum = cumulativeValueCounts(Tables.orders(s, d), Nil, "o_totalprice")
      val nD = col("n").cast("double")
      val z = lit(1.959964)
      val lRank = greatest(floor((nD - z * sqrt(nD)) / 2.0), lit(1L))
      val uRank = least(ceil(lit(1.0) + (nD + z * sqrt(nD)) / 2.0),
        col("n"))
      val mRank = expr("(n + 1) div 2") // type-1 lower median rank
      cum.agg(max(col("n")).as("n"),
          min(when(col("cum") >= mRank, col("v"))).as("median"),
          min(when(col("cum") >= lRank, col("v"))).as("ci_lo"),
          min(when(col("cum") >= uRank, col("v"))).as("ci_hi"))
        .select(col("n"), col("median"), col("ci_lo"), col("ci_hi"),
          lit(0.95).as("conf"))
    },
      """WITH v AS (
        | SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        | WHERE o_totalprice IS NOT NULL),
        |r AS (
        | SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |  CAST(count(*) OVER () AS BIGINT) AS n
        | FROM v)
        |SELECT max(n) AS n,
        | min(CASE WHEN rn >= (n + 1) // 2 THEN v END) AS median,
        | min(CASE WHEN rn >= greatest(CAST(floor(
        |   (CAST(n AS DOUBLE) - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0)
        |   AS BIGINT), 1) THEN v END) AS ci_lo,
        | min(CASE WHEN rn >= least(CAST(ceil(
        |   1.0 + (CAST(n AS DOUBLE) + 1.959964 * sqrt(CAST(n AS DOUBLE)))
        |    / 2.0) AS BIGINT), n) THEN v END) AS ci_hi,
        | 0.95 AS conf
        |FROM r""".stripMargin),

    // NEYMAN SAMPLING ALLOCATION (Neyman 1934): split a fixed audit/
    // labeling budget across strata ∝ N_k·σ_k — the variance-optimal
    // design for estimating the overall mean, vs the naive proportional
    // split (emitted alongside for contrast; high-variance strata earn
    // more than their row share). One exact-moment aggregate per stratum
    // (integer cents, the q_mde pattern); per-stratum weights round to
    // 6dp and fold as DECIMAL so the total is order-independent; the
    // final floor() allocations are identical doubles on both engines.
    Q("q_neyman_alloc", { (s, d) =>
      val B = 1000L
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      val m = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(dec(col("cents"))).as("sx"),
          sum(dec(col("cents")) * dec(col("cents"))).as("sxx"))
      val vx = (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val n2 = col("n").cast("double") * col("n").cast("double")
      val sigma = sqrt(vx / n2 / 10000.0)
      val w = m.select(col("event_type"), col("n"),
        round(sigma, 6).as("sigma"),
        round(col("n").cast("double") * sigma, 6)
          .cast(DecimalType(28, 6)).as("w"))
      val tw = w.agg(sum(col("w")).as("tw"), sum(col("n")).as("tn"))
      w.crossJoin(broadcast(tw))
        .select(col("event_type"), col("n").as("n_rows"), col("sigma"),
          floor(lit(B).cast("double") * col("w").cast("double") /
            col("tw").cast("double")).cast("long").as("neyman_n"),
          expr(s"($B * n) div tn").as("prop_n"))
        .orderBy("event_type")
    },
      """WITH e AS (
        | SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |m AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS HUGEINT) AS sx,
        |  sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx
        | FROM e GROUP BY 1),
        |w AS (
        | SELECT event_type, n,
        |  round(sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0), 6) AS sigma,
        |  CAST(round(CAST(n AS DOUBLE)
        |   * sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0), 6)
        |   AS DECIMAL(28,6)) AS w
        | FROM m),
        |t AS (SELECT sum(w) AS tw, CAST(sum(n) AS BIGINT) AS tn FROM w)
        |SELECT event_type, n AS n_rows, sigma,
        | CAST(floor(1000.0 * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))
        |  AS BIGINT) AS neyman_n,
        | (1000 * n) // tn AS prop_n
        |FROM w CROSS JOIN t ORDER BY event_type""".stripMargin),
    // POISSON BOOTSTRAP 95% CI of mean order value (Chamandy et al.,
    // "Estimating Uncertainty for Massive Data Streams", Google 2012 —
    // the distributed bootstrap: resampling n-with-replacement doesn't
    // shard, but giving each row an independent Poisson(1) weight per
    // replicate does, and is equivalent for large n). Weights are
    // DETERMINISTIC: ONE md5 per (row, digest-group) yields FOUR 32-bit
    // words (32 hex chars = 4×8) → four replicate uniforms, inverted
    // through the Poisson(1) CDF (threshold literals generated from one
    // Scala source into BOTH engines, so comparisons are bit-identical).
    // The md5 is the dominant per-row cost, so 4 replicates per digest
    // cuts the constant 4× vs one-hash-per-replicate.
    // B=48 replicates (12 digests × 4) explode map-side; each replicate
    // folds to exact integer (Σw·cents, Σw) pairs — the only shuffle
    // carries 48 partial pairs per task. CI bounds are type-1 percentiles
    // of the 48-row replicate-mean frame (ceil(0.025·48)=2nd,
    // ceil(0.975·48)=47th).
    Q("q_bootstrap_ci", { (s, d) =>
      val B = 48
      val cdf = { // cumulative Poisson(1) probabilities for k = 0..5
        val pmf = (0 to 5).scanLeft(math.exp(-1.0))((p, k) => p / (k + 1)).tail
        pmf.scanLeft(0.0)(_ + _).tail
      }
      // single-row-group local table: spread before the ×12 md5 explode
      // (the query's whole CPU cost — measured 6 s in one task)
      val rows = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
        .repartition(s.sparkContext.defaultParallelism)
      val w = cdf.zipWithIndex
        .foldRight(lit(6): Column) { case ((c, k), e) =>
          when(col("u") < c, k).otherwise(e)
        }
      val reps = rows
        .select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(1), lit(B / 4))).as("g"))
        .withColumn("h", md5(concat_ws(":", col("o_orderkey"), col("g"))))
        .select(col("cents"), col("g"),
          posexplode(array((0 until 4).map(sl =>
            substring(col("h"), sl * 8 + 1, 8)): _*)).as(Seq("sl", "hx")))
        .select(((col("g") - 1) * 4 + col("sl") + 1).as("b"), col("cents"),
          ((conv(col("hx"), 16, 10).cast("long").cast("double") + 0.5) /
            4294967296.0).as("u"))
        .withColumn("w", w)
        .groupBy("b")
        .agg(round(sum(col("w").cast("long") * col("cents")).cast("double") /
          sum(col("w").cast("long")) / 100.0, 6).as("mean_b"))
      val rn = row_number().over(Window.orderBy(col("mean_b"), col("b")))
      val ci = reps.withColumn("rn", rn)
        .agg(max(when(col("rn") === 2, col("mean_b"))).as("ci_lo"),
          max(when(col("rn") === B - 1, col("mean_b"))).as("ci_hi"))
      val full = rows.agg(round(sum(col("cents")).cast("double") /
        count(lit(1)) / 100.0, 6).as("mean"))
      full.crossJoin(broadcast(ci))
    }, {
      val B = 48 // 12 md5 digests × 4 replicate words — mirrors the Spark side
      val pmf = (0 to 5).scanLeft(math.exp(-1.0))((p, k) => p / (k + 1)).tail
      val cdf = pmf.scanLeft(0.0)(_ + _).tail
      val wCase = "CASE " + cdf.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString(" ") + " ELSE 6 END"
      s"""WITH rows0 AS (
         | SELECT o_orderkey,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         | FROM orders),
         |reps AS (
         | SELECT r.cents, (g.g - 1) * 4 + s.s + 1 AS b,
         |  (CAST(('0x' || substr(md5(concat_ws(':', r.o_orderkey, g.g)),
         |    s.s * 8 + 1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
         | FROM rows0 r CROSS JOIN range(1, ${B / 4 + 1}) g(g)
         |  CROSS JOIN range(0, 4) s(s)),
         |wm AS (
         | SELECT b, round(CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100.0, 6)
         |   AS mean_b
         | FROM (SELECT b, cents, $wCase AS w FROM reps)
         | GROUP BY b),
         |ranked AS (
         | SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM wm),
         |f AS (
         | SELECT round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6) AS mean
         | FROM rows0)
         |SELECT f.mean,
         | (SELECT mean_b FROM ranked WHERE rn = 2) AS ci_lo,
         | (SELECT mean_b FROM ranked WHERE rn = ${B - 1}) AS ci_hi
         |FROM f""".stripMargin
    }),
    // LAST-TOUCH ATTRIBUTION — each purchase credits the latest
    // non-purchase event by the same user within the preceding 24 h
    // ('none' if nothing qualifies). Candidates come from a per-user
    // time-range join (bounded by per-user event density, the as-of
    // shape); the winner per purchase is max(struct(ts, type)) —
    // latest-then-type, the same deterministic tie-break row_number
    // replays in the oracle. Left-join misses collapse to NULL before
    // the max so empty groups surface as NULL, not a null-field struct.
    Q("q_attribution", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val qual = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts").as("q_ts"), col("event_type").as("q_type"))
      purch.join(qual,
          purch("user_id") === qual("user_id") &&
            col("q_ts") < col("p_ts") &&
            col("q_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"), "left")
        .groupBy("p_id")
        .agg(max(when(col("q_ts").isNotNull,
          struct(col("q_ts"), col("q_type")))).as("b"))
        .select(coalesce(col("b.q_type"), lit("none")).as("attributed_type"))
        .groupBy("attributed_type").agg(count(lit(1)).as("n_purchases"))
        .orderBy("attributed_type")
    },
      """WITH ev AS (
        | SELECT user_id, event_type, ts, event_id FROM events),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
        |      WHERE event_type = 'purchase'),
        |q AS (SELECT user_id, ts AS q_ts, event_type AS q_type FROM ev
        |      WHERE event_type <> 'purchase'),
        |cand AS (
        | SELECT p.p_id, q.q_ts, q.q_type,
        |  row_number() OVER (PARTITION BY p.p_id
        |    ORDER BY q.q_ts DESC NULLS LAST, q.q_type DESC NULLS LAST) AS rn
        | FROM p LEFT JOIN q ON p.user_id = q.user_id
        |  AND q.q_ts < p.p_ts AND q.q_ts >= p.p_ts - INTERVAL 24 HOUR)
        |SELECT COALESCE(q_type, 'none') AS attributed_type,
        | count(*) AS n_purchases
        |FROM cand WHERE rn = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // A9 — rolling 7-day MEDIAN revenue: the robust twin of the rolling
    // sum (one outlier day can't drag it). No median window function in
    // Spark — collect the ≤ 7 trailing day-cents into an array (bounded
    // by the frame, never by data) and index the sorted middle; even
    // frames interpolate as (m1+m2)/2 in exact-cents double, matching
    // DuckDB's quantile_cont semantics bit-for-bit. Day-spine window,
    // same justification as q_rolling_revenue.
    Q("q_rolling_median", { (s, d) =>
      val daily = dailyCents(Tables.orders(s, d), "dc")
      val w = Window.orderBy("day_num").rangeBetween(-6, 0)
      val arr = sort_array(collect_list(col("dc")).over(w))
      val n = size(arr)
      val med = when(n % 2 === 1,
          element_at(arr, ((n + 1) / 2).cast("int")).cast("double"))
        .otherwise((element_at(arr, (n / 2).cast("int")) +
          element_at(arr, (n / 2).cast("int") + 1)) / 2.0)
      daily
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
        .withColumn("median_7d", med / 100.0)
        .select(col("day"), (col("dc") / 100.0).as("daily_total"),
          col("median_7d"))
        .orderBy("day")
    },
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS dc
        | FROM orders GROUP BY 1)
        |SELECT day, dc / 100.0 AS daily_total,
        | median(dc) OVER (ORDER BY day
        |   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) / 100.0
        |  AS median_7d
        |FROM daily ORDER BY day""".stripMargin),
    // TIME-BOXED funnel — the strict version of q_funnel: each step must
    // happen within 72 h of the PREVIOUS step's first completion, and
    // "first view after signup" is the min over qualifying events, not
    // the global min (a user whose only view predates signup doesn't
    // convert). Three user-keyed aggregates chained by joins — each pass
    // shuffles events once on user_id; the step frames are
    // user-cardinality-sized.
    Q("q_funnel_windowed", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val win = expr("INTERVAL 72 HOURS")
      val tA = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t_a"))
      val tB = ev.filter(col("event_type") === "view")
        .join(tA, Seq("user_id"))
        .filter(col("ts") > col("t_a") && col("ts") <= col("t_a") + win)
        .groupBy("user_id").agg(min(col("ts")).as("t_b"))
      val tC = ev.filter(col("event_type") === "purchase")
        .join(tB, Seq("user_id"))
        .filter(col("ts") > col("t_b") && col("ts") <= col("t_b") + win)
        .groupBy("user_id").agg(min(col("ts")).as("t_c"))
      tA.agg(count(lit(1)).as("n_signup"))
        .crossJoin(broadcast(tB.agg(count(lit(1)).as("n_view_72h"))))
        .crossJoin(broadcast(tC.agg(count(lit(1)).as("n_purchase_72h"))))
    },
      """WITH ta AS (
        | SELECT user_id, min(ts) AS t_a FROM events
        | WHERE event_type = 'signup' GROUP BY 1),
        |tb AS (
        | SELECT e.user_id, min(e.ts) AS t_b
        | FROM events e JOIN ta USING (user_id)
        | WHERE e.event_type = 'view'
        |  AND e.ts > ta.t_a AND e.ts <= ta.t_a + INTERVAL 72 HOUR
        | GROUP BY 1),
        |tc AS (
        | SELECT e.user_id, min(e.ts) AS t_c
        | FROM events e JOIN tb USING (user_id)
        | WHERE e.event_type = 'purchase'
        |  AND e.ts > tb.t_b AND e.ts <= tb.t_b + INTERVAL 72 HOUR
        | GROUP BY 1)
        |SELECT (SELECT count(*) FROM ta) AS n_signup,
        | (SELECT count(*) FROM tb) AS n_view_72h,
        | (SELECT count(*) FROM tc) AS n_purchase_72h""".stripMargin),
    // A9 — EWMA-smoothed daily revenue (α = 0.5), the recursive smoother
    // a rolling mean can't express: ewma_t = (x_t + ewma_{t−1})/2, the
    // integer-cents fold of [[dailyEwma]] (a round(x,6) recurrence
    // measurably diverged across engines on half-ties).
    Q("q_ewma_daily", { (s, d) =>
      dailyEwma(Tables.orders(s, d), rev = true)
        .select(col("day"), col("rev"),
          (col("ewma_u").cast("double") / 100.0).as("ewma"))
        .orderBy("day")
    },
      """WITH RECURSIVE d AS (
        | SELECT o_orderdate AS day,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS dt
        | FROM orders GROUP BY 1),
        |i AS (
        | SELECT day, CAST(dt AS DOUBLE) AS rev,
        |  CAST(dt * 100 AS BIGINT) AS rc,
        |  row_number() OVER (ORDER BY day) AS rn FROM d),
        |e AS (
        | SELECT rn, day, rev, rc AS ewma_u FROM i WHERE rn = 1
        | UNION ALL
        | SELECT i.rn, i.day, i.rev, (i.rc + e.ewma_u) // 2
        | FROM e JOIN i ON i.rn = e.rn + 1)
        |SELECT day, rev, CAST(ewma_u AS DOUBLE) / 100.0 AS ewma
        |FROM e ORDER BY day""".stripMargin),

    // ADDITIVE SEASONAL DECOMPOSITION (classical, Kendall & Stuart):
    // trend = centered 7-day moving average on the day spine (edges
    // with fewer than 7 observations drop — the textbook contract),
    // detrended = y − trend, and the per-ISO-weekday mean of the
    // detrended series IS the additive seasonal component — the
    // decomposition artifact behind q_dow_seasonality's one-number
    // index and q_anomaly_daily's adjustment. Exact integers
    // end-to-end ([[weeklyDetrend]]). Scale: day-spine windows only
    // (calendar-bounded), then a ≤7-row group.
    Q("q_seasonal_decompose", { (s, d) =>
      weeklyDetrend(dailyCents(Tables.orders(s, d), "rc"))._2
        .select(col("dow"), col("n_days"), col("seasonal").as("seasonal_cents"))
        .orderBy("dow")
    },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
        | FROM orders GROUP BY 1),
        |t AS (
        | SELECT day, rc,
        |  count(*) OVER w7 AS cnt7,
        |  CAST(sum(rc) OVER w7 AS BIGINT) // 7 AS trend
        | FROM d
        | WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |de AS (SELECT day, rc - trend AS det FROM t WHERE cnt7 = 7)
        |SELECT CAST(isodow(day) AS INTEGER) AS dow, count(*) AS n_days,
        | CAST(sum(det + 1099511627776) AS BIGINT) // count(*)
        |  - 1099511627776 AS seasonal_cents
        |FROM de GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUSUM CONTROL CHART (Page 1954) over daily revenue — the
    // sequential drift detector beside q_anomaly_daily's pointwise
    // seasonal z and q_changepoint's retrospective split: S⁺/S⁻
    // accumulate deviations beyond an allowance k = σ/2 and alarm at
    // h = 4σ (the classic (k, h) operating point), resetting after
    // each alarm. Catches slow drifts no single-day outlier test sees.
    // Exactness: the recursion state is INTEGER CENTS (μ is the floor
    // mean; k and h floor once from the exact-moment σ — the only two
    // doubles, floored identically in both engines), so the whole fold
    // replays bit-for-bit (the q_ewma_daily contract). Scale: one
    // day-spine fold (calendar-bounded array aggregate), moments from
    // one scalar pass.
    Q("q_cusum", { (s, d) =>
      cusumOfDaily(dailyCents(Tables.orders(s, d), "rc"))
    },
      """WITH RECURSIVE d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
        | FROM orders GROUP BY 1),
        |i AS (SELECT rc, row_number() OVER (ORDER BY day) AS rn FROM d),
        |m AS (
        | SELECT count(*) AS n, CAST(sum(rc) AS BIGINT) AS sc,
        |  CAST(sum(rc) AS BIGINT) // count(*) AS mu,
        |  CAST(floor(sqrt((CAST(sum(CAST(rc AS HUGEINT) * rc) AS DOUBLE)
        |    - CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)) / 2.0)
        |   AS BIGINT) AS kc,
        |  CAST(floor(sqrt((CAST(sum(CAST(rc AS HUGEINT) * rc) AS DOUBLE)
        |    - CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)) * 4.0)
        |   AS BIGINT) AS hc
        | FROM d),
        |f AS (
        | SELECT 0 AS rn, CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
        |  CAST(0 AS BIGINT) AS al, CAST(0 AS BIGINT) AS msp,
        |  CAST(0 AS BIGINT) AS msn
        | UNION ALL
        | SELECT i.rn,
        |  CASE WHEN greatest(0, f.sp + (i.rc - m.mu) - m.kc) > m.hc THEN 0
        |       ELSE greatest(0, f.sp + (i.rc - m.mu) - m.kc) END,
        |  CASE WHEN greatest(0, f.sn + (m.mu - i.rc) - m.kc) > m.hc THEN 0
        |       ELSE greatest(0, f.sn + (m.mu - i.rc) - m.kc) END,
        |  f.al + (CASE WHEN greatest(0, f.sp + (i.rc - m.mu) - m.kc) > m.hc
        |            OR greatest(0, f.sn + (m.mu - i.rc) - m.kc) > m.hc
        |          THEN 1 ELSE 0 END),
        |  greatest(f.msp, greatest(0, f.sp + (i.rc - m.mu) - m.kc)),
        |  greatest(f.msn, greatest(0, f.sn + (m.mu - i.rc) - m.kc))
        | FROM f JOIN i ON i.rn = f.rn + 1 CROSS JOIN m)
        |SELECT (SELECT n FROM m) AS n_days, (SELECT kc FROM m) AS k_cents,
        | (SELECT hc FROM m) AS h_cents, al AS n_alarms,
        | msp AS max_sp, msn AS max_sn
        |FROM f ORDER BY rn DESC LIMIT 1""".stripMargin),

    // SAX SYMBOLIC REPRESENTATION of the daily-revenue series (Lin,
    // Keogh, Lonardi & Chiu 2003): PAA-compress the n-day series into
    // 30 equal segments, z-normalize, and quantize into a 4-symbol
    // alphabet at the standard Gaussian breakpoints (−0.6745, 0,
    // 0.6745) — the discretization behind motif discovery / novelty
    // search over time series at scale (symbols index into suffix
    // structures; raw doubles don't). Exactness: per-segment sums and
    // the global moments are exact integers (Σc as Long, Σc² as
    // DECIMAL/HUGEINT — the q_cuped idiom), z-scores are one fixed
    // double tree from them, and the SYMBOL is assigned from the
    // 6dp-ROUNDED z so the bin edges can't flip on a 1-ulp cross-engine
    // wobble. PAA-then-normalize ≡ normalize-then-PAA (z is affine).
    // Scale: day-spine windows only (calendar-bounded); moments join as
    // one broadcast scalar row.
    Q("q_sax_symbolic", { (s, d) =>
      saxSymbolic(dailyCents(Tables.orders(s, d), "c"))
    },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
        | FROM orders GROUP BY 1),
        |i AS (SELECT day, c, row_number() OVER (ORDER BY day) AS rn FROM d),
        |m AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
        |       sum(CAST(c AS HUGEINT) * c) AS ss FROM d),
        |g AS (
        | SELECT ((rn - 1) * 30) // (SELECT n FROM m) AS seg,
        |  count(*) AS n_days, CAST(sum(c) AS BIGINT) AS sc
        | FROM i GROUP BY 1),
        |z AS (
        | SELECT seg, n_days,
        |  round((CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)
        |    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / sqrt((CAST(ss AS DOUBLE)
        |     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / CAST(n AS DOUBLE)), 6) AS paa_z
        | FROM g, m)
        |SELECT seg, n_days, paa_z,
        | CASE WHEN paa_z < -0.6745 THEN 'a' WHEN paa_z < 0.0 THEN 'b'
        |      WHEN paa_z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
        |FROM z ORDER BY seg""".stripMargin),

    // ROLLING-ORIGIN FORECAST BACKTEST — the "does the forecaster work"
    // harness next to q_ewma_daily/q_holt_forecast: at every origin day
    // t, the one-step-ahead EWMA forecast (= ewma_{t-1}, the value the
    // smoother would have shipped that morning) is compared to the
    // realized revenue; MAE/MAPE plus the skill vs the naive
    // carry-forward baseline (forecast = yesterday's actual — the bar
    // any forecaster must beat). Errors are exact integer cents (the
    // ewma state is integer), so every sum is order-independent; MAPE
    // folds 9dp-rounded per-day ratios as DECIMAL. The lag window runs
    // on the calendar-bounded day spine (the q_rolling_revenue
    // argument), never on orders.
    Q("q_forecast_backtest", { (s, d) =>
      val ew = dailyEwma(Tables.orders(s, d))
      val w = Window.orderBy("day")
      val bt = ew
        .withColumn("prev_ewma", lag(col("ewma_u"), 1).over(w))
        .withColumn("prev_rc", lag(col("rc"), 1).over(w))
        .filter(col("prev_ewma").isNotNull)
        .select(col("rc"),
          abs(col("rc") - col("prev_ewma")).as("err_c"),
          abs(col("rc") - col("prev_rc")).as("naive_c"))
      bt.agg(count(lit(1)).as("n_days"),
          sum(col("err_c")).as("se"), sum(col("naive_c")).as("sn"),
          sum(round(col("err_c").cast("double") / col("rc").cast("double")
            * 100.0, 9).cast(DecimalType(28, 9))).as("sm"))
        .select(col("n_days"),
          round(col("se").cast("double") / col("n_days") / 100.0, 6)
            .as("mae"),
          round(col("sm").cast("double") / col("n_days"), 6).as("mape_pct"),
          round(col("sn").cast("double") / col("n_days") / 100.0, 6)
            .as("naive_mae"),
          round(lit(1.0) - col("se").cast("double") /
            col("sn").cast("double"), 6).as("skill_vs_naive"))
    },
      """WITH RECURSIVE d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
        | FROM orders GROUP BY 1),
        |i AS (SELECT day, rc, row_number() OVER (ORDER BY day) AS rn FROM d),
        |e AS (
        | SELECT rn, day, rc, rc AS ewma_u FROM i WHERE rn = 1
        | UNION ALL
        | SELECT i.rn, i.day, i.rc, (i.rc + e.ewma_u) // 2
        | FROM e JOIN i ON i.rn = e.rn + 1),
        |bt AS (
        | SELECT c.rc,
        |  abs(c.rc - p.ewma_u) AS err_c,
        |  abs(c.rc - p.rc) AS naive_c
        | FROM e c JOIN e p ON p.rn = c.rn - 1),
        |m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(err_c) AS BIGINT) AS se,
        |  CAST(sum(naive_c) AS BIGINT) AS sn,
        |  sum(CAST(round(CAST(err_c AS DOUBLE) / CAST(rc AS DOUBLE)
        |    * 100.0, 9) AS DECIMAL(28,9))) AS sm
        | FROM bt)
        |SELECT n_days,
        | round(CAST(se AS DOUBLE) / n_days / 100.0, 6) AS mae,
        | round(CAST(sm AS DOUBLE) / n_days, 6) AS mape_pct,
        | round(CAST(sn AS DOUBLE) / n_days / 100.0, 6) AS naive_mae,
        | round(1.0 - CAST(se AS DOUBLE) / CAST(sn AS DOUBLE), 6)
        |  AS skill_vs_naive
        |FROM m""".stripMargin),

    // SPLIT-CONFORMAL PREDICTION INTERVAL for the one-step EWMA
    // forecaster (Vovk et al. 2005; Lei et al. 2018) — the TIME-SERIES
    // member of the conformal pair: q_conformal_coverage calibrates a
    // static per-type predictor on an exchangeable md5 hash split
    // (where the ≥ 1−α guarantee holds exactly); this one calibrates a
    // SEQUENTIAL forecaster on a temporal split, the case every
    // forecasting deployment actually faces. Calibrate q̂ as the
    // ⌈0.9·(n_cal+1)⌉-th smallest absolute residual on the first 70%
    // of days, then MEASURE the empirical coverage of ŷ ± q̂ on the
    // held-out last 30%. Honest caveat in the readout: a time split is
    // not exchangeable, so the ≥ 90% marginal guarantee is approximate
    // here — which is exactly why coverage is MEASURED, not assumed
    // (target_ppm rides alongside). Exactness:
    // residuals are integer cents, q̂ is an exact order statistic
    // (integer rank math — no interpolated quantile), coverage is
    // integer ppm; no float enters until the reported q̂. Scale: the
    // residual spine is day-cardinality (calendar-bounded windows);
    // q̂ broadcasts back as a scalar.
    Q("q_conformal_interval", { (s, d) =>
      val ew = dailyEwma(Tables.orders(s, d))
      val w = Window.orderBy("day")
      val res = ew
        .withColumn("prev_ewma", lag(col("ewma_u"), 1).over(w))
        .filter(col("prev_ewma").isNotNull)
        .select(col("day"), abs(col("rc") - col("prev_ewma")).as("err_c"))
        .withColumn("rn", row_number().over(Window.orderBy("day")))
      val tot = res.agg(count(lit(1)).as("n"))
      val marked = res.crossJoin(broadcast(tot))
        .withColumn("n_cal", expr("(7 * n) div 10"))
      val qhat = marked.filter(col("rn") <= col("n_cal"))
        .withColumn("rr",
          row_number().over(Window.orderBy("err_c", "day")))
        .filter(col("rr") === expr("(9 * (n_cal + 1) + 9) div 10"))
        .select(col("err_c").as("q_c"))
      marked.filter(col("rn") > col("n_cal"))
        .crossJoin(broadcast(qhat))
        .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_eval"),
          max(col("q_c")).as("qc"),
          sum(when(col("err_c") <= col("q_c"), 1L).otherwise(0L)).as("cov"))
        .select(col("n_cal"), col("n_eval"),
          round(col("qc").cast("double") / 100.0, 6).as("qhat"),
          expr("cov * 1000000 div n_eval").as("coverage_ppm"),
          lit(900000L).as("target_ppm"))
    },
      """WITH RECURSIVE d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
        | FROM orders GROUP BY 1),
        |i AS (SELECT day, rc, row_number() OVER (ORDER BY day) AS rn FROM d),
        |e AS (
        | SELECT rn, day, rc, rc AS ewma_u FROM i WHERE rn = 1
        | UNION ALL
        | SELECT i.rn, i.day, i.rc, (i.rc + e.ewma_u) // 2
        | FROM e JOIN i ON i.rn = e.rn + 1),
        |res AS (
        | SELECT c.day, abs(c.rc - p.ewma_u) AS err_c,
        |  row_number() OVER (ORDER BY c.day) AS rn
        | FROM e c JOIN e p ON p.rn = c.rn - 1),
        |t AS (SELECT count(*) AS n, (7 * count(*)) // 10 AS n_cal FROM res),
        |cal AS (
        | SELECT err_c, row_number() OVER (ORDER BY err_c, day) AS rr
        | FROM res, t WHERE rn <= n_cal),
        |q AS (SELECT err_c AS q_c FROM cal, t
        |      WHERE rr = (9 * (n_cal + 1) + 9) // 10),
        |ev AS (SELECT err_c FROM res, t WHERE rn > n_cal)
        |SELECT (SELECT n_cal FROM t) AS n_cal,
        | count(*) AS n_eval,
        | round(CAST((SELECT q_c FROM q) AS DOUBLE) / 100.0, 6) AS qhat,
        | CAST(sum(CASE WHEN err_c <= (SELECT q_c FROM q) THEN 1 ELSE 0 END)
        |  AS BIGINT) * 1000000 // count(*) AS coverage_ppm,
        | CAST(900000 AS BIGINT) AS target_ppm
        |FROM ev""".stripMargin),

    // A9 — Holt double-exponential forecast (α = β = ½): level+trend
    // recursion over the daily series, then a 7-day linear forecast.
    // Same exactness contract as q_ewma_daily — the state is integer
    // CENTS, halved with TRUNCATING integer division on both engines
    // (Spark `div` and DuckDB `//` both round toward zero; the trend can
    // go NEGATIVE, where mixing truncation with a floor-semantics shift
    // or `FLOOR(x/2)` would diverge — empirically caught at sf0.01). Init:
    // l₁ = y₁, b₁ = 0. The fold runs once over the calendar-bounded
    // ordered array; output is the 7 forecast rows.
    Q("q_holt_forecast", { (s, d) =>
      dailyCents(Tables.orders(s, d), "rc")
        .agg(array_sort(collect_list(struct(col("day"), col("rc")))).as("a"))
        .selectExpr(
          """aggregate(
            |  a,
            |  named_struct('d', cast(null as date),
            |               'l', cast(0 as bigint), 'b', cast(0 as bigint),
            |               'init', false),
            |  (acc, e) -> if(NOT acc.init,
            |    named_struct('d', e.day, 'l', e.rc, 'b', cast(0 as bigint),
            |                 'init', true),
            |    named_struct('d', e.day,
            |      'l', (e.rc + acc.l + acc.b) div 2,
            |      'b', ((e.rc + acc.l + acc.b) div 2
            |             - acc.l + acc.b) div 2,
            |      'init', true))) AS st""".stripMargin)
        .selectExpr("st.d AS last_day", "st.l AS l", "st.b AS b",
          "explode(sequence(1, 7)) AS h")
        .select(col("h").cast("long").as("h"),
          date_add(col("last_day"), col("h").cast("int")).as("day"),
          ((col("l") + col("h") * col("b")).cast("double") / 100.0)
            .as("forecast"))
        .orderBy("h")
    },
      """WITH RECURSIVE d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rc
        | FROM orders GROUP BY 1),
        |i AS (SELECT day, rc, row_number() OVER (ORDER BY day) AS rn FROM d),
        |e AS (
        | SELECT rn, day, rc AS l, CAST(0 AS BIGINT) AS b FROM i WHERE rn = 1
        | UNION ALL
        | SELECT i.rn, i.day,
        |  (i.rc + e.l + e.b) // 2,
        |  ((i.rc + e.l + e.b) // 2 - e.l + e.b) // 2
        | FROM e JOIN i ON i.rn = e.rn + 1),
        |f AS (SELECT day AS last_day, l, b FROM e ORDER BY rn DESC LIMIT 1)
        |SELECT CAST(h.h AS BIGINT) AS h,
        | CAST(last_day AS DATE) + CAST(h.h AS INTEGER) AS day,
        | CAST(l + h.h * b AS DOUBLE) / 100.0 AS forecast
        |FROM f CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
        |ORDER BY h""".stripMargin),

    // A6/EDA — the distribution plot as data: 20 equi-width bins over
    // order totals (two-pass, integer-cents edges).
    Q("q_histogram", { (s, d) =>
      equiWidthHistogram(Tables.orders(s, d), "o_totalprice", 20)
    },
      """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM orders),
        |b AS (SELECT min(c) AS mn, max(c) AS mx, count(c) AS n FROM c),
        |w AS (SELECT mn, mx, n,
        |       greatest(1, CAST(floor((mx - mn + 20) / 20.0) AS BIGINT)) AS w
        |      FROM b),
        |binned AS (SELECT least(CAST(floor((c - mn) / CAST(w AS DOUBLE)) AS BIGINT), 19) AS bin,
        |                  mn, w, n
        |           FROM c, w)
        |SELECT bin, count(*) AS cnt,
        | round(CAST(mn + bin * w AS DOUBLE) / 100, 2) AS lo,
        | round(CAST(mn + (bin + 1) * w AS DOUBLE) / 100, 2) AS hi,
        | round(CAST(count(*) AS DOUBLE) / n, 6) AS share
        |FROM binned GROUP BY bin, mn, w, n ORDER BY bin""".stripMargin),
    // A6/EDA — per-priority outlier audit at |z| > 2.
    Q("q_zscore_outliers", { (s, d) =>
      zscoreOutliers(Tables.orders(s, d), "o_orderpriority", "o_totalprice", 2.0)
    },
      """WITH m AS (
        | SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        | FROM orders GROUP BY 1),
        |s AS (SELECT o_orderpriority, n, round(sx / n, 6) AS mean,
        |       round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS std
        |      FROM m)
        |SELECT o.o_orderpriority, s.n,
        | count(CASE WHEN abs((o.o_totalprice - s.mean) / s.std) > 2 THEN 1 END) AS n_outliers,
        | round(max(abs((o.o_totalprice - s.mean) / s.std)), 6) AS max_abs_z
        |FROM orders o JOIN s USING (o_orderpriority)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // ROBUST OUTLIERS — median-absolute-deviation audit (the
    // heavy-tail-safe twin of q_zscore_outliers: mean/std are themselves
    // dragged by the outliers they're meant to find; median/MAD aren't).
    // Both medians run through the distributed exact-percentile engine
    // (no value buffering), each threshold broadcasts back as a 1-row
    // dimension, and the flag pass is map-side — three bounded passes
    // over the column at any corpus size. 4.4478 = 3σ × the 1.4826
    // normal-consistency constant, pinned as ONE double literal so both
    // engines parse the identical constant (no cross-engine
    // constant-folding drift).
    Q("q_mad_outliers", { (s, d) =>
      madOutliers(Tables.orders(s, d), "o_totalprice")
    },
      """WITH m AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders),
        |d AS (SELECT med, abs(o_totalprice - med) AS adev FROM orders, m),
        |md AS (SELECT quantile_cont(adev, 0.5) AS mad FROM d)
        |SELECT med, mad, count(*) AS n_total,
        | CAST(sum(CASE WHEN adev > CAST(4.4478 AS DOUBLE) * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d, md GROUP BY med, mad""".stripMargin),

    // TRIMMED MEAN — the mean of the inner 5%–95% of the distribution
    // (q_winsorize's sibling: drop the tails instead of clipping them).
    // Thresholds come from the distributed exact percentile and
    // broadcast back; the trimmed sum is exact-DECIMAL (addition-order
    // immune) cast to double once — same parity recipe as q_a6_describe.
    Q("q_trimmed_mean", { (s, d) =>
      trimmedMean(Tables.orders(s, d), "o_totalprice")
    },
      """WITH t AS (SELECT quantile_cont(o_totalprice, 0.05) AS p05,
        |  quantile_cont(o_totalprice, 0.95) AS p95 FROM orders)
        |SELECT p05, p95,
        | count(CASE WHEN o_totalprice >= p05 AND o_totalprice <= p95 THEN 1 END) AS n_kept,
        | count(*) AS n_total,
        | CAST(sum(CAST(CASE WHEN o_totalprice >= p05 AND o_totalprice <= p95
        |   THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(CASE WHEN o_totalprice >= p05 AND o_totalprice <= p95 THEN 1 END) AS mean_trimmed
        |FROM orders, t GROUP BY p05, p95""".stripMargin),

    // GINI COEFFICIENT — the concentration/imbalance report (how skewed
    // is spend across orders; the same statistic audits token-count
    // concentration across sources before training). Computed from the
    // scale-safe cumulative value-count frame: value v occupies ranks
    // (cum−c+1)..cum, whose sum is c·(2·cum−c+1)/2 — so Σ rank·x needs
    // no per-row ranking, just one pass over DISTINCT values. All sums
    // are exact DECIMAL (rank terms are integers, values 2dp) cast to
    // double once at the end — no float accumulation anywhere, no
    // single-task sort at any cardinality. G = Σc(2cum−c+1)v/(n·Σx) −
    // (n+1)/n, the standard sorted-rank identity with the /2 folded out.
    Q("q_gini", { (s, d) =>
      gini(Tables.orders(s, d), "o_totalprice")
    },
      """WITH c AS (
        | SELECT o_totalprice AS v, count(*) AS c FROM orders
        | WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |r AS (
        | SELECT v, c, sum(c) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
        |a AS (
        | SELECT CAST(max(cum) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(v AS DECIMAL(18,2)) * c) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))
        |    * CAST(c * (2 * cum - c + 1) AS DECIMAL(38,0))) AS DOUBLE) AS s2
        | FROM r)
        |SELECT n_rows,
        | round(s2 / (CAST(n_rows AS DOUBLE) * sx)
        |   - (CAST(n_rows AS DOUBLE) + 1) / CAST(n_rows AS DOUBLE), 6) AS gini
        |FROM a""".stripMargin),

    // Per-source document-length concentration — the data-mix balance
    // audit over the training corpus (a source whose length Gini spikes
    // is dominated by a few giant documents).
    Q("q_gini_by_source", { (s, d) =>
      groupedGini(Tables.documents(s, d), "source", "n_chars")
    },
      """WITH c AS (
        | SELECT source, n_chars AS v, count(*) AS c FROM documents
        | WHERE n_chars IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |r AS (
        | SELECT source, v, c, sum(c) OVER (PARTITION BY source ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
        |a AS (
        | SELECT source, CAST(max(cum) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(v AS DECIMAL(18,2)) * c) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))
        |    * CAST(c * (2 * cum - c + 1) AS DECIMAL(38,0))) AS DOUBLE) AS s2
        | FROM r GROUP BY 1)
        |SELECT source, n_rows,
        | round(s2 / (CAST(n_rows AS DOUBLE) * sx)
        |   - (CAST(n_rows AS DOUBLE) + 1) / CAST(n_rows AS DOUBLE), 6) AS gini
        |FROM a ORDER BY source""".stripMargin),

    // Source-mix diversity — entropy + effective source count over the
    // corpus source distribution (the one-number summary of "is this mix
    // dominated by a single source"; complements q_source_mix's shares).
    Q("q_mix_entropy", { (s, d) =>
      mixEntropy(Tables.documents(s, d), "source")
    },
      """WITH c AS (
        | SELECT source, count(*) AS c FROM documents
        | WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT sum(c) AS n FROM c),
        |p AS (
        | SELECT CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS p FROM c, t),
        |a AS (
        | SELECT count(*) AS n_cats,
        |  sum(CAST(round(-(p * log2(p)), 6) AS DECIMAL(18,6))) AS hd FROM p)
        |SELECT n_cats, CAST(hd AS DOUBLE) AS entropy_bits,
        | round(pow(2.0, CAST(hd AS DOUBLE)), 6) AS effective_cats
        |FROM a""".stripMargin),

    // Drift monitor: PSI of the document-length distribution, English
    // slice vs everything else (the per-ingest-batch distribution check
    // a training pipeline runs before accepting a new shard).
    Q("q_drift_psi", { (s, d) =>
      driftPsi(Tables.documents(s, d), length(col("text")),
        col("lang") === "en", 10)
    },
      """WITH v AS (SELECT CAST(length(text) AS BIGINT) AS c,
        |            (lang = 'en') AS ga FROM documents),
        |b AS (SELECT min(c) AS mn, max(c) AS mx,
        |       sum(CASE WHEN ga THEN 1 ELSE 0 END) AS na,
        |       sum(CASE WHEN ga THEN 0 ELSE 1 END) AS nb FROM v),
        |w AS (SELECT mn, mx, na, nb,
        |       greatest(1, CAST(floor((mx - mn + 10) / 10.0) AS BIGINT)) AS w
        |      FROM b),
        |cnts AS (SELECT least(CAST(floor((c - mn) / CAST(w AS DOUBLE)) AS BIGINT), 9) AS bin,
        |          count(CASE WHEN ga THEN 1 END) AS ca,
        |          count(CASE WHEN NOT ga THEN 1 END) AS cb
        |         FROM v, w GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 10)) AS bin),
        |f AS (SELECT s.bin, w.mn, w.mx, w.na, w.nb, w.w,
        |       coalesce(cnts.ca, 0) AS ca, coalesce(cnts.cb, 0) AS cb
        |      FROM spine s CROSS JOIN w LEFT JOIN cnts ON s.bin = cnts.bin)
        |SELECT bin,
        | CAST(mn + bin * w AS DOUBLE) AS lo,
        | CAST(mn + (bin + 1) * w AS DOUBLE) AS hi,
        | ca, cb,
        | round(CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE), 6) AS share_a,
        | round(CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE), 6) AS share_b,
        | round((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
        |        - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
        |   * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
        |        / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))), 6) AS psi_contrib
        |FROM f ORDER BY bin""".stripMargin),

    // Drift monitor, per-source: JS divergence of each source's length
    // distribution vs the whole corpus — the "which shard drifted"
    // follow-up to q_drift_psi's single A/B number, bounded in [0,1] bit
    // so sources are directly comparable.
    Q("q_js_divergence", { (s, d) =>
      jsDivergence(Tables.documents(s, d), length(col("text")), "source", 10)
    },
      """WITH v AS (
        | SELECT source AS src, CAST(length(text) AS BIGINT) AS c
        | FROM documents
        | WHERE source IS NOT NULL AND length(text) IS NOT NULL),
        |b AS (SELECT min(c) AS mn, max(c) AS mx,
        |       CAST(count(*) AS BIGINT) AS ng FROM v),
        |w AS (SELECT mn, mx, ng,
        |       greatest(1, CAST(floor((mx - mn + 10) / 10.0) AS BIGINT)) AS w
        |      FROM b),
        |sb AS (
        | SELECT src,
        |  least(CAST(floor((c - mn) / CAST(w AS DOUBLE)) AS BIGINT), 9) AS bin,
        |  CAST(count(*) AS BIGINT) AS cs
        | FROM v, w GROUP BY 1, 2),
        |ns AS (SELECT src, CAST(sum(cs) AS BIGINT) AS ns FROM sb GROUP BY 1),
        |gb AS (SELECT bin, CAST(sum(cs) AS BIGINT) AS cg FROM sb GROUP BY 1),
        |spine AS (
        | SELECT src, ns, unnest(range(0, 10)) AS bin FROM ns),
        |f AS (
        | SELECT s.src, s.ns, s.bin,
        |  coalesce(sb.cs, 0) AS cs, coalesce(gb.cg, 0) AS cg, w.ng
        | FROM spine s
        | LEFT JOIN sb ON s.src = sb.src AND s.bin = sb.bin
        | LEFT JOIN gb ON s.bin = gb.bin
        | CROSS JOIN w),
        |t AS (
        | SELECT src, ns, CAST(round((
        |   CASE WHEN cs > 0 THEN
        |    (CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
        |     * log2((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
        |       / (((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
        |           + (CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE))) / 2.0))
        |   ELSE 0.0 END
        |   + CASE WHEN cg > 0 THEN
        |    (CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE))
        |     * log2((CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE))
        |       / (((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
        |           + (CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE))) / 2.0))
        |   ELSE 0.0 END) / 2.0, 6) AS DECIMAL(18,6)) AS t
        | FROM f)
        |SELECT src AS source, max(ns) AS n_docs,
        | CAST(sum(t) AS DOUBLE) AS js_bits
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    // Classical hypothesis tests over corpus slices — the "is this
    // difference real" layer on top of the drift monitors.
    // Does document length vary by language beyond chance? (one-way ANOVA)
    Q("q_anova_lang", { (s, d) =>
      anova(Tables.documents(s, d), length(col("text")), "lang")
    },
      """WITH g AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS ng,
        |  CAST(sum(v) AS BIGINT) AS sg, CAST(sum(v * v) AS BIGINT) AS qg
        | FROM (SELECT lang, CAST(length(text) AS BIGINT) AS v FROM documents
        |       WHERE lang IS NOT NULL AND text IS NOT NULL)
        | GROUP BY 1),
        |t AS (
        | SELECT ng, sg, qg,
        |  CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |    / CAST(ng AS DOUBLE), 6) AS DECIMAL(28,6)) AS tg
        | FROM g),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |  CAST(sum(ng) AS BIGINT) AS n_rows, CAST(sum(sg) AS BIGINT) AS s,
        |  CAST(sum(qg) AS BIGINT) AS q, sum(tg) AS t
        | FROM t)
        |SELECT k_groups, n_rows,
        | round(CAST(t AS DOUBLE)
        |   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |  AS ss_between,
        | round(CAST(q AS DOUBLE) - CAST(t AS DOUBLE), 6) AS ss_within,
        | CASE WHEN k_groups > 1 AND n_rows > k_groups
        |       AND CAST(q AS DOUBLE) - CAST(t AS DOUBLE) > 0 THEN
        |  round(((CAST(t AS DOUBLE)
        |     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |    / CAST(k_groups - 1 AS DOUBLE))
        |   / ((CAST(q AS DOUBLE) - CAST(t AS DOUBLE))
        |    / CAST(n_rows - k_groups AS DOUBLE)), 6)
        | END AS f_stat
        |FROM a""".stripMargin),
    // Are language and source independent? (χ² + mutual information —
    // MI near 0 bits means the source mix is language-balanced.)
    Q("q_chi2_contingency", { (s, d) =>
      contingencyStats(Tables.documents(s, d), "lang", "source")
    },
      """WITH cells AS (
        | SELECT lang AS r, source AS c, CAST(count(*) AS BIGINT) AS o
        | FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        | GROUP BY 1, 2),
        |rs AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM cells GROUP BY 1),
        |cs AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |spine AS (
        | SELECT rs.r, cs.c, nr, nc, coalesce(o, 0) AS o, n
        | FROM rs CROSS JOIN cs
        | LEFT JOIN cells ON rs.r = cells.r AND cs.c = cells.c
        | CROSS JOIN nn),
        |t AS (
        | SELECT r, c,
        |  CAST(round((CAST(o AS DOUBLE)
        |     - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE)
        |     - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |   AS DECIMAL(18,6)) AS x2,
        |  CASE WHEN o > 0 THEN
        |   CAST(round((CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
        |     * log2(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |       / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))), 6) AS DECIMAL(18,6))
        |  ELSE CAST(0 AS DECIMAL(18,6)) END AS mi, n
        | FROM spine)
        |SELECT CAST(count(DISTINCT r) AS BIGINT) AS n_row_cats,
        | CAST(count(DISTINCT c) AS BIGINT) AS n_col_cats,
        | CAST(max(n) AS BIGINT) AS n_rows,
        | CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS BIGINT) AS dof,
        | CAST(sum(x2) AS DOUBLE) AS chi2, CAST(sum(mi) AS DOUBLE) AS mi_bits,
        | CASE WHEN least(count(DISTINCT r) - 1, count(DISTINCT c) - 1) >= 1
        |  THEN round(sqrt(CAST(sum(x2) AS DOUBLE) / (CAST(max(n) AS DOUBLE)
        |    * CAST(least(count(DISTINCT r) - 1, count(DISTINCT c) - 1)
        |        AS DOUBLE))), 6)
        | END AS cramers_v
        |FROM t""".stripMargin),
    // Distribution-free two-sample test: English vs non-English length
    // distributions (the KS complement to q_drift_psi's binned view).
    Q("q_ks_test", { (s, d) =>
      ksTest(Tables.documents(s, d), length(col("text")), col("lang") === "en")
    },
      """WITH v AS (
        | SELECT CAST(length(text) AS BIGINT) AS v, (lang = 'en') AS ga
        | FROM documents
        | WHERE length(text) IS NOT NULL AND (lang = 'en') IS NOT NULL),
        |c AS (
        | SELECT v, sum(CASE WHEN ga THEN 1 ELSE 0 END) AS ca,
        |  sum(CASE WHEN ga THEN 0 ELSE 1 END) AS cb
        | FROM v GROUP BY 1),
        |cum AS (
        | SELECT v,
        |  sum(ca) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |  sum(cb) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |  CAST(sum(ca) OVER () AS BIGINT) AS na,
        |  CAST(sum(cb) OVER () AS BIGINT) AS nb
        | FROM c),
        |d AS (
        | SELECT na, nb,
        |  max(round(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)), 6)) AS ks_d
        | FROM cum GROUP BY 1, 2)
        |SELECT na, nb, ks_d,
        | round(ks_d * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |   / CAST(na + nb AS DOUBLE)), 6) AS ks_stat
        |FROM d""".stripMargin),
    // METRIC DIAGNOSIS / root-cause contribution (the Adtributor shape —
    // Bhagwan et al., NSDI 2014): a dashboard moved between two periods;
    // for each segment of a dimension, report how much of the TOTAL
    // delta it explains (EP = segment delta / total delta, signed — a
    // segment moving against the trend gets a negative EP) and how
    // SURPRISING its mix shift is (per-segment Jensen-Shannon term
    // between the period-share distributions: a big but proportional
    // segment is unsurprising; a small segment that doubled is). Periods
    // = first vs second half of the month, metric = Σ value by
    // event_type. All inputs are exact DECIMAL cent sums; the JS/EP
    // terms are per-ROW double expressions of those exact sums (no
    // cross-row float accumulation), rounded at 6dp on both engines.
    // Scale posture: one fact pass to a (dimension × 2)-cardinality
    // frame; totals broadcast back as scalars.
    Q("q_metric_attribution", { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          (dayofmonth(col("ts")) <= 15).as("pa"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents"))
      val seg = ev.groupBy("event_type")
        .agg(coalesce(sum(when(col("pa"), col("cents"))), lit(0L)).as("ca"),
          coalesce(sum(when(!col("pa"), col("cents"))), lit(0L)).as("cb"))
      val tot = seg.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      val p = col("ca").cast("double") / col("ta").cast("double")
      val q = col("cb").cast("double") / col("tb").cast("double")
      val js = lit(0.5) * (
        when(p === 0.0, 0.0).otherwise(p * log2(lit(2.0) * p / (p + q))) +
          when(q === 0.0, 0.0).otherwise(q * log2(lit(2.0) * q / (p + q))))
      seg.crossJoin(broadcast(tot))
        .select(col("event_type"),
          (col("ca").cast("double") / 100.0).as("va"),
          (col("cb").cast("double") / 100.0).as("vb"),
          ((col("cb") - col("ca")).cast("double") / 100.0).as("delta"),
          round((col("cb") - col("ca")).cast("double") /
            (col("tb") - col("ta")).cast("double"), 6).as("ep"),
          round(js, 6).as("surprise"))
        .orderBy("event_type")
    },
      """WITH e AS (
        | SELECT event_type, day(ts) <= 15 AS pa,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |seg AS (
        | SELECT event_type,
        |  CAST(COALESCE(sum(CASE WHEN pa THEN cents END), 0) AS BIGINT) AS ca,
        |  CAST(COALESCE(sum(CASE WHEN NOT pa THEN cents END), 0) AS BIGINT) AS cb
        | FROM e GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |        CAST(sum(cb) AS BIGINT) AS tb FROM seg)
        |SELECT event_type,
        | CAST(ca AS DOUBLE) / 100.0 AS va,
        | CAST(cb AS DOUBLE) / 100.0 AS vb,
        | CAST(cb - ca AS DOUBLE) / 100.0 AS delta,
        | round(CAST(cb - ca AS DOUBLE) / CAST(tb - ta AS DOUBLE), 6) AS ep,
        | round(0.5 * (
        |  CASE WHEN ca = 0 THEN 0.0 ELSE
        |   (CAST(ca AS DOUBLE) / ta) * log2(2.0 * (CAST(ca AS DOUBLE) / ta)
        |    / (CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb)) END +
        |  CASE WHEN cb = 0 THEN 0.0 ELSE
        |   (CAST(cb AS DOUBLE) / tb) * log2(2.0 * (CAST(cb AS DOUBLE) / tb)
        |    / (CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb)) END), 6)
        |  AS surprise
        |FROM seg CROSS JOIN tot ORDER BY event_type""".stripMargin),

    // WASSERSTEIN-1 (earth mover's) distance between the same two slices
    // the KS test compares — the drift metric that weighs HOW FAR mass
    // moved, not just the worst CDF gap (a small shift of all mass and a
    // large shift of a sliver can tie on KS; W1 separates them). For 1-D
    // empirical CDFs, W1 = Σ over the merged value spine of
    // Δv·|F_A − F_B| — the KS cumulative frame with the sup replaced by
    // a decimal-folded integral (6dp terms, order-independent sum).
    // Same scale posture as KS: everything lives on the distinct-value
    // spine; the fact pass is one map-side-combined groupBy.
    Q("q_wasserstein_drift", { (s, d) =>
      wasserstein1(Tables.documents(s, d), length(col("text")),
        col("lang") === "en")
    },
      """WITH v AS (
        | SELECT CAST(length(text) AS BIGINT) AS v, (lang = 'en') AS ga
        | FROM documents
        | WHERE length(text) IS NOT NULL AND (lang = 'en') IS NOT NULL),
        |c AS (
        | SELECT v, sum(CASE WHEN ga THEN 1 ELSE 0 END) AS ca,
        |  sum(CASE WHEN ga THEN 0 ELSE 1 END) AS cb
        | FROM v GROUP BY 1),
        |cum AS (
        | SELECT v,
        |  sum(ca) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |  sum(cb) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |  CAST(sum(ca) OVER () AS BIGINT) AS na,
        |  CAST(sum(cb) OVER () AS BIGINT) AS nb,
        |  lead(v) OVER (ORDER BY v) AS nv
        | FROM c),
        |t AS (
        | SELECT na, nb,
        |  CAST(round(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))
        |    * CAST(nv - v AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
        | FROM cum WHERE nv IS NOT NULL)
        |SELECT na, nb,
        | COALESCE(CAST(sum(term) AS DOUBLE), 0.0) AS w1
        |FROM t GROUP BY 1, 2""".stripMargin),

    // Closed-form modeling layer on top of the test pack.
    // Is revenue trending, per market segment? (exact-moment OLS)
    Q("q_ols_trend", { (s, d) =>
      olsTrend(Tables.orders(s, d), Tables.customer(s, d))
    },
      """WITH m AS (
        | SELECT c_mktsegment AS segment,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2),
        |g AS (
        | SELECT segment, CAST(count(*) AS BIGINT) AS n_months,
        |  min(x) AS mn, sum(x) AS rsx, sum(x * x) AS rsxx, sum(yc) AS rsy,
        |  sum(CAST(x AS HUGEINT) * CAST(yc AS HUGEINT)) AS rsxy,
        |  sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS rsyy
        | FROM m GROUP BY 1),
        |a AS (
        | SELECT segment, n_months,
        |  CAST(rsx - n_months * mn AS DOUBLE) AS sx,
        |  CAST(rsxx - 2 * mn * rsx + n_months * mn * mn AS DOUBLE) AS sxx,
        |  CAST(rsy AS DOUBLE) AS sy,
        |  CAST(rsxy - CAST(mn AS HUGEINT) * CAST(rsy AS HUGEINT)
        |    AS DOUBLE) AS sxy,
        |  CAST(rsyy AS DOUBLE) AS syy,
        |  CAST(n_months AS DOUBLE) AS dn
        | FROM g)
        |SELECT segment, n_months,
        | CASE WHEN dn * sxx - sx * sx > 0 THEN
        |  round((dn * sxy - sx * sy) / (dn * sxx - sx * sx) / 100.0, 6)
        | END AS slope,
        | CASE WHEN dn * sxx - sx * sx > 0 THEN
        |  round((sy - (dn * sxy - sx * sy) / (dn * sxx - sx * sx) * sx)
        |    / dn / 100.0, 6)
        | END AS intercept,
        | CASE WHEN dn * sxx - sx * sx > 0 AND dn * syy - sy * sy > 0 THEN
        |  round(((dn * sxy - sx * sy) * (dn * sxy - sx * sy))
        |    / ((dn * sxx - sx * sx) * (dn * syy - sy * sy)), 6)
        | END AS r2
        |FROM a ORDER BY segment""".stripMargin),
    // Is the trend robust to outlier months? (Theil–Sen + Mann–Kendall —
    // the distribution-free complement to q_ols_trend.)
    Q("q_trend_robust", { (s, d) =>
      robustTrend(Tables.orders(s, d), Tables.customer(s, d))
    },
      """WITH m AS (
        | SELECT c_mktsegment AS segment,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2),
        |p AS (
        | SELECT a.segment,
        |  CAST(b.yc - a.yc AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) / 100.0
        |    AS slope,
        |  CASE WHEN b.yc > a.yc THEN 1 WHEN b.yc < a.yc THEN -1 ELSE 0 END
        |    AS sgn
        | FROM m a JOIN m b ON a.segment = b.segment AND a.x < b.x),
        |s AS (
        | SELECT segment, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(sgn) AS BIGINT) AS s_stat,
        |  quantile_cont(slope, 0.5) AS ts_slope
        | FROM p GROUP BY 1),
        |t AS (
        | SELECT segment, CAST(count(*) AS BIGINT) AS n_months,
        |  sum(c * (c - 1) * (2 * c + 5)) AS tsum
        | FROM (SELECT segment, yc, count(*) AS c FROM m GROUP BY 1, 2)
        | GROUP BY 1),
        |v AS (
        | SELECT segment, n_months,
        |  CAST(n_months * (n_months - 1) * (2 * n_months + 5) - tsum
        |    AS DOUBLE) / 18.0 AS mkvar
        | FROM t)
        |SELECT s.segment, n_months, n_pairs, round(ts_slope, 6) AS ts_slope,
        | s_stat,
        | CASE WHEN mkvar > 0 THEN
        |  round(CASE WHEN s_stat > 0
        |    THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(mkvar)
        |   WHEN s_stat < 0
        |    THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(mkvar)
        |   ELSE 0.0 END, 6)
        | END AS mk_z
        |FROM s JOIN v ON s.segment = v.segment ORDER BY 1""".stripMargin),
    // How much weekly structure does daily revenue have? (ACF lags 1..7)
    Q("q_acf_daily", { (s, d) =>
      acfDaily(Tables.orders(s, d), 7)
    },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        | FROM orders GROUP BY 1),
        |i AS (SELECT yc, row_number() OVER (ORDER BY day) AS rn FROM d),
        |p AS (
        | SELECT k.k AS lag, a.yc AS x, b.yc AS y
        | FROM i a, i b, (SELECT unnest(range(1, 8)) AS k) k
        | WHERE b.rn = a.rn + k.k),
        |a AS (
        | SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(*) AS DOUBLE) AS dm,
        |  CAST(sum(x) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
        |    AS DOUBLE) AS syy,
        |  CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
        |    AS DOUBLE) AS sxy
        | FROM p GROUP BY 1)
        |SELECT lag, n_pairs,
        | CASE WHEN dm * sxx - sx * sx > 0 AND dm * syy - sy * sy > 0 THEN
        |  round((dm * sxy - sx * sy)
        |    / sqrt((dm * sxx - sx * sx) * (dm * syy - sy * sy)), 6)
        | END AS acf
        |FROM a ORDER BY lag""".stripMargin),
    // How well does raw length separate English from the rest? (rank AUC
    // — the effect-size companion to q_ks_test's significance.)
    Q("q_auc_length", { (s, d) =>
      aucRank(Tables.documents(s, d), length(col("text")),
        col("lang") === "en")
    },
      """WITH v AS (
        | SELECT CAST(length(text) AS BIGINT) AS v,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |c AS (SELECT v, count(*) AS c, sum(pos) AS p FROM v GROUP BY 1),
        |r AS (
        | SELECT c, p, sum(c) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
        |a AS (
        | SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS np,
        |  CAST(sum(CAST(p AS DECIMAL(18,0))
        |    * CAST(2 * cum - c + 1 AS DECIMAL(18,0))) AS DOUBLE) AS rp2
        | FROM r)
        |SELECT np AS n_pos, n - np AS n_neg,
        | CASE WHEN np > 0 AND n > np THEN
        |  round((rp2 - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1))
        |    / (2.0 * CAST(np AS DOUBLE) * CAST(n - np AS DOUBLE)), 6)
        | END AS auc
        |FROM a""".stripMargin),
    // Does the money column look organic? (Benford leading-digit audit —
    // a synthetic uniform price generator fails it loudly, which is
    // itself the interesting report on this corpus.)
    Q("q_benford", { (s, d) =>
      benford(Tables.orders(s, d), "o_totalprice")
    },
      """WITH o AS (
        | SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INTEGER)
        |   AS digit, count(*) AS c
        | FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
        | GROUP BY 1),
        |s AS (
        | SELECT CAST(d.digit AS INTEGER) AS digit, coalesce(o.c, 0) AS c,
        |  (SELECT sum(c) FROM o) AS n
        | FROM (SELECT unnest(range(1, 10)) AS digit) d LEFT JOIN o USING (digit))
        |SELECT digit, CAST(c AS BIGINT) AS n_obs,
        | round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_share,
        | round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_share,
        | round((CAST(c AS DOUBLE)
        |    - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        |  * (CAST(c AS DOUBLE)
        |    - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        |  / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6)
        |  AS chi2_term
        |FROM s ORDER BY digit""".stripMargin),
    // Which brands sell together? (support / confidence / lift over
    // order baskets.)
    Q("q_assoc_rules", { (s, d) =>
      assocRules(Tables.lineitem(s, d), Tables.part(s, d))
    },
      """WITH items AS (
        | SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |t AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
        |bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS nb FROM items GROUP BY 1),
        |p AS (
        | SELECT a.brand AS brand_a, b.brand AS brand_b,
        |  CAST(count(*) AS BIGINT) AS n_ab
        | FROM items a JOIN items b ON a.ok = b.ok AND a.brand < b.brand
        | GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab,
        | round(CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS support,
        | round(CAST(n_ab AS DOUBLE) / CAST(ca.nb AS DOUBLE), 6) AS conf_ab,
        | round((CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
        |   / (CAST(ca.nb AS DOUBLE) * CAST(cb.nb AS DOUBLE)), 6) AS lift
        |FROM p CROSS JOIN t
        | JOIN bc ca ON p.brand_a = ca.brand
        | JOIN bc cb ON p.brand_b = cb.brand
        |ORDER BY brand_a, brand_b""".stripMargin),
    // Where does each document sit in the corpus length distribution?
    // (mid-rank CDF position — the quantile-normalized feature)
    Q("q_quantile_normalize", { (s, d) =>
      quantileNormalize(Tables.documents(s, d), "doc_id", "n_chars", 100L)
    },
      """WITH c AS (
        | SELECT CAST(n_chars AS DOUBLE) AS v, count(*) AS c FROM documents
        | WHERE n_chars IS NOT NULL GROUP BY 1),
        |r AS (
        | SELECT v, c, sum(c) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER () AS n
        | FROM c)
        |SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
        | round(CAST(2 * cum - c + 1 AS DOUBLE)
        |   / CAST(2 * n AS DOUBLE), 6) AS q
        |FROM documents JOIN r ON CAST(n_chars AS DOUBLE) = r.v
        |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),
    // How big is the en/non-en length difference, in pooled SDs?
    // (Cohen's d — the effect size next to q_ks_test's significance.)
    Q("q_effect_size", { (s, d) =>
      cohensD(Tables.documents(s, d), length(col("text")),
        col("lang") === "en")
    },
      """WITH v AS (
        | SELECT CAST(length(text) AS BIGINT) AS v, (lang = 'en') AS ga
        | FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |a AS (
        | SELECT CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN ga THEN v ELSE 0 END) AS DOUBLE) AS sa,
        |  CAST(sum(CASE WHEN ga THEN v * v ELSE 0 END) AS DOUBLE) AS qa,
        |  CAST(sum(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS nb,
        |  CAST(sum(CASE WHEN ga THEN 0 ELSE v END) AS DOUBLE) AS sb,
        |  CAST(sum(CASE WHEN ga THEN 0 ELSE v * v END) AS DOUBLE) AS qb
        | FROM v)
        |SELECT na AS n_a, nb AS n_b,
        | round(sa / CAST(na AS DOUBLE), 6) AS mean_a,
        | round(sb / CAST(nb AS DOUBLE), 6) AS mean_b,
        | CASE WHEN na > 1 AND nb > 1 AND
        |   ((qa - sa * sa / CAST(na AS DOUBLE))
        |     + (qb - sb * sb / CAST(nb AS DOUBLE)))
        |    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) > 0
        |  THEN round((sa / CAST(na AS DOUBLE) - sb / CAST(nb AS DOUBLE))
        |   / sqrt(((qa - sa * sa / CAST(na AS DOUBLE))
        |      + (qb - sb * sb / CAST(nb AS DOUBLE)))
        |     / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2)), 6)
        | END AS cohens_d
        |FROM a""".stripMargin),
    // Shape of the order-value distribution per priority class: exact
    // one-pass skewness + excess kurtosis (describe's missing moments).
    Q("q_moments", { (s, d) =>
      skewKurtosis(Tables.orders(s, d), "o_orderpriority", "o_totalprice")
    },
      """WITH c AS (
        | SELECT o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        | FROM orders WHERE o_totalprice IS NOT NULL),
        |a AS (
        | SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
        |  CAST(sum(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS s3,
        |  CAST(sum(CAST(c AS HUGEINT) * c * c * c) AS DOUBLE) AS s4
        | FROM c GROUP BY 1),
        |m AS (
        | SELECT o_orderpriority, n,
        |  s1 / CAST(n AS DOUBLE) AS m1, s2, s3, s4,
        |  CAST(n AS DOUBLE) AS dn
        | FROM a),
        |mm AS (
        | SELECT o_orderpriority, n,
        |  s2 / dn - m1 * m1 AS m2,
        |  s3 / dn - 3.0 * m1 * s2 / dn + 2.0 * m1 * m1 * m1 AS m3,
        |  s4 / dn - 4.0 * m1 * s3 / dn + 6.0 * m1 * m1 * s2 / dn
        |    - 3.0 * m1 * m1 * m1 * m1 AS m4
        | FROM m)
        |SELECT o_orderpriority, n,
        | CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
        | CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END AS kurtosis_excess
        |FROM mm ORDER BY o_orderpriority""".stripMargin),
    // Does quantity still track line value once discount is controlled
    // for? (first-order partial correlation, one moment pass)
    Q("q_partial_corr", { (s, d) =>
      partialCorr(Tables.lineitem(s, d),
        "l_quantity", "l_extendedprice", "l_discount")
    },
      """WITH a AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sz,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS szz,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxz,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syz
        | FROM lineitem
        | WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  AND l_discount IS NOT NULL),
        |r AS (
        | SELECT n,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |       * (CAST(n AS DOUBLE) * syy - sy * sy)) AS rxy,
        |  (CAST(n AS DOUBLE) * sxz - sx * sz)
        |   / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |       * (CAST(n AS DOUBLE) * szz - sz * sz)) AS rxz,
        |  (CAST(n AS DOUBLE) * syz - sy * sz)
        |   / sqrt((CAST(n AS DOUBLE) * syy - sy * sy)
        |       * (CAST(n AS DOUBLE) * szz - sz * sz)) AS ryz
        | FROM a)
        |SELECT n AS n_rows,
        | round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        | round(ryz, 6) AS r_yz,
        | CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
        |  THEN round((rxy - rxz * ryz)
        |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
        | END AS r_xy_given_z
        |FROM r""".stripMargin),
    // Is the daily up/down pattern random? (Wald–Wolfowitz runs test)
    Q("q_runs_test", { (s, d) =>
      runsTest(Tables.orders(s, d))
    },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        | FROM orders GROUP BY 1),
        |s0 AS (
        | SELECT day, sign(yc - lag(yc) OVER (ORDER BY day)) AS s FROM d),
        |s AS (SELECT day, CAST(s AS BIGINT) AS s FROM s0
        |      WHERE s IS NOT NULL AND s <> 0),
        |r AS (
        | SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
        |   OR s <> lag(s) OVER (ORDER BY day) THEN 1 ELSE 0 END AS chg
        | FROM s),
        |a AS (
        | SELECT CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(sum(chg) AS BIGINT) AS n_runs
        | FROM r)
        |SELECT n_pos, n_neg, n_runs,
        | CASE WHEN n_pos > 0 AND n_neg > 0 AND
        |   ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |     * ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |        - (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))))
        |    / ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |       * (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |       * ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) - 1)) > 0
        |  THEN round((CAST(n_runs AS DOUBLE)
        |    - ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |       / (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) + 1.0))
        |   / sqrt(((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |     * ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |        - (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))))
        |    / ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |       * (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |       * ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) - 1))), 6)
        | END AS z
        |FROM a""".stripMargin),
    // What price point moves the units? (quantity-weighted price
    // quartiles — exact, interpolation-free, tie-deterministic.)
    Q("q_weighted_median", { (s, d) =>
      weightedPercentiles(Tables.lineitem(s, d),
        "l_extendedprice", "l_quantity")
    },
      """WITH c AS (
        | SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |  sum(CAST(l_quantity AS BIGINT)) AS c
        | FROM lineitem
        | WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        | GROUP BY 1),
        |r AS (
        | SELECT v, c, sum(c) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
        |t AS (SELECT sum(c) AS n FROM c)
        |SELECT CAST(t.n AS BIGINT) AS total_weight,
        | min(CASE WHEN 4 * cum >= n THEN v END) AS wp25,
        | min(CASE WHEN 2 * cum >= n THEN v END) AS wp50,
        | min(CASE WHEN 4 * cum >= 3 * n THEN v END) AS wp75
        |FROM r CROSS JOIN t GROUP BY t.n""".stripMargin),
    // Does quantity drive line value monotonically? (tie-corrected
    // Spearman ρ — the rank-based complement to q_a8_corr's Pearson.)
    Q("q_spearman", { (s, d) =>
      spearman(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")
    },
      """WITH r AS (
        | SELECT CAST(l_quantity AS DOUBLE) AS xv,
        |  CAST(l_extendedprice AS DOUBLE) AS yv
        | FROM lineitem
        | WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |rx AS (
        | SELECT v, 2 * cum - c + 1 AS r2 FROM (
        |  SELECT v, c, sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT xv AS v, count(*) AS c FROM r GROUP BY 1))),
        |ry AS (
        | SELECT v, 2 * cum - c + 1 AS r2 FROM (
        |  SELECT v, c, sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT yv AS v, count(*) AS c FROM r GROUP BY 1))),
        |j AS (
        | SELECT rx.r2 AS rxv, ry.r2 AS ryv
        | FROM r JOIN rx ON r.xv = rx.v JOIN ry ON r.yv = ry.v),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rxv) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(rxv AS HUGEINT) * CAST(rxv AS HUGEINT))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(ryv) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(ryv AS HUGEINT) * CAST(ryv AS HUGEINT))
        |    AS DOUBLE) AS syy,
        |  CAST(sum(CAST(rxv AS HUGEINT) * CAST(ryv AS HUGEINT))
        |    AS DOUBLE) AS sxy
        | FROM j)
        |SELECT n AS n_rows,
        | CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |   AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
        | END AS rho
        |FROM a""".stripMargin),
    // How cliquish is the co-purchase graph? (triangle census over the
    // lift>1 brand graph — the graph-analytics complement to the rules.)
    Q("q_triangle_census", { (s, d) =>
      coPurchaseTriangles(Tables.lineitem(s, d), Tables.part(s, d))
    },
      """WITH items AS (
        | SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |t AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
        |bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS nb FROM items GROUP BY 1),
        |p AS (
        | SELECT a.brand AS u, b.brand AS v, CAST(count(*) AS BIGINT) AS n_ab
        | FROM items a JOIN items b ON a.ok = b.ok AND a.brand < b.brand
        | GROUP BY 1, 2),
        |e AS (
        | SELECT u, v
        | FROM p CROSS JOIN t
        |  JOIN bc ca ON p.u = ca.brand JOIN bc cb ON p.v = cb.brand
        | WHERE CAST(n_ab AS HUGEINT) * CAST(n_orders AS HUGEINT)
        |   > CAST(ca.nb AS HUGEINT) * CAST(cb.nb AS HUGEINT)),
        |tri AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_triangles
        | FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |deg AS (
        | SELECT node, CAST(count(*) AS BIGINT) AS d
        | FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        | GROUP BY 1),
        |st AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(d) / 2 AS BIGINT) AS n_edges,
        |  CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_triples
        | FROM deg)
        |SELECT n_nodes, n_edges, n_triangles,
        | CASE WHEN n_triples > 0 THEN
        |  round(3.0 * CAST(n_triangles AS DOUBLE)
        |    / CAST(n_triples AS DOUBLE), 6)
        | END AS clustering_coeff
        |FROM st CROSS JOIN tri""".stripMargin),
    // Which weekdays carry the revenue? (multiplicative seasonality index)
    Q("q_dow_seasonality", { (s, d) =>
      dowSeasonality(Tables.orders(s, d))
    },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        | FROM orders GROUP BY 1),
        |b AS (
        | SELECT CAST(isodow(day) AS INTEGER) AS dow,
        |  CAST(count(*) AS BIGINT) AS n_days, sum(yc) AS s
        | FROM d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(yc) AS st FROM d)
        |SELECT dow, n_days,
        | round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0, 6) AS avg_rev,
        | round((CAST(s AS DOUBLE) * CAST(n AS DOUBLE))
        |   / (CAST(n_days AS DOUBLE) * CAST(st AS DOUBLE)), 6) AS index
        |FROM b CROSS JOIN t ORDER BY dow""".stripMargin),
    // Where does the revenue level shift? (exact-integer CUSUM argmax)
    Q("q_changepoint", { (s, d) =>
      cusumChangepoint(Tables.orders(s, d))
    },
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        | FROM orders GROUP BY 1),
        |c AS (
        | SELECT day,
        |  sum(yc) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        | FROM d),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(yc) AS s FROM d),
        |x AS (
        | SELECT day, n,
        |  CAST(n AS HUGEINT) * CAST(pre AS HUGEINT)
        |    - CAST(t AS HUGEINT) * CAST(s AS HUGEINT) AS dt
        | FROM c CROSS JOIN tot)
        |SELECT day, n AS n_days,
        | round(CAST(dt AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS cusum
        |FROM x ORDER BY abs(dt) DESC, day LIMIT 1""".stripMargin),
    // Which days page the on-call? (dow-adjusted |z| > 2 on daily counts)
    Q("q_anomaly_daily", { (s, d) =>
      dailyAnomalies(Tables.events(s, d))
    },
      """WITH d AS (
        | SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1),
        |b AS (
        | SELECT CAST(isodow(day) AS INTEGER) AS dow,
        |  CAST(count(*) AS BIGINT) AS n_days, CAST(sum(y) AS BIGINT) AS s
        | FROM d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(y) AS BIGINT) AS st FROM d),
        |a AS (
        | SELECT day, b.dow, y,
        |  round(CAST(y AS DOUBLE) * CAST(n_days AS DOUBLE) * CAST(st AS DOUBLE)
        |    / (CAST(s AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS adj
        | FROM d JOIN b ON CAST(isodow(day) AS INTEGER) = b.dow CROSS JOIN t),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |      sum(CAST(adj AS DECIMAL(28,9))) AS sa,
        |      sum(CAST(round(adj * adj, 9) AS DECIMAL(28,9))) AS sa2 FROM a),
        |z AS (
        | SELECT day, dow, y, round(adj, 6) AS adj6,
        |  round((adj - CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE))
        |   / sqrt(CAST(sa2 AS DOUBLE) / CAST(nd AS DOUBLE)
        |      - (CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE))
        |        * (CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE))), 6) AS z
        | FROM a CROSS JOIN m)
        |SELECT day, dow, y, adj6 AS adj, z
        |FROM z WHERE abs(z) > 2.0 ORDER BY day""".stripMargin),
    // Which event types anchor user journeys? (integer fixed-point
    // PageRank over the session transition graph.)
    Q("q_pagerank", { (s, d) =>
      pagerankTransitions(Tables.events(s, d))
    },
      pagerankSql(10)),
    // Degree distribution of the session-transition graph (distinct
    // in/out neighbors per node, then node counts per degree) — the
    // third graph report alongside PageRank and the triangle census.
    // Everything after the shared corpus-sized sessionize pass runs on
    // the event-type²-bounded edge frame.
    Q("q_graph_degree", { (s, d) =>
      val edges = sessionTransitions(Tables.events(s, d))
        .select("src", "dst").persistTracked()
      def dist(keyCol: String, dir: String) = edges
        .groupBy(col(keyCol).as("node"))
        .agg(countDistinct(if (keyCol == "src") col("dst") else col("src"))
          .as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .select(lit(dir).as("direction"), col("degree"), col("n_nodes"))
      dist("src", "out").unionByName(dist("dst", "in"))
        .orderBy("direction", "degree")
    },
      s"""WITH $transitionEdgesSql,
         |eg AS (SELECT DISTINCT src, dst FROM edges),
         |outd AS (
         | SELECT degree, count(*) AS n_nodes FROM (
         |  SELECT src, count(DISTINCT dst) AS degree FROM eg GROUP BY 1)
         | GROUP BY 1),
         |ind AS (
         | SELECT degree, count(*) AS n_nodes FROM (
         |  SELECT dst, count(DISTINCT src) AS degree FROM eg GROUP BY 1)
         | GROUP BY 1)
         |SELECT 'out' AS direction, degree, n_nodes FROM outd
         |UNION ALL
         |SELECT 'in' AS direction, degree, n_nodes FROM ind
         |ORDER BY direction, degree""".stripMargin),
    // Mutual information I(event_type; weekday) with marginal entropies
    // — the feature-relevance audit (does behavior depend on day?).
    // Joint counts collapse to a ≤ |types|·7 cell frame in one map-side-
    // combined shuffle; marginals re-aggregate the cells; per-cell info
    // terms round to 9 dp and fold as DECIMAL so the sums are
    // aggregation-order-independent on both engines.
    Q("q_mutual_info", { (s, d) =>
      val cells = Tables.events(s, d)
        .select(col("event_type").as("x"), (weekday(col("ts")) + 1).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        .persistTracked()
      val cx = cells.groupBy("x").agg(sum("cxy").as("cx"))
      val cy = cells.groupBy("y").agg(sum("cxy").as("cy"))
      val n = cells.agg(sum("cxy").as("n"))
      def infoFold(term: Column) =
        round(sum(round(term, 9).cast(DecimalType(28, 9))).cast("double"), 6)
      val mi = cells.join(broadcast(cx), Seq("x")).join(broadcast(cy), Seq("y"))
        .crossJoin(broadcast(n))
        .agg(infoFold((col("cxy").cast("double") / col("n")) *
          log2(col("cxy").cast("double") * col("n") /
            (col("cx").cast("double") * col("cy")))).as("mi"))
      def entropy(marg: DataFrame, c: String) = marg.crossJoin(broadcast(n))
        .agg(infoFold((col(c).cast("double") / col("n")) *
          log2(col("n").cast("double") / col(c))).as(s"h_$c"))
      mi.crossJoin(broadcast(entropy(cx, "cx")))
        .crossJoin(broadcast(entropy(cy, "cy")))
        .select(col("mi"), col("h_cx").as("h_x"), col("h_cy").as("h_y"))
    },
      """WITH cells AS (
        | SELECT event_type AS x, CAST(isodow(ts) AS INTEGER) AS y,
        |  count(*) AS cxy
        | FROM events GROUP BY 1, 2),
        |cx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY 1),
        |cy AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
        |mi AS (
        | SELECT round(CAST(sum(CAST(round(
        |   (CAST(cxy AS DOUBLE) / n) *
        |    log2(CAST(cxy AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)), 9)
        |   AS DECIMAL(28,9))) AS DOUBLE), 6) AS mi
        | FROM cells JOIN cx USING (x) JOIN cy USING (y), n),
        |hx AS (
        | SELECT round(CAST(sum(CAST(round(
        |   (CAST(cx AS DOUBLE) / n) * log2(CAST(n AS DOUBLE) / cx), 9)
        |   AS DECIMAL(28,9))) AS DOUBLE), 6) AS h_x
        | FROM cx, n),
        |hy AS (
        | SELECT round(CAST(sum(CAST(round(
        |   (CAST(cy AS DOUBLE) / n) * log2(CAST(n AS DOUBLE) / cy), 9)
        |   AS DECIMAL(28,9))) AS DOUBLE), 6) AS h_y
        | FROM cy, n)
        |SELECT mi, h_x, h_y FROM mi, hx, hy""".stripMargin),

    // A9 — the full dashboard lattice in ONE pass: CUBE(year, status)
    // computes detail + BOTH one-dimension subtotals + grand total in a
    // single aggregate — four dashboard queries, one scan, one shuffle
    // (Expand multiplies rows before the exchange, but the map-side
    // combine collapses them to group cardinality). Complements
    // q_rollup_dashboard's strict hierarchy; grouping_id bit semantics
    // pinned against DuckDB's GROUPING.
    Q("q_cube_dashboard", { (s, d) =>
      Tables.orders(s, d)
        .cube(year(col("o_orderdate")).as("y"), col("o_orderstatus").as("st"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          sumDec(col("o_totalprice")).as("total"))
        .select(col("gid"), col("y"), col("st"), col("cnt"), col("total"))
        .orderBy(col("gid"), col("y").asc_nulls_last, col("st").asc_nulls_last)
    },
      s"""SELECT GROUPING(y, st) AS gid, y, st, count(*) AS cnt,
         | ${sumDecSql("o_totalprice")} AS total
         |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
         |       o_orderstatus AS st, o_totalprice FROM orders)
         |GROUP BY CUBE(y, st)
         |ORDER BY gid, y NULLS LAST, st NULLS LAST""".stripMargin),

    // A9 — the dashboard hierarchy in ONE pass: ROLLUP(year, priority)
    // computes detail + per-year subtotal + grand total in a single
    // aggregate (one scan, one shuffle) instead of the three separate
    // dashboard queries a naive port would run; grouping_id
    // disambiguates the levels (bit semantics verified identical to
    // DuckDB's GROUPING). Null placement pinned NULLS LAST on both
    // engines — rollup's subtotal rows are null-keyed by construction.
    Q("q_rollup_dashboard", { (s, d) =>
      Tables.orders(s, d)
        .rollup(year(col("o_orderdate")).as("y"),
          col("o_orderpriority").as("prio"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          sumDec(col("o_totalprice")).as("total"))
        .select(col("gid"), col("y"), col("prio"), col("cnt"), col("total"))
        .orderBy(col("gid"), col("y").asc_nulls_last, col("prio").asc_nulls_last)
    },
      s"""SELECT GROUPING(y, prio) AS gid, y, prio, count(*) AS cnt,
         | ${sumDecSql("o_totalprice")} AS total
         |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
         |       o_orderpriority AS prio, o_totalprice FROM orders)
         |GROUP BY ROLLUP(y, prio)
         |ORDER BY gid, y NULLS LAST, prio NULLS LAST""".stripMargin),

    // A9 — dashboard: totals by year ("Injury and Fatality Trends by Year").
    // SESSION PATH ANALYSIS — the most common event-type sequences per
    // session (the "user journey" report): sessionize with the same
    // strict->gap rule as q_sessionize, render each session's ordered
    // type sequence as a path string, count sessions per path. Ordering
    // inside a session is total — (ts, event_id) — so equal-timestamp
    // events render identically in both engines. The per-session
    // collect_list is session-length-bounded; the path rollup shuffles
    // path-cardinality keys; the final top-20 sorts a path-count frame.
    Q("q_session_paths", { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val evs = Tables.events(s, d)
        .withColumn("ts", date_trunc("second", col("ts")))
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_no", sum(col("new_sess")).over(byUser))
      evs.groupBy("user_id", "sess_no")
        .agg(concat_ws("->",
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            e => e.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path"))
        .limit(20)
    },
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  date_trunc('second', ts) AS ts FROM events),
        |g AS (
        | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        | FROM g),
        |p AS (
        | SELECT user_id, sess_no,
        |  string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        | FROM s GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // SESSION TRANSITION MATRIX — first-order Markov counts over event
    // types within sessions (the "what do users do next" report, and the
    // input to any journey-graph / next-action model). Same sessionize
    // block as q_session_paths / q_sessionize; the in-session lag runs
    // over the TOTAL order (ts, event_id) so tied timestamps resolve
    // identically in both engines. Scale shape: two user-partitioned
    // windows (user-bounded partitions), then a groupBy on (src, dst) —
    // type-cardinality² keys, map-side combined, so the only full-data
    // shuffle is the sessionize window itself.
    Q("q_session_transitions", { (s, d) =>
      sessionTransitions(Tables.events(s, d))
    },
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  date_trunc('second', ts) AS ts FROM events),
        |g AS (
        | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        | FROM g),
        |t AS (
        | SELECT event_type AS dst, lag(event_type) OVER (
        |   PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS src
        | FROM s)
        |SELECT src, dst, count(*) AS n FROM t
        |WHERE src IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // THINK-TIME DISTRIBUTION — P50/P90/P99 of the seconds between
    // consecutive events inside a session (the engagement/latency
    // report, and the empirical basis for choosing the session gap
    // threshold itself). Gaps are integer seconds from the same total
    // (ts, event_id) in-session order as q_session_transitions, so tied
    // timestamps contribute exact-0 gaps in both engines; percentiles
    // run through the distributed exact engine (value-count shuffle +
    // interpolation — no value buffering at any cardinality, unlike the
    // builtin `percentile` aggregate).
    Q("q_think_time", { (s, d) =>
      thinkTime(Tables.events(s, d))
    },
      """WITH e AS (
        | SELECT user_id, event_id, date_trunc('second', ts) AS ts FROM events),
        |g AS (
        | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        | FROM g),
        |gp AS (
        | SELECT CAST(epoch(ts) - epoch(lag(ts) OVER (
        |   PARTITION BY user_id, sess_no ORDER BY ts, event_id)) AS BIGINT) AS gap
        | FROM s)
        |SELECT count(gap) AS n_gaps,
        | quantile_cont(gap, 0.5) AS p50,
        | quantile_cont(gap, 0.9) AS p90,
        | quantile_cont(gap, 0.99) AS p99
        |FROM gp WHERE gap IS NOT NULL""".stripMargin),

    // A/B EXPERIMENT READOUT — two-proportion z-test on purchase
    // conversion under a deterministic md5 user split (the same
    // hash-bucket assignment family as q_sample_split, so variant
    // membership is reproducible across engines and runs). One
    // user-keyed aggregate (bounded by user cardinality), then a scalar
    // conditional rollup — no joins, no windows. The z-score is a fixed
    // IEEE-double expression tree evaluated identically in both engines
    // and rounded to 6dp (the q_drift_psi float-parity convention).
    Q("q_ab_test", { (s, d) =>
      abTest(Tables.events(s, d))
    },
      """WITH u AS (
        | SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        | FROM events GROUP BY 1),
        |v AS (
        | SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
        |   THEN 'control' ELSE 'treatment' END AS variant, converted FROM u),
        |a AS (
        | SELECT count(CASE WHEN variant = 'control' THEN 1 END) AS n_c,
        |  CAST(sum(CASE WHEN variant = 'control' THEN converted ELSE 0 END) AS BIGINT) AS x_c,
        |  count(CASE WHEN variant = 'treatment' THEN 1 END) AS n_t,
        |  CAST(sum(CASE WHEN variant = 'treatment' THEN converted ELSE 0 END) AS BIGINT) AS x_t
        | FROM v),
        |b AS (
        | SELECT n_c, x_c, n_t, x_t,
        |  x_c / CAST(n_c AS DOUBLE) AS rc,
        |  x_t / CAST(n_t AS DOUBLE) AS rt,
        |  sqrt(((x_c + x_t) / CAST(n_c + n_t AS DOUBLE))
        |    * (CAST(1 AS DOUBLE) - (x_c + x_t) / CAST(n_c + n_t AS DOUBLE))
        |    * (CAST(1 AS DOUBLE) / CAST(n_c AS DOUBLE)
        |       + CAST(1 AS DOUBLE) / CAST(n_t AS DOUBLE))) AS se
        | FROM a)
        |SELECT n_c, x_c, n_t, x_t,
        | round(rc, 6) AS rate_c, round(rt, 6) AS rate_t,
        | CASE WHEN se > 0 THEN round((rt - rc) / se, 6) END AS z
        |FROM b""".stripMargin),

    // UPLIFT QINI CURVE (Radcliffe 2007) — the targeting readout: rank
    // users by a score, and at each decile depth ask how many EXTRA
    // responders the treated group shows over the control baseline
    // scaled to its size: Qini(k) = Rt(k) − Rc(k)·Nt(k)/Nc(k). The
    // harness contract is the CURVE machinery (a real deployment plugs
    // in a model score; here score = activity = events-per-user, and
    // responder = above-median purchase count, so both paths are
    // non-degenerate at any SF). Sort-free at scale: deciles come from
    // 9 broadcast exact-percentile thresholds + a map-side when-chain
    // (the q_decile_report idiom — never a global ntile sort over
    // users); cumulatives run on the 10-row decile spine. Counts exact
    // integers; qini is one rounded double per row.
    Q("q_uplift_qini", { (s, d) =>
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("m"))
      val med = exactPercentiles(perUser, "m", Seq("med" -> 0.5))
      val u = perUser.crossJoin(broadcast(med))
        .select(
          (conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 2).as("arm"),
          (col("m") > col("med")).as("resp"),
          col("n_ev").cast("double").as("score"))
      val thr = exactPercentiles(u, "score",
        (1 to 9).map(i => s"t$i" -> i / 10.0))
      val bucketed = u.crossJoin(broadcast(thr))
        .withColumn("decile", lit(1) +
          (1 to 9).map(i => when(col("score") > col(s"t$i"), 1).otherwise(0))
            .reduce(_ + _))
      val perD = bucketed.groupBy("decile").agg(
        count(when(col("arm") === 1, 1)).as("nt"),
        count(when(col("arm") === 0, 1)).as("nc"),
        sum(when(col("arm") === 1 && col("resp"), 1L).otherwise(0L))
          .as("rt"),
        sum(when(col("arm") === 0 && col("resp"), 1L).otherwise(0L))
          .as("rc"))
      // cumulate from the BEST decile down (decile 10 = highest score)
      val w = Window.orderBy(desc("decile"))
      perD
        .select(row_number().over(w).as("k"),
          sum(col("nt")).over(w).as("cnt"), sum(col("nc")).over(w).as("cnc"),
          sum(col("rt")).over(w).as("crt"), sum(col("rc")).over(w).as("crc"))
        .select(col("k"), col("cnt").as("n_t"), col("cnc").as("n_c"),
          col("crt").as("resp_t"), col("crc").as("resp_c"),
          round(col("crt").cast("double") -
            col("crc").cast("double") * col("cnt").cast("double") /
              col("cnc").cast("double"), 6).as("qini"))
        .orderBy("k")
    }, {
      val thrCols = (1 to 9)
        .map(i => s"quantile_cont(score, 0.$i) AS t$i").mkString(", ")
      val caseSum = (1 to 9)
        .map(i => s"CASE WHEN score > t$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH pu AS (
         | SELECT user_id, count(*) AS n_ev,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS m
         | FROM events GROUP BY 1),
         |md AS (SELECT quantile_cont(m, 0.5) AS med FROM pu),
         |u AS (
         | SELECT
         |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS arm,
         |  m > med AS resp, CAST(n_ev AS DOUBLE) AS score
         | FROM pu, md),
         |t AS (SELECT $thrCols FROM u),
         |b AS (SELECT arm, resp, 1 + $caseSum AS decile FROM u, t),
         |pd AS (
         | SELECT decile,
         |  count(CASE WHEN arm = 1 THEN 1 END) AS nt,
         |  count(CASE WHEN arm = 0 THEN 1 END) AS nc,
         |  CAST(sum(CASE WHEN arm = 1 AND resp THEN 1 ELSE 0 END) AS BIGINT) AS rt,
         |  CAST(sum(CASE WHEN arm = 0 AND resp THEN 1 ELSE 0 END) AS BIGINT) AS rc
         | FROM b GROUP BY 1),
         |c AS (
         | SELECT row_number() OVER (ORDER BY decile DESC) AS k,
         |  CAST(sum(nt) OVER w AS BIGINT) AS n_t,
         |  CAST(sum(nc) OVER w AS BIGINT) AS n_c,
         |  CAST(sum(rt) OVER w AS BIGINT) AS resp_t,
         |  CAST(sum(rc) OVER w AS BIGINT) AS resp_c
         | FROM pd
         | WINDOW w AS (ORDER BY decile DESC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT k, n_t, n_c, resp_t, resp_c,
         | round(CAST(resp_t AS DOUBLE)
         |  - CAST(resp_c AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
         |  AS qini
         |FROM c ORDER BY k""".stripMargin
    }),

    // WINSORIZED LIFT — the heavy-tail-robust experiment readout: per
    // user revenue clipped at the POOLED exact p99 before the
    // two-sample z (one whale in one arm can flip a raw-mean readout;
    // clipping at a pooled quantile bounds any single user's influence
    // while using the same threshold for both arms, so it cannot bias
    // the comparison). Kohavi et al.'s standard metric-capping
    // practice. Exactness: per-user revenue is exact integer cents; the
    // p99 threshold comes from the distributed exact-percentile engine
    // and broadcasts back; clipped values round to 2dp DECIMAL so the
    // arm sums are order-independent; the z tree is one double
    // expression from those decimal moments. Scale: one user-keyed
    // aggregate + one percentile pass + one scalar rollup.
    Q("q_winsorized_lift", { (s, d) =>
      val perUser = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy("user_id")
        .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("sc"))
        .select(col("user_id"),
          (col("sc").cast("double") / 100.0).as("v"))
      val p99 = exactPercentiles(perUser, "v", Seq("p99" -> 0.99))
      val clipped = perUser.crossJoin(broadcast(p99))
        .select(col("p99"),
          (conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 2).as("arm"),
          round(least(col("v"), col("p99")), 2)
            .cast(DecimalType(18, 2)).as("w"))
      val agg = clipped.groupBy("p99").agg(
        count(when(col("arm") === 0, 1)).as("n_c"),
        sum(when(col("arm") === 0, col("w"))).as("s_c"),
        sum(when(col("arm") === 0, col("w") * col("w"))).as("ss_c"),
        count(when(col("arm") === 1, 1)).as("n_t"),
        sum(when(col("arm") === 1, col("w"))).as("s_t"),
        sum(when(col("arm") === 1, col("w") * col("w"))).as("ss_t"))
      def mean(sc: String, n: String) =
        col(sc).cast("double") / col(n).cast("double")
      def variance(ss: String, sc: String, n: String) =
        (col(ss).cast("double") -
          col(sc).cast("double") * col(sc).cast("double") /
            col(n).cast("double")) / (col(n).cast("double") - lit(1.0))
      val se = sqrt(variance("ss_c", "s_c", "n_c") / col("n_c").cast("double")
        + variance("ss_t", "s_t", "n_t") / col("n_t").cast("double"))
      agg.select(col("n_c"), col("n_t"), round(col("p99"), 6).as("clip_at"),
        round(mean("s_c", "n_c"), 6).as("mean_c"),
        round(mean("s_t", "n_t"), 6).as("mean_t"),
        when(se > 0, round((mean("s_t", "n_t") - mean("s_c", "n_c")) / se, 6))
          .as("z"))
    },
      """WITH u AS (
        | SELECT user_id,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sc
        | FROM events WHERE value IS NOT NULL GROUP BY 1),
        |v AS (SELECT user_id, CAST(sc AS DOUBLE) / 100.0 AS v FROM u),
        |p AS (SELECT quantile_cont(v, 0.99) AS p99 FROM v),
        |c AS (
        | SELECT p99,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS arm,
        |  CAST(round(least(v, p99), 2) AS DECIMAL(18,2)) AS w
        | FROM v, p),
        |a AS (
        | SELECT p99,
        |  count(CASE WHEN arm = 0 THEN 1 END) AS n_c,
        |  sum(CASE WHEN arm = 0 THEN w END) AS s_c,
        |  sum(CASE WHEN arm = 0 THEN w * w END) AS ss_c,
        |  count(CASE WHEN arm = 1 THEN 1 END) AS n_t,
        |  sum(CASE WHEN arm = 1 THEN w END) AS s_t,
        |  sum(CASE WHEN arm = 1 THEN w * w END) AS ss_t
        | FROM c GROUP BY 1),
        |b AS (
        | SELECT p99, n_c, n_t,
        |  CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS mc,
        |  CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS mt,
        |  sqrt(
        |   ((CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1.0)) / CAST(n_c AS DOUBLE)
        |   + ((CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0)) / CAST(n_t AS DOUBLE)) AS se
        | FROM a)
        |SELECT n_c, n_t, round(p99, 6) AS clip_at,
        | round(mc, 6) AS mean_c, round(mt, 6) AS mean_t,
        | CASE WHEN se > 0 THEN round((mt - mc) / se, 6) END AS z
        |FROM b""".stripMargin),

    // MARKOV ENTROPY RATE of in-session event sequences — how
    // predictable is the next event given the current one? The plug-in
    // estimator Σ_i π̂_i·H(dst | src=i) over the q_session_transitions
    // matrix (π̂ = empirical source frequency), reported beside the
    // log2(k) ceiling — the sequence-predictability readout behind
    // next-event prefetching and session-model sanity checks. Exactness:
    // all counts exact; each −p·log2(p) term and each π_i·H_i product
    // rounds to 6dp DECIMAL before its fold (order-independent, the
    // q_mix_entropy convention). Scale: the transition matrix is
    // state²-bounded (windows on it are trivially bounded); everything
    // upstream is the sessionize shuffle the transitions query already
    // pays.
    Q("q_entropy_rate", { (s, d) =>
      val tr = sessionTransitions(Tables.events(s, d))
        .withColumnRenamed("n", "nij")
      val bySrc = tr.withColumn("ni",
        sum(col("nij")).over(Window.partitionBy("src")))
      val p = col("nij").cast("double") / col("ni").cast("double")
      val hi = bySrc.groupBy("src")
        .agg(max(col("ni")).as("ni"),
          sum(round(-(p * log2(p)), 6).cast(DecimalType(18, 6))).as("hd"))
      val tot = hi.agg(sum(col("ni")).as("nt"),
        count(lit(1)).as("n_states"))
      hi.crossJoin(broadcast(tot))
        .select(col("nt"), col("n_states"),
          round(col("ni").cast("double") / col("nt").cast("double") *
            col("hd").cast("double"), 6).cast(DecimalType(18, 6)).as("term"))
        .groupBy("n_states", "nt")
        .agg(sum(col("term")).as("r"))
        .select(col("n_states"), col("nt").as("n_transitions"),
          col("r").cast("double").as("entropy_rate_bits"),
          round(log2(col("n_states").cast("double")), 6).as("max_bits"))
    },
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  date_trunc('second', ts) AS ts FROM events),
        |g AS (
        | SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        | FROM g),
        |t AS (
        | SELECT event_type AS dst, lag(event_type) OVER (
        |   PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS src
        | FROM s),
        |tr AS (SELECT src, dst, count(*) AS nij FROM t
        |       WHERE src IS NOT NULL GROUP BY 1, 2),
        |ni AS (SELECT src, CAST(sum(nij) AS BIGINT) AS ni FROM tr GROUP BY 1),
        |h AS (
        | SELECT tr.src, max(ni.ni) AS ni,
        |  sum(CAST(round(-((CAST(nij AS DOUBLE) / CAST(ni.ni AS DOUBLE))
        |    * log2(CAST(nij AS DOUBLE) / CAST(ni.ni AS DOUBLE))), 6)
        |   AS DECIMAL(18,6))) AS hd
        | FROM tr JOIN ni ON tr.src = ni.src GROUP BY 1),
        |tt AS (SELECT CAST(sum(ni) AS BIGINT) AS nt, count(*) AS n_states
        |       FROM h)
        |SELECT n_states, nt AS n_transitions,
        | CAST(sum(CAST(round(CAST(ni AS DOUBLE) / CAST(nt AS DOUBLE)
        |   * CAST(hd AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |  AS entropy_rate_bits,
        | round(log2(CAST(n_states AS DOUBLE)), 6) AS max_bits
        |FROM h, tt GROUP BY 1, 2""".stripMargin),

    // LIFT-HETEROGENEITY READOUT (fixed-effect meta-analysis across
    // user segments — Cochran 1954's Q, Higgins & Thompson 2002's I²):
    // the per-segment treatment lifts on purchases-per-user are pooled
    // inverse-variance, and Q = Σwθ² − (Σwθ)²/Σw tests whether the
    // segments genuinely disagree (Q > χ²₀.₀₅(k−1) ⇒ one global lift
    // number is hiding real segment structure — ship per-segment
    // readouts instead). The standard "is the effect uniform" gate run
    // before rolling out a winner measured on the pooled population.
    // Determinism: per-segment moments are exact integer (Σx, Σx²
    // Longs); θ/w doubles derive from them identically in both engines;
    // the cross-segment folds round each term to 9dp DECIMAL first
    // (order-independent sums — the q_jackknife convention). Scale: one
    // user-keyed aggregate, one (segment × arm)-cardinality rollup,
    // then a k-row fold. No joins.
    Q("q_lift_heterogeneity", { (s, d) =>
      val k = 4
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("m"))
        .select(col("m"), (col("user_id") % k).as("seg"),
          (conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 2).as("arm"))
      val bySeg = perUser.groupBy("seg").agg(
        count(when(col("arm") === 0, 1)).as("n_c"),
        sum(when(col("arm") === 0, col("m")).otherwise(0L)).as("s_c"),
        sum(when(col("arm") === 0, col("m") * col("m")).otherwise(0L))
          .as("ss_c"),
        count(when(col("arm") === 1, 1)).as("n_t"),
        sum(when(col("arm") === 1, col("m")).otherwise(0L)).as("s_t"),
        sum(when(col("arm") === 1, col("m") * col("m")).otherwise(0L))
          .as("ss_t"))
      def m(sc: String, n: String) =
        col(sc).cast("double") / col(n).cast("double")
      def v(ss: String, sc: String, n: String) =
        (col(ss).cast("double") -
          col(sc).cast("double") * col(sc).cast("double") /
            col(n).cast("double")) / (col(n).cast("double") - lit(1.0))
      val theta = m("s_t", "n_t") - m("s_c", "n_c")
      val varT = v("ss_t", "s_t", "n_t") / col("n_t").cast("double") +
        v("ss_c", "s_c", "n_c") / col("n_c").cast("double")
      val w = lit(1.0) / varT
      bySeg
        .select(
          round(w, 9).cast(DecimalType(28, 9)).as("w"),
          round(w * theta, 9).cast(DecimalType(28, 9)).as("wt"),
          round(w * theta * theta, 9).cast(DecimalType(28, 9)).as("wt2"))
        .agg(count(lit(1)).as("k_segments"),
          sum(col("w")).as("sw"), sum(col("wt")).as("swt"),
          sum(col("wt2")).as("swt2"))
        .select(col("k_segments"),
          round(col("swt").cast("double") / col("sw").cast("double"), 6)
            .as("pooled_lift"),
          round(col("swt2").cast("double") -
            col("swt").cast("double") * col("swt").cast("double") /
              col("sw").cast("double"), 6).as("q_stat"),
          (round(col("swt2").cast("double") -
            col("swt").cast("double") * col("swt").cast("double") /
              col("sw").cast("double"), 6) > lit(7.814728))
            .as("heterogeneous"))
        .withColumn("i2",
          round(greatest(lit(0.0),
            (col("q_stat") - (col("k_segments") - lit(1)).cast("double")) /
              col("q_stat")), 6))
        .select("k_segments", "pooled_lift", "q_stat", "i2",
          "heterogeneous")
    },
      """WITH u AS (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS m
        | FROM events GROUP BY 1),
        |p AS (
        | SELECT m, user_id % 4 AS seg,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS arm
        | FROM u),
        |g AS (
        | SELECT seg,
        |  count(CASE WHEN arm = 0 THEN 1 END) AS n_c,
        |  CAST(sum(CASE WHEN arm = 0 THEN m ELSE 0 END) AS BIGINT) AS s_c,
        |  CAST(sum(CASE WHEN arm = 0 THEN m * m ELSE 0 END) AS BIGINT) AS ss_c,
        |  count(CASE WHEN arm = 1 THEN 1 END) AS n_t,
        |  CAST(sum(CASE WHEN arm = 1 THEN m ELSE 0 END) AS BIGINT) AS s_t,
        |  CAST(sum(CASE WHEN arm = 1 THEN m * m ELSE 0 END) AS BIGINT) AS ss_t
        | FROM p GROUP BY 1),
        |t AS (
        | SELECT seg,
        |  (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |   - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) AS theta,
        |  ((CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0)) / CAST(n_t AS DOUBLE)
        |   + ((CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1.0)) / CAST(n_c AS DOUBLE) AS vr
        | FROM g),
        |f AS (
        | SELECT count(*) AS k_segments,
        |  sum(CAST(round(1.0 / vr, 9) AS DECIMAL(28,9))) AS sw,
        |  sum(CAST(round((1.0 / vr) * theta, 9) AS DECIMAL(28,9))) AS swt,
        |  sum(CAST(round((1.0 / vr) * theta * theta, 9) AS DECIMAL(28,9))) AS swt2
        | FROM t),
        |r AS (
        | SELECT k_segments,
        |  round(CAST(swt AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS pooled_lift,
        |  round(CAST(swt2 AS DOUBLE)
        |   - CAST(swt AS DOUBLE) * CAST(swt AS DOUBLE) / CAST(sw AS DOUBLE), 6)
        |   AS q_stat
        | FROM f)
        |SELECT k_segments, pooled_lift, q_stat,
        | round(greatest(0.0, (q_stat - (k_segments - 1)) / q_stat), 6) AS i2,
        | q_stat > 7.814728 AS heterogeneous
        |FROM r""".stripMargin),

    // A/A NEGATIVE CONTROL — q_ab_test's split machinery replayed under
    // 5 salted null splits; any unhealthy row indicts the assignment
    // stack, not an experiment. Same single user-keyed aggregate as
    // q_ab_test with the K-way explode AFTER per-user reduction.
    Q("q_aa_check", { (s, d) =>
      aaCheck(Tables.events(s, d))
    },
      """WITH u AS (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS m
        | FROM events GROUP BY 1),
        |v AS (
        | SELECT CAST(t.s AS INTEGER) AS salt, m,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(t.s AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS arm
        | FROM u CROSS JOIN unnest(range(0, 5)) AS t(s)),
        |a AS (
        | SELECT salt,
        |  count(CASE WHEN arm = 0 THEN 1 END) AS n_a,
        |  CAST(sum(CASE WHEN arm = 0 THEN m ELSE 0 END) AS BIGINT) AS s_a,
        |  CAST(sum(CASE WHEN arm = 0 THEN m * m ELSE 0 END) AS BIGINT) AS ss_a,
        |  count(CASE WHEN arm = 1 THEN 1 END) AS n_b,
        |  CAST(sum(CASE WHEN arm = 1 THEN m ELSE 0 END) AS BIGINT) AS s_b,
        |  CAST(sum(CASE WHEN arm = 1 THEN m * m ELSE 0 END) AS BIGINT) AS ss_b
        | FROM v GROUP BY 1),
        |b AS (
        | SELECT salt, n_a, n_b,
        |  CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |  CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |  sqrt(
        |   ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE)
        |   + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE)) AS se
        | FROM a)
        |SELECT salt, n_a, n_b,
        | round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        | CASE WHEN se > 0 THEN round((mb - ma) / se, 6) END AS z,
        | (se <= 0 OR abs(round((mb - ma) / se, 6)) < 1.96) AS healthy
        |FROM b ORDER BY salt""".stripMargin),

    // CONVERSION FUNNEL — ordered step completion (signup → view →
    // purchase by FIRST occurrence per user): one user-keyed aggregate
    // computes all step timestamps in a single pass (conditional mins,
    // map-side combined), then a scalar rollup counts stage survivors.
    // No self-joins, no per-user windows — the classic funnel at 100 TB
    // is two aggregates, the first keyed by user (bounded by user
    // cardinality), the second scalar.
    Q("q_funnel", { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .agg(
          count(col("t_signup")).as("n_signup"),
          count(when(col("t_view") > col("t_signup"), 1)).as("n_signup_then_view"),
          count(when(col("t_view") > col("t_signup") &&
            col("t_purchase") > col("t_view"), 1)).as("n_full_funnel"))
    },
      """WITH f AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        | FROM events GROUP BY 1)
        |SELECT count(t_signup) AS n_signup,
        | count(CASE WHEN t_view > t_signup THEN 1 END) AS n_signup_then_view,
        | count(CASE WHEN t_view > t_signup AND t_purchase > t_view THEN 1 END) AS n_full_funnel
        |FROM f""".stripMargin),

    // FUNNEL LIFT BY ARM — q_funnel's step counts split by the
    // q_ab_test md5 assignment, with per-step treatment/control rate
    // ratios: the readout that says WHICH funnel step an experiment
    // moves, not just the end-to-end conversion delta. One user-keyed
    // aggregate (the funnel's conditional mins plus the arm column),
    // then a 2-group rollup reshaped to one row per step; rates are
    // integer ppm and the ratio is the single rounded double. No joins.
    Q("q_funnel_lift", { (s, d) =>
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("ts1"),
          min(when(col("event_type") === "view", col("ts"))).as("ts2"),
          min(when(col("event_type") === "purchase", col("ts"))).as("ts3"))
        .select(
          (conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 2).as("arm"),
          col("ts1").isNotNull.as("s_signup"),
          (col("ts2") > col("ts1")).as("s_view"),
          (col("ts2") > col("ts1") && col("ts3") > col("ts2"))
            .as("s_purchase"))
      val agg = perUser.groupBy("arm").agg(
        count(lit(1)).as("n"),
        sum(when(col("s_signup"), 1L).otherwise(0L)).as("k1"),
        sum(when(col("s_view"), 1L).otherwise(0L)).as("k2"),
        sum(when(col("s_purchase"), 1L).otherwise(0L)).as("k3"))
      val steps = agg.select(col("arm"), col("n"),
        explode(array(
          struct(lit(1).as("step"), col("k1").as("k")),
          struct(lit(2).as("step"), col("k2").as("k")),
          struct(lit(3).as("step"), col("k3").as("k")))).as("e"))
        .select(col("arm"), col("n"), col("e.step"), col("e.k"))
      val wide = steps.groupBy("step").agg(
        max(when(col("arm") === 0, col("n"))).as("n_c"),
        max(when(col("arm") === 0, col("k"))).as("k_c"),
        max(when(col("arm") === 1, col("n"))).as("n_t"),
        max(when(col("arm") === 1, col("k"))).as("k_t"))
      wide.select(col("step"), col("n_c"), col("k_c"), col("n_t"),
          col("k_t"),
          expr("k_c * 1000000 div n_c").as("rate_c_ppm"),
          expr("k_t * 1000000 div n_t").as("rate_t_ppm"))
        .withColumn("lift_ratio",
          when(col("rate_c_ppm") > 0,
            round(col("rate_t_ppm").cast("double") /
              col("rate_c_ppm").cast("double"), 6)))
        .orderBy("step")
    },
      """WITH f AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS ts1,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS ts2,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS ts3
        | FROM events GROUP BY 1),
        |u AS (
        | SELECT
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS arm,
        |  ts1 IS NOT NULL AS s1, ts2 > ts1 AS s2,
        |  (ts2 > ts1 AND ts3 > ts2) AS s3
        | FROM f),
        |a AS (
        | SELECT arm, count(*) AS n,
        |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
        |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
        |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
        | FROM u GROUP BY 1),
        |st AS (
        | SELECT arm, n, t.step, CASE t.step WHEN 1 THEN k1 WHEN 2 THEN k2
        |   ELSE k3 END AS k
        | FROM a CROSS JOIN (SELECT CAST(unnest([1, 2, 3]) AS INTEGER) AS step) t),
        |w AS (
        | SELECT step,
        |  max(CASE WHEN arm = 0 THEN n END) AS n_c,
        |  max(CASE WHEN arm = 0 THEN k END) AS k_c,
        |  max(CASE WHEN arm = 1 THEN n END) AS n_t,
        |  max(CASE WHEN arm = 1 THEN k END) AS k_t
        | FROM st GROUP BY 1)
        |SELECT step, n_c, k_c, n_t, k_t,
        | k_c * 1000000 // n_c AS rate_c_ppm,
        | k_t * 1000000 // n_t AS rate_t_ppm,
        | CASE WHEN k_c * 1000000 // n_c > 0
        |  THEN round(CAST(k_t * 1000000 // n_t AS DOUBLE)
        |   / CAST(k_c * 1000000 // n_c AS DOUBLE), 6) END AS lift_ratio
        |FROM w ORDER BY step""".stripMargin),

    // COHORT RETENTION — users grouped by first-active week, activity
    // counted per subsequent week (the retention matrix). The first-seen
    // frame is user-cardinality-sized and broadcasts back onto events;
    // the matrix aggregate shuffles on (cohort, week) — bounded by
    // weeks², not events. Week anchors are Mondays in both engines, so
    // the day-difference is an exact multiple of 7.
    Q("q_cohort_retention", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val firstSeen = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      ev.join(broadcast(firstSeen), Seq("user_id"))
        .groupBy("cohort_wk", "wk")
        .agg(count_distinct(col("user_id")).as("n_active"))
        .select(col("cohort_wk").cast("date").as("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / lit(7)).cast("int").as("week_no"),
          col("n_active"))
        .orderBy("cohort_wk", "week_no")
    },
      """WITH e AS (
        | SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |first_seen AS (
        | SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT CAST(cohort_wk AS DATE) AS cohort_wk,
        | CAST(date_diff('day', cohort_wk, wk) / 7 AS INTEGER) AS week_no,
        | count(DISTINCT user_id) AS n_active
        |FROM e JOIN first_seen USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // TIME-SERIES RESAMPLING to hourly bars with ORDERED first/last —
    // open = first value in the bar, close = last (the OHLC/dashboard
    // downsample). min_by/max_by over a (ts, event_id) struct gives the
    // ordered endpoints as a plain hash aggregate: one shuffle on the
    // bar key with map-side partials, NO per-bar sort and no window —
    // the endpoints ride the aggregation buffer. The id in the struct
    // makes the order total (equal-ts events tie-break deterministically).
    // Raw values pass through untouched (no accumulation), so doubles
    // compare exactly across engines.
    Q("q_resample_bars", { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bar_ts"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          min(col("value")).as("lo"), max(col("value")).as("hi"),
          count(lit(1)).as("n"))
        .orderBy("bar_ts")
    },
      """WITH r AS (
        | SELECT date_trunc('hour', ts) AS bar_ts, value,
        |  row_number() OVER (PARTITION BY date_trunc('hour', ts)
        |    ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY date_trunc('hour', ts)
        |    ORDER BY ts DESC, event_id DESC) AS rn_d
        | FROM events)
        |SELECT bar_ts,
        | max(CASE WHEN rn_a = 1 THEN value END) AS open,
        | max(CASE WHEN rn_d = 1 THEN value END) AS close,
        | min(value) AS lo, max(value) AS hi, count(*) AS n
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_a9_by_year", { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(sumDec(col("o_totalprice")).as("total"), count(lit(1)).as("cnt"))
        .orderBy("y")
    },
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS y, ${sumDecSql("o_totalprice")} AS total,
         | count(*) AS cnt
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    // A9 — dashboard: weekday × status matrix ("Accidents by day of week /
    // severity by road type" shape).
    Q("q_a9_weekday_matrix", { (s, d) =>
      Tables.orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "EEEE").as("dayname"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("dayname", "o_orderstatus")
    },
      """SELECT dayname(o_orderdate) AS dayname, o_orderstatus, count(*) AS cnt
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    // A9 — dashboard: month × priority injury sums ("Evolution of Injuries
    // by Year" / monthly breakdown shape).
    Q("q_a9_month_breakdown", { (s, d) =>
      Tables.orders(s, d)
        .groupBy(month(col("o_orderdate")).as("m"),
          col("o_orderpriority"))
        .agg(sumDec(col("o_totalprice")).as("total"))
        .orderBy("m", "o_orderpriority")
    },
      s"""SELECT CAST(month(o_orderdate) AS INTEGER) AS m, o_orderpriority,
         | ${sumDecSql("o_totalprice")} AS total
         |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin)
  )
}
