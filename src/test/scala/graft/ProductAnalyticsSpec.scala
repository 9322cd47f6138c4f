package graft

import java.sql.Timestamp

import graft.operators.Analytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType

/** Closed-form known-answer tests for the product-analytics / robust-stats
  * pack (session transitions, think time, A/B z-test, MAD, trimmed mean,
  * Gini). The oracle gates these end-to-end on real tables; these tests pin
  * the math on inputs small enough to verify by hand.
  */
class ProductAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def events(rows: (Long, Long, String, String)*): DataFrame =
    rows.toSeq.toDF("user_id", "event_id", "ts_s", "event_type")
      .selectExpr("user_id", "event_id",
        "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")

  test("sessionTransitions: counts restart at session boundaries") {
    // user 1: view→click within a session; purchase opens a NEW session
    // (gap 2000s > 1800s) so click→purchase must NOT be counted.
    val e = events(
      (1L, 1L, "2024-01-01 00:00:00", "view"),
      (1L, 2L, "2024-01-01 00:00:10", "click"),
      (1L, 3L, "2024-01-01 00:33:30", "purchase"),
      (2L, 4L, "2024-01-01 00:00:00", "view"),
      (2L, 5L, "2024-01-01 00:00:05", "click"))
    val out = Analytics.sessionTransitions(e)
      .as[(String, String, Long)].collect().toSet
    assert(out === Set(("view", "click", 2L)))
  }

  test("sessionTransitions: equal timestamps resolve by event_id") {
    val e = events(
      (1L, 2L, "2024-01-01 00:00:00", "b"),
      (1L, 1L, "2024-01-01 00:00:00", "a"),
      (1L, 3L, "2024-01-01 00:00:00", "c"))
    val out = Analytics.sessionTransitions(e)
      .as[(String, String, Long)].collect().toSet
    assert(out === Set(("a", "b", 1L), ("b", "c", 1L)))
  }

  test("thinkTime: boundary gaps are excluded, percentiles exact") {
    // user 1 session 1: gaps 10 and 20; session 2 (2000s later): gap 30.
    // The 2000s boundary gap must not appear. Sorted gaps (10, 20, 30):
    // p50 = 20 exactly.
    val e = events(
      (1L, 1L, "2024-01-01 00:00:00", "view"),
      (1L, 2L, "2024-01-01 00:00:10", "click"),
      (1L, 3L, "2024-01-01 00:00:30", "click"),
      (1L, 4L, "2024-01-01 01:00:00", "view"),
      (1L, 5L, "2024-01-01 01:00:30", "click"))
    val r = Analytics.thinkTime(e).collect().head
    assert(r.getAs[Long]("n_gaps") === 3L)
    assert(r.getAs[Double]("p50") === 20.0)
  }

  test("abTest: degenerate conversion yields NULL z, arms partition users") {
    val e = events(
      (1L, 1L, "2024-01-01 00:00:00", "purchase"),
      (2L, 2L, "2024-01-01 00:00:00", "purchase"),
      (3L, 3L, "2024-01-01 00:00:00", "purchase"),
      (4L, 4L, "2024-01-01 00:00:00", "purchase"))
    val r = Analytics.abTest(e).collect().head
    assert(r.getAs[Long]("n_c") + r.getAs[Long]("n_t") === 4L)
    assert(r.getAs[Long]("x_c") === r.getAs[Long]("n_c"))
    assert(r.getAs[Long]("x_t") === r.getAs[Long]("n_t"))
    assert(r.isNullAt(r.fieldIndex("z")), "z must be NULL when se = 0")
  }

  test("madOutliers: known answer on a 5-point set") {
    // values (1,2,3,4,100): med 3, |dev| (2,1,0,1,97), mad 1 →
    // threshold 4.4478 flags only 97.
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("v")
    val r = Analytics.madOutliers(df, "v").collect().head
    assert(r.getAs[Double]("med") === 3.0)
    assert(r.getAs[Double]("mad") === 1.0)
    assert(r.getAs[Long]("n_total") === 5L)
    assert(r.getAs[Long]("n_outliers") === 1L)
  }

  test("trimmedMean: symmetric 1..100 keeps 6..95 and means 50.5") {
    // p05 at pos 0.05·99 = 4.95 → 5.95; p95 at 94.05 → 95.05; the kept
    // range is the 90 integers 6..95 whose mean is 50.5.
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = Analytics.trimmedMean(df, "v").collect().head
    assert(r.getAs[Long]("n_kept") === 90L)
    assert(r.getAs[Long]("n_total") === 100L)
    assert(r.getAs[Double]("mean_trimmed") === 50.5)
  }

  test("gini: closed-form answers") {
    // (1,2,3,4): Σ rank·x = 30 → G = 2·30/(4·10) − 5/4 = 0.25.
    val g1 = Analytics.gini(Seq(1.0, 2.0, 3.0, 4.0).toDF("v"), "v")
      .collect().head
    assert(g1.getAs[Long]("n_rows") === 4L)
    assert(g1.getAs[Double]("gini") === 0.25)
    // perfectly equal distribution → 0 (duplicates exercise the
    // rank-range closed form: one frame row covers all four ranks).
    val g2 = Analytics.gini(Seq(5.0, 5.0, 5.0, 5.0).toDF("v"), "v")
      .collect().head
    assert(g2.getAs[Double]("gini") === 0.0)
  }

  test("groupedGini: each group gets its own closed-form answer") {
    val df = (Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)) ++
      Seq.fill(4)(("b", 5.0))).toDF("g", "v")
    val out = Analytics.groupedGini(df, "g", "v")
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(("a", 4L, 0.25), ("b", 4L, 0.0)))
  }

  test("anova: textbook two-group F from exact moments") {
    // a=[1,2,3], b=[4,5,6]: SSB = 3·(2−3.5)² + 3·(5−3.5)² = 13.5,
    // SSW = 2+2 = 4, F = (13.5/1)/(4/4) = 13.5.
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5), ("b", 6))
      .toDF("g", "v")
    val r = Analytics.anova(df, col("v"), "g").collect().head
    assert(r.getAs[Long]("k_groups") === 2L)
    assert(r.getAs[Long]("n_rows") === 6L)
    assert(r.getAs[Double]("ss_between") === 13.5)
    assert(r.getAs[Double]("ss_within") === 4.0)
    assert(r.getAs[Double]("f_stat") === 13.5)
  }

  test("anova: single group yields null F, not a divide error") {
    val r = Analytics.anova(Seq(("a", 1), ("a", 2)).toDF("g", "v"),
      col("v"), "g").collect().head
    assert(r.isNullAt(r.fieldIndex("f_stat")))
  }

  test("contingencyStats: an independent 2x2 table scores 0 chi2 / 0 MI") {
    val df = (Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(10)(("b", "y"))).toDF("r", "c")
    val r = Analytics.contingencyStats(df, "r", "c").collect().head
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Long]("n_rows") === 40L)
    assert(r.getAs[Double]("chi2") === 0.0)
    assert(r.getAs[Double]("mi_bits") === 0.0)
    assert(r.getAs[Double]("cramers_v") === 0.0)
  }

  test("cohensD: textbook two-group standardized difference") {
    // a=(1,2,3), b=(4,5,6): means 2 and 5, pooled variance 1 → d = −3.
    val df = Seq((1, true), (2, true), (3, true),
      (4, false), (5, false), (6, false)).toDF("v", "ga")
    val r = Analytics.cohensD(df, col("v"), col("ga")).collect().head
    assert(r.getAs[Long]("n_a") === 3L && r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Double]("mean_a") === 2.0)
    assert(r.getAs[Double]("mean_b") === 5.0)
    assert(r.getAs[Double]("cohens_d") === -3.0)
  }

  test("partialCorr: a perfect x~y relation survives controlling for z") {
    // x = y = (1..4), z = (0,1,0,1): r_xy = 1, r_xz = r_yz = √0.2 →
    // partial = (1 − 0.2)/√(0.8·0.8) = 1 exactly.
    val df = Seq((1, 1, 0), (2, 2, 1), (3, 3, 0), (4, 4, 1))
      .toDF("x", "y", "z")
    val r = Analytics.partialCorr(df, "x", "y", "z").collect().head
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Double]("r_xy") === 1.0)
    assert(r.getAs[Double]("r_xz") === 0.447214)
    assert(r.getAs[Double]("r_xy_given_z") === 1.0)
  }

  test("ksTest: disjoint supports give D = 1") {
    val df = Seq((1, true), (2, true), (3, false), (4, false)).toDF("v", "ga")
    val r = Analytics.ksTest(df, col("v"), col("ga")).collect().head
    assert(r.getAs[Long]("na") === 2L && r.getAs[Long]("nb") === 2L)
    assert(r.getAs[Double]("ks_d") === 1.0)
    assert(r.getAs[Double]("ks_stat") === 1.0)
  }

  test("aucRank: tie-aware Mann-Whitney known answer") {
    // pos {2,3} vs neg {1,2}: pairwise wins 3 + one tie (0.5) of 4 pairs
    // → AUC = 0.875; the tied score 2 exercises the average-rank term.
    val df = Seq((1, false), (2, false), (2, true), (3, true)).toDF("v", "p")
    val r = Analytics.aucRank(df, col("v"), col("p")).collect().head
    assert(r.getAs[Long]("n_pos") === 2L && r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Double]("auc") === 0.875)
    // all-positive input → null AUC, not a divide error
    val deg = Analytics.aucRank(Seq((1, true), (2, true)).toDF("v", "p"),
      col("v"), col("p")).collect().head
    assert(deg.isNullAt(deg.fieldIndex("auc")))
  }

  test("benford: digit binning is string-exact and the spine fills zeros") {
    val df = Seq(1.0, 1.5, 2.3, 9.9).toDF("m")
    val out = Analytics.benford(df, "m").collect()
    assert(out.length === 9)
    val byDigit = out.map(r => r.getAs[Int]("digit") ->
      (r.getAs[Long]("n_obs"), r.getAs[Double]("obs_share"))).toMap
    assert(byDigit(1) === ((2L, 0.5)))
    assert(byDigit(2) === ((1L, 0.25)))
    assert(byDigit(9) === ((1L, 0.25)))
    assert(byDigit(3) === ((0L, 0.0)))
    // log10(2) ≈ 0.30103 — the canonical Benford first-digit share
    assert(out.find(_.getAs[Int]("digit") == 1).get
      .getAs[Double]("exp_share") === 0.30103)
  }

  test("assocRules: support/confidence/lift on three hand baskets") {
    // baskets {A,B}, {A,B}, {A,C}; the duplicate (1,1) line must collapse
    // in the DISTINCT item set. lift is 1.0 for both pairs by design.
    val part = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("p_partkey", "p_brand")
    val li = Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L)).toDF("l_orderkey", "l_partkey")
    val out = Analytics.assocRules(li, part)
      .as[(String, String, Long, Double, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("A", "B", 2L, 0.666667, 0.666667, 1.0),
      ("A", "C", 1L, 0.333333, 0.333333, 1.0)))
  }

  test("acfDaily: a perfectly linear series has ACF 1 at every usable lag") {
    val df = Seq(("2024-01-01", 0.01), ("2024-01-02", 0.02),
      ("2024-01-03", 0.03), ("2024-01-04", 0.04))
      .toDF("d", "o_totalprice")
      .selectExpr("CAST(d AS DATE) AS o_orderdate", "o_totalprice")
    val out = Analytics.acfDaily(df, 3).collect()
    assert(out.map(_.getAs[Long]("lag")).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("n_pairs")).toSeq === Seq(3L, 2L, 1L))
    assert(out(0).getAs[Double]("acf") === 1.0)
    assert(out(1).getAs[Double]("acf") === 1.0)
    // a single pair has zero variance → null, not a divide error
    assert(out(2).isNullAt(out(2).fieldIndex("acf")))
  }

  test("dailyRevenue: exact DECIMAL day sums, UTC day edges, empty input") {
    val orders = Seq(("2024-01-01 08:00:00", 0.1), ("2024-01-01 17:30:00", 0.2),
      ("2024-01-02 23:59:59.999999", 5.55), ("2024-01-03 00:00:00", 1.01))
      .toDF("ts_s", "o_totalprice")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS o_orderdate", "o_totalprice")
    // as doubles the first day would not be 0.3; the DECIMAL sum is
    assert(0.1 + 0.2 != 0.3)
    val dt = Analytics.dailyRevenue(orders).orderBy("day")
      .as[(java.sql.Date, java.math.BigDecimal)].collect().toSeq
    assert(dt.map { case (d, v) => (d.toString, v) } === Seq(
      ("2024-01-01", new java.math.BigDecimal("0.30")),
      ("2024-01-02", new java.math.BigDecimal("5.55")),
      ("2024-01-03", new java.math.BigDecimal("1.01"))))
    val cents = Analytics.dailyCents(orders, "c").orderBy("day")
      .as[(java.sql.Date, Long)].collect().map(_._2).toSeq
    assert(cents === Seq(30L, 555L, 101L))
    val dec = Analytics.dailyCents(orders, "c", DecimalType(18, 0))
    assert(dec.schema("c").dataType === DecimalType(18, 0))
    assert(dec.orderBy("day").collect().map(_.getDecimal(1)).toSeq ===
      Seq(30L, 555L, 101L).map(java.math.BigDecimal.valueOf))
    assert(Analytics.dailyRevenue(orders.limit(0)).count() === 0L)
  }

  test("harmonicPower: the first-day scalar attach adds no Spark job") {
    // 14 jobs with the first day attached as a broadcast cross join
    val orders = Tables.orders(spark, sfDir)
    val jobs = jobsDuring { Analytics.harmonicPower(orders).collect() }
    CacheScope.drain()
    assert(jobs.size <= 14, s"${jobs.size} jobs")
  }

  test("olsTrend: exact line recovered; intercept is the first-month level") {
    // one segment, monthly revenue 2, 4, 6 → slope 2/month, intercept 2
    // (the level at the group's FIRST month after the exact shift), R²=1.
    val cust = Seq((1L, "SEG")).toDF("c_custkey", "c_mktsegment")
    val orders = Seq(("1995-01-15", 2.0), ("1995-02-15", 4.0),
      ("1995-03-15", 6.0))
      .toDF("d", "o_totalprice")
      .selectExpr("1 AS o_custkey", "CAST(d AS DATE) AS o_orderdate",
        "o_totalprice")
    val r = Analytics.olsTrend(orders, cust).collect().head
    assert(r.getAs[String]("segment") === "SEG")
    assert(r.getAs[Long]("n_months") === 3L)
    assert(r.getAs[Double]("slope") === 2.0)
    assert(r.getAs[Double]("intercept") === 2.0)
    assert(r.getAs[Double]("r2") === 1.0)
  }

  test("dowSeasonality: a flat series indexes 1.0 on every weekday") {
    // Mondays average 3 and the lone Tuesday is 3 → both indexes exactly 1.
    val orders = Seq(("2024-01-01", 2.0), ("2024-01-08", 4.0),
      ("2024-01-02", 3.0)).toDF("d", "o_totalprice")
      .selectExpr("CAST(d AS DATE) AS o_orderdate", "o_totalprice")
    val out = Analytics.dowSeasonality(orders)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out === Seq((1, 2L, 3.0, 1.0), (2, 1L, 3.0, 1.0)))
  }

  test("cusumChangepoint: exact argmax day and magnitude") {
    // daily cents (1,1,1,5), mean 2: D_t = 4·pre − t·8 = (−4,−8,−12,0) →
    // argmax |D| is day 3, CUSUM = −12/4 cents = −0.03 currency.
    val orders = Seq(("2024-01-01", 0.01), ("2024-01-02", 0.01),
      ("2024-01-03", 0.01), ("2024-01-04", 0.05))
      .toDF("d", "o_totalprice")
      .selectExpr("CAST(d AS DATE) AS o_orderdate", "o_totalprice")
    val r = Analytics.cusumChangepoint(orders).collect().head
    assert(r.getAs[java.sql.Date]("day").toString === "2024-01-03")
    assert(r.getAs[Long]("n_days") === 4L)
    assert(r.getAs[Double]("cusum") === -0.03)
  }

  test("pagerankTransitions: a symmetric 2-cycle fixes at exactly 500000 ppm") {
    // u1 contributes A→B, u2 contributes B→A; the integer update
    // 150000/2 + (850·500000·1) div (1000·1) = 500000 is a fixed point,
    // so all 10 iterations leave it bit-identical.
    val e = events(
      (1L, 1L, "2024-01-01 00:00:00", "A"),
      (1L, 2L, "2024-01-01 00:00:10", "B"),
      (2L, 3L, "2024-01-01 00:00:00", "B"),
      (2L, 4L, "2024-01-01 00:00:10", "A"))
    val out = Analytics.pagerankTransitions(e)
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(("A", 500000L, 0.5), ("B", 500000L, 0.5)))
  }

  test("robustTrend: Theil–Sen ignores the outlier month the OLS can't") {
    // monthly cents (1,2,3,10): the 6 pairwise slopes in currency are
    // (.01,.01,.03,.01,.04,.07) → median .02; Mann–Kendall S = 6 of 6
    // concordant pairs, var = 4·3·13/18, z = 5/sqrt(var) → 1.698416 (6dp).
    val cust = Seq((1L, "SEG")).toDF("c_custkey", "c_mktsegment")
    val orders = Seq(("1995-01-15", 0.01), ("1995-02-15", 0.02),
      ("1995-03-15", 0.03), ("1995-04-15", 0.10))
      .toDF("d", "o_totalprice")
      .selectExpr("1 AS o_custkey", "CAST(d AS DATE) AS o_orderdate",
        "o_totalprice")
    val r = Analytics.robustTrend(orders, cust).collect().head
    assert(r.getAs[Long]("n_months") === 4L)
    assert(r.getAs[Long]("n_pairs") === 6L)
    assert(r.getAs[Double]("ts_slope") === 0.02)
    assert(r.getAs[Long]("s_stat") === 6L)
    assert(r.getAs[Double]("mk_z") === 1.698416)
  }

  test("spearman: reversal gives −1; ties take average ranks") {
    val rev = Analytics.spearman(
      Seq((1, 3), (2, 2), (3, 1)).toDF("x", "y"), "x", "y").collect().head
    assert(rev.getAs[Long]("n_rows") === 3L)
    assert(rev.getAs[Double]("rho") === -1.0)
    // x = (1,1,2) ties at rank 1.5: doubled ranks (3,3,6) vs (2,4,6)
    // → ρ = 18/√(18·24) = 0.866025 (6dp), the textbook tie-corrected value.
    val tie = Analytics.spearman(
      Seq((1, 1), (1, 2), (2, 3)).toDF("x", "y"), "x", "y").collect().head
    assert(tie.getAs[Double]("rho") === 0.866025)
  }

  test("weightedPercentiles: crossing rule on a hand-weighted set") {
    // v (10,20,30) with weights (1,1,6), W=8: 4·cumw≥8 first at v=20,
    // 2·cumw≥8 and 4·cumw≥24 first at v=30.
    val df = Seq((10, 1), (20, 1), (30, 6)).toDF("v", "w")
    val r = Analytics.weightedPercentiles(df, "v", "w").collect().head
    assert(r.getAs[Long]("total_weight") === 8L)
    assert(r.getAs[Double]("wp25") === 20.0)
    assert(r.getAs[Double]("wp50") === 30.0)
    assert(r.getAs[Double]("wp75") === 30.0)
  }

  test("runsTest: alternating series counts every change as a run") {
    // daily cents 1,2,1,2,1 → signs (+,−,+,−): 4 runs, n₊=n₋=2,
    // μ = 2·2·2/4+1 = 3, σ² = 8·4/(16·3) = 2/3, z = (4−3)/√(2/3).
    val orders = Seq(("2024-01-01", 0.01), ("2024-01-02", 0.02),
      ("2024-01-03", 0.01), ("2024-01-04", 0.02), ("2024-01-05", 0.01))
      .toDF("d", "o_totalprice")
      .selectExpr("CAST(d AS DATE) AS o_orderdate", "o_totalprice")
    val r = Analytics.runsTest(orders).collect().head
    assert(r.getAs[Long]("n_pos") === 2L && r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("n_runs") === 4L)
    assert(r.getAs[Double]("z") === 1.224745)
  }

  test("mixEntropy: uniform 4-way mix is exactly 2 bits / 4 effective") {
    // p=0.25 each → every term is −0.25·log2(0.25) = 0.5 exactly, so the
    // 6dp-round + decimal-sum path is tie-free: H = 2, 2^H = 4. Nulls
    // must not count as a category.
    val df = (Seq("a", "a", "b", "b", "c", "c", "d", "d")
      .map(Option(_)) :+ Option.empty[String]).toDF("src")
    val r = Analytics.mixEntropy(df, "src").collect().head
    assert(r.getAs[Long]("n_cats") === 4L)
    assert(r.getAs[Double]("entropy_bits") === 2.0)
    assert(r.getAs[Double]("effective_cats") === 4.0)
  }
}
