package graft.operators

import graft.Scratch
import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheScope.TrackedDataset

/** Sketch-based approximate analytics — the 100 TB substitutes for exact
  * one-liners that stop being runnable at scale:
  *
  *  - COUNT(DISTINCT x) keeps a per-group hash set → executor OOM on a
  *    high-cardinality column; HyperLogLog++ (`approx_count_distinct`)
  *    keeps a fixed few-KB register array, merges associatively, and is
  *    deterministic for a given dataset (hash-based, order-independent).
  *  - exact `percentile` buffers every value (the same OOM — the reason
  *    Analytics.exactPercentiles exists); `percentile_approx` keeps a
  *    bounded Greenwald-Khanna summary with a rank-error guarantee.
  *
  * Oracle shape: a static DuckDB query cannot reproduce Spark's sketch
  * internals, so each query emits the EXACT statistic (hash-compared as
  * usual) alongside a within-tolerance BOOLEAN the oracle pins to TRUE —
  * the sketch's error contract is what's being gated, at every sf the
  * driver runs. The exact twin inside the query doubles as the
  * cross-check that the sketch saw the same data.
  */
object Sketches extends QueryModule {

  /** HLL++ distinct-count vs exact, with the 2% contract (rsd = 0.01).
    * The exact side uses count over the distinct key frame — fine at test
    * scale and it is precisely the thing the sketch replaces in production.
    *
    * Both aggregates run over the DEDUPED key frame, not the raw rows:
    * mixing `count(DISTINCT x)` with `approx_count_distinct(x)` in ONE
    * aggregate makes Catalyst's distinct-rewrite keep the FULL 1639-word
    * HLL++ register buffer PER DISTINCT KEY in the partial aggregate
    * (plan audit r14: `Results [1640]` per group — ~13 KB of agg state
    * per key, GBs at scale, and a 200 KB plan string). HLL registers
    * depend only on the SET of hashed values, so the sketch over the
    * distinct frame is bit-identical to the sketch over the raw rows
    * (both ignore NULLs, matching count(DISTINCT)'s null handling).
    */
  def approxDistinct(df: DataFrame, c: String, tol: Double): DataFrame =
    df.filter(col(c).isNotNull).select(col(c)).distinct()
      .agg(
        count(lit(1)).as("exact_distinct"),
        approx_count_distinct(col(c), 0.01).as("__approx"))
      .select(col("exact_distinct"),
        (abs(col("__approx") - col("exact_distinct")) <=
          col("exact_distinct").cast("double") * tol).as("within_tol"))

  /** GK-sketch median vs the distributed exact percentile (accuracy
    * 10000 → rank error ≤ n/10000), with a 1% value-tolerance contract.
    */
  def approxMedian(df: DataFrame, c: String, tol: Double): DataFrame = {
    val approx = df.agg(
      percentile_approx(col(c).cast("double"), lit(0.5), lit(10000)).as("__approx"))
    Analytics.exactPercentiles(df, c, Seq("exact_p50" -> 0.5))
      .crossJoin(broadcast(approx))
      .select(col("exact_p50"),
        (abs(col("__approx") - col("exact_p50")) <=
          abs(col("exact_p50")) * tol).as("within_tol"))
  }

  /** Two-pass EXACT heavy hitters: a Misra-Gries candidate sweep (bounded
    * state — see [[graft.functions.MisraGriesAggregator]]) followed by an
    * exact recount restricted to the candidates. Output = exactly the
    * items with freq ≥ n/k, with exact counts — but unlike the naive
    * groupBy-everything, no stage ever shuffles distinct-cardinality
    * state: pass 1 merges fixed-size summaries to one row, pass 2
    * semi-joins the broadcast candidate list (≤ capacity entries) before
    * counting, so only candidate rows reach the exchange. capacity = 4k
    * keeps the MG retention bound n/(4k+1) strictly below the n/k output
    * threshold for any data.
    */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAggregator(4 * k),
      org.apache.spark.sql.Encoders.STRING)
    // candidates carry n_total along (exploded from the same single-row
    // aggregate) so pass 1 is consumed exactly once — two scans total.
    val candidates = items
      .agg(mg(col(itemCol)).as("cand"), count(lit(1)).as("n_total"))
      .select(explode(col("cand")).as(itemCol), col("n_total"))
    items.join(broadcast(candidates), Seq(itemCol)) // keys unique: no fan-out
      .groupBy(col(itemCol), col("n_total"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") * k >= col("n_total"))
      .select(col(itemCol), col("freq"))
      .orderBy(desc("freq"), col(itemCol))
  }

  /** COUNT-MIN SKETCH (Cormode & Muthukrishnan 2005) over part
    * frequencies: d deterministic md5 hash rows × w counters — the
    * fixed-size, MERGEABLE frequency summary for point queries with a
    * strictly ONE-SIDED error (est ≥ exact; E[err] ≤ N/w per row, the
    * min over d rows collapses the tail) — the streaming/monitoring
    * companion to q_heavy_hitters' exact top-k when even the key frame
    * is too hot to keep. Released: the k heaviest parts with exact
    * count, CMS estimate, and the non-negative overestimate — the
    * honest collision-cost readout at this (d, w).
    *
    * Determinism: bucket = first-8-hex-digits of md5("r:key") mod w on
    * both engines. Scale posture: exact per-key counts first (one
    * map-side-combined shuffle, key-cardinality bounded); the sketch
    * build explodes d cells per KEY (never per corpus row) into d·w
    * counters; the probe joins the k-key frame to the d·w-cell sketch
    * on (row, bucket). The sketch is d·w longs at ANY corpus size, and
    * merging shards is cellwise addition — the mergeability CMS exists
    * for.
    */
  /** CMS bucket for hash row r: first-8-hex-digits of md5("r:key")
    * mod w — shared by the batch build, the streaming twin, and (as the
    * same literal recipe) the DuckDB oracles.
    */
  def cmsBucket(r: Int, key: org.apache.spark.sql.Column,
                w: Int = 512): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws(":", lit(r.toString),
      key.cast("string"))), 1, 8), 16, 10).cast("long") % w

  /** Probe a (r, bucket, cell) sketch frame with the k heaviest keys of
    * an exact (key, cnt) frame: est = min over the d rows' cells.
    */
  def cmsProbe(cells: DataFrame, exact: DataFrame,
               d: Int, k: Int): DataFrame = {
    val top = exact.orderBy(desc("cnt"), col("key")).limit(k)
    val probes = top.select(col("key"), col("cnt"),
        explode(array((0 until d).map(r =>
          struct(lit(r).as("r"),
            cmsBucket(r, col("key")).as("bucket"))): _*)).as("p"))
      .select(col("key"), col("cnt"),
        col("p.r").as("r"), col("p.bucket").as("bucket"))
    probes.join(cells, Seq("r", "bucket"))
      .groupBy("key", "cnt")
      .agg(min(col("cell")).as("cms_est"))
      .select(col("key"), col("cnt").as("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overestimate"))
      .orderBy(desc("exact_cnt"), col("key"))
  }

  def countMin(items: DataFrame, keyCol: String,
               d: Int = 4, w: Int = 512, k: Int = 10): DataFrame = {
    val exact = items.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt")).persistTracked()
    val cells = exact.select(explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmsBucket(r, col("key"), w).as("bucket"),
          col("cnt"))): _*))
        .as("e"))
      .groupBy(col("e.r").as("r"), col("e.bucket").as("bucket"))
      .agg(sum(col("e.cnt")).as("cell"))
    cmsProbe(cells, exact, d, k)
  }

  def entries: Seq[Q] = Seq(
    // Count-min point-query readout for the 10 heaviest parts (d=4,
    // w=512 deterministic md5 rows; one-sided overestimate gated ≥ 0).
    // identical md5 bucket scheme — the CMS here is fully deterministic,
    // so the oracle replays the sketch exactly, not just its error bound
    Q("q_countmin", { (s, d) =>
      countMin(Tables.lineitem(s, d), "l_partkey")
    },
      """WITH exact AS (
        | SELECT l_partkey AS key, count(*) AS cnt FROM lineitem
        | GROUP BY 1),
        |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |cells AS (
        | SELECT r,
        |  CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |    CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS bucket,
        |  CAST(sum(cnt) AS BIGINT) AS cell
        | FROM exact, rs GROUP BY 1, 2),
        |top AS (SELECT key, cnt FROM exact ORDER BY cnt DESC, key LIMIT 10),
        |probes AS (
        | SELECT key, cnt, r,
        |  CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |    CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS bucket
        | FROM top, rs)
        |SELECT p.key AS key, CAST(p.cnt AS BIGINT) AS exact_cnt,
        | CAST(min(c.cell) AS BIGINT) AS cms_est,
        | CAST(min(c.cell) - p.cnt AS BIGINT) AS overestimate
        |FROM probes p JOIN cells c USING (r, bucket)
        |GROUP BY p.key, p.cnt ORDER BY exact_cnt DESC, key""".stripMargin),
    Q("q_approx_distinct", { (s, d) =>
      approxDistinct(Tables.orders(s, d), "o_custkey", 0.02)
    },
      """SELECT count(DISTINCT o_custkey) AS exact_distinct,
        | TRUE AS within_tol
        |FROM orders""".stripMargin),
    // SKETCH RE-AGGREGATION (the pre-aggregated-sketch-table pattern):
    // materialize one DataSketches HLL per year, then roll the TOTAL
    // distinct-user estimate up from the sketches alone — no second scan
    // of the fact. At 100 TB this is how distinct-count dashboards work:
    // per-partition sketch rows (a few KB each) are the only thing ever
    // re-read, and any grouping subset unions in sketch space. Gated with
    // the boolean contract at both levels (per-year and rolled-up, 5%).
    Q("q_hll_rollup", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(year(col("ts")).as("yr"), col("user_id"))
      val perYear = ev.groupBy("yr")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("exact_users"))
        .persistTracked()
      val years = perYear.select(col("yr"), col("exact_users"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05).as("within_tol"))
      val exactTotal = ev.agg(count_distinct(col("user_id")).as("exact_users"))
      val rolled = perYear
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(exactTotal))
        .select(lit(-1).as("yr"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.05).as("within_tol"))
      years.unionByName(rolled).orderBy("yr")
    },
      """SELECT CAST(year(ts) AS INTEGER) AS yr,
        | count(DISTINCT user_id) AS exact_users, TRUE AS within_tol
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT -1 AS yr, count(DISTINCT user_id) AS exact_users,
        | TRUE AS within_tol
        |FROM events
        |ORDER BY yr""".stripMargin),
    // CROSS-LOAD SKETCH STORE — the incremental-distinct twin of
    // q_dedup_incremental: load 1's per-key HLL sketches persist to a
    // compact parquet store (one binary row per key); load 2 builds its
    // own sketches and hll_union_aggs them with the store — the FULL
    // distinct count per key without ever rescanning load 1. At 100 TB
    // this is the only viable daily-distinct pipeline: each load touches
    // only its own rows plus a key-cardinality-sized sketch table.
    // Gated with the exact twin over both loads + the 5% HLL contract.
    Q("q_hll_incremental", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("event_id"))
      val storePath = Scratch.dir("hll_store")
      ev.filter(col("event_id") % 2 === 0)
        .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk"))
        .write.mode("overwrite").parquet(storePath)
      val merged = ev.filter(col("event_id") % 2 =!= 0)
        .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk"))
        .unionByName(s.read.parquet(storePath))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"))
        .join(broadcast(merged), Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.05).as("within_tol"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | TRUE AS within_tol
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // CROSS-LOAD QUANTILE SKETCH STORE — the q_hll_incremental pattern
    // for quantiles, closing the symmetry the KLL family was built for:
    // load 1's per-type KLL states persist to a compact parquet store
    // (one array<array<double>> row per key); load 2 builds its own
    // sketches and unions them with the store — full-corpus quantile
    // estimates without ever rescanning load 1. Gated per type with the
    // exact-rank contract over BOTH loads (exact medians from the
    // grouped X4 frame; the sketch's rank guarantee is merge-order-
    // independent, so re-loading from parquet cannot weaken it).
    Q("q_kll_incremental", { (s, d) =>
      val kllB = udaf(new graft.functions.KllAggregator(512),
        org.apache.spark.sql.Encoders.scalaDouble)
      val kllU = udaf(new graft.functions.KllMergeAggregator(512),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[Seq[Double]]]())
      val est = udf((sk: Seq[Seq[Double]]) =>
        graft.functions.Kll.quantile(sk, 0.5))
      val ev = Tables.events(s, d)
        .select(col("event_type").as("grp"),
          col("value").cast("double").as("x"), col("event_id"))
      val storePath = Scratch.dir("kll_store")
      ev.filter(col("event_id") % 2 === 0)
        .groupBy("grp").agg(kllB(col("x")).as("sk"))
        .write.mode("overwrite").parquet(storePath)
      val merged = ev.filter(col("event_id") % 2 =!= 0)
        .groupBy("grp").agg(kllB(col("x")).as("sk"))
        .unionByName(s.read.parquet(storePath))
        .groupBy("grp").agg(kllU(col("sk")).as("sk"))
        .select(col("grp"), est(col("sk")).as("e"))
      val base = ev.select("grp", "x")
      val rank = base.join(broadcast(merged), Seq("grp"))
        .groupBy("grp", "e")
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("e"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("x") <= col("e"), 1L).otherwise(0L)).as("le"))
      val tolc = (col("lt") <= lit(0.52) * col("n")) &&
        (col("le") >= lit(0.48) * col("n"))
      Analytics.groupedExactPercentiles(base, "grp", "x",
          Seq("exact_p50" -> 0.5))
        .join(rank, Seq("grp"))
        .select(col("grp"), col("exact_p50"), tolc.as("within_tol"))
        .orderBy("grp")
    },
      """SELECT event_type AS grp,
        | quantile_cont(CAST(value AS DOUBLE), 0.5) AS exact_p50,
        | TRUE AS within_tol
        |FROM events GROUP BY 1 ORDER BY grp""".stripMargin),
    // Exact ≥1%-frequency tokens over the corpus (k=100): the tokenizer /
    // vocabulary-pruning primitive, shaped for columns whose distinct
    // count dwarfs executor memory.
    Q("q_heavy_hitters", { (s, d) =>
      heavyHitters(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token")),
        "token", k = 100)
    },
      """WITH tok AS (
        | SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |               t -> t <> '')) AS token
        | FROM documents),
        |n AS (SELECT count(*) AS n_total FROM tok)
        |SELECT token, count(*) AS freq
        |FROM tok, n GROUP BY token, n_total HAVING count(*) * 100 >= n_total
        |ORDER BY freq DESC, token""".stripMargin),
    Q("q_approx_median", { (s, d) =>
      approxMedian(Tables.lineitem(s, d), "l_extendedprice", 0.01)
    },
      """SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS exact_p50,
        | TRUE AS within_tol
        |FROM lineitem""".stripMargin),
    // MERGEABLE quantile sketch (KLL-class — functions/Kll.scala): the GK
    // summary behind q_approx_median cannot re-aggregate; this one can.
    // One sketch over lineitem prices, three quantiles gated via EXACT
    // rank intervals at the deterministic 2% contract (ε = H/(2k), k=512).
    // The rank gate is the honest one for a quantile sketch: |true rank of
    // the estimate − q| ≤ ε, checked against [count(<est), count(≤est)] so
    // ties can't fail a correct sketch.
    Q("q_kll_quantiles", { (s, d) =>
      val kll = udaf(new graft.functions.KllAggregator(512),
        org.apache.spark.sql.Encoders.scalaDouble)
      val est = udf((sk: Seq[Seq[Double]], q: Double) =>
        graft.functions.Kll.quantile(sk, q))
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("x"))
      val sk = li.agg(kll(col("x")).as("sk"), count(lit(1)).as("n"))
      val ests = sk.select(col("n"),
        est(col("sk"), lit(0.1)).as("e10"),
        est(col("sk"), lit(0.5)).as("e50"),
        est(col("sk"), lit(0.9)).as("e90"))
      val ranks = li.crossJoin(broadcast(ests))
        .groupBy("n", "e10", "e50", "e90")
        .agg(
          sum(when(col("x") < col("e10"), 1L).otherwise(0L)).as("lt10"),
          sum(when(col("x") <= col("e10"), 1L).otherwise(0L)).as("le10"),
          sum(when(col("x") < col("e50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("x") <= col("e50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("x") < col("e90"), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("x") <= col("e90"), 1L).otherwise(0L)).as("le90"))
      def tol(q: Double, lt: String, le: String) =
        (col(lt) <= (lit(q) + 0.02) * col("n")) &&
          (col(le) >= (lit(q) - 0.02) * col("n"))
      Analytics.exactPercentiles(li, "x",
          Seq("exact_p10" -> 0.1, "exact_p50" -> 0.5, "exact_p90" -> 0.9))
        .crossJoin(broadcast(ranks))
        .select(col("exact_p10"), col("exact_p50"), col("exact_p90"),
          tol(0.1, "lt10", "le10").as("within_tol_p10"),
          tol(0.5, "lt50", "le50").as("within_tol_p50"),
          tol(0.9, "lt90", "le90").as("within_tol_p90"))
    },
      """SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.1) AS exact_p10,
        | quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS exact_p50,
        | quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS exact_p90,
        | TRUE AS within_tol_p10, TRUE AS within_tol_p50,
        | TRUE AS within_tol_p90
        |FROM lineitem""".stripMargin),
    // SKETCH-SPACE quantile ROLLUP — the q_hll_rollup pattern for medians:
    // per-event-type KLL sketch rows are the ONLY thing the rolled-up
    // estimate reads (levelwise union + re-compact, no second scan of the
    // fact for the estimate itself). Gated per group AND rolled-up with
    // the exact-rank contract; exact medians come from the distributed
    // exact-percentile frame (never sketch-vs-sketch).
    Q("q_kll_rollup", { (s, d) =>
      val kllB = udaf(new graft.functions.KllAggregator(512),
        org.apache.spark.sql.Encoders.scalaDouble)
      val kllU = udaf(new graft.functions.KllMergeAggregator(512),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[Seq[Double]]]())
      val est = udf((sk: Seq[Seq[Double]]) =>
        graft.functions.Kll.quantile(sk, 0.5))
      val ev = Tables.events(s, d)
        .select(col("event_type").as("grp"), col("value").cast("double").as("x"))
      // (r14: measured eagerTracked here — 2.69 → 3.16 s steady, WORSE:
      // the construction-time count serializes the KLL build against the
      // concurrent exact-percentile branches, same as the r13
      // minhashNearDups rejection. Lazy persist kept.)
      val perGrp = ev.groupBy("grp")
        .agg(kllB(col("x")).as("sk"), count(lit(1)).as("n"))
        .persistTracked()
      val tolc = (col("lt") <= lit(0.52) * col("n")) &&
        (col("le") >= lit(0.48) * col("n"))
      val estGrp = perGrp.select(col("grp"), est(col("sk")).as("e"), col("n"))
      val rankGrp = ev.join(broadcast(estGrp), Seq("grp"))
        .groupBy("grp", "n", "e")
        .agg(sum(when(col("x") < col("e"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("x") <= col("e"), 1L).otherwise(0L)).as("le"))
      val groups = Analytics
        .groupedExactPercentiles(ev, "grp", "x", Seq("exact_p50" -> 0.5))
        .join(rankGrp, Seq("grp"))
        .select(col("grp"), col("exact_p50"), tolc.as("within_tol"))
      val estTot = perGrp.agg(kllU(col("sk")).as("sk"))
        .select(est(col("sk")).as("e"))
      val rankTot = ev.crossJoin(broadcast(estTot))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("e"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("x") <= col("e"), 1L).otherwise(0L)).as("le"))
      val total = Analytics.exactPercentiles(ev, "x", Seq("exact_p50" -> 0.5))
        .crossJoin(broadcast(rankTot))
        .select(lit("(all)").as("grp"), col("exact_p50"),
          tolc.as("within_tol"))
      groups.unionByName(total).orderBy("grp")
    },
      """SELECT event_type AS grp,
        | quantile_cont(CAST(value AS DOUBLE), 0.5) AS exact_p50,
        | TRUE AS within_tol
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT '(all)' AS grp,
        | quantile_cont(CAST(value AS DOUBLE), 0.5) AS exact_p50,
        | TRUE AS within_tol
        |FROM events ORDER BY grp""".stripMargin),
    // SKETCH-DRIVEN EQUI-DEPTH RANGE PARTITIONING PLAN — the scale
    // decision the quantile sketch exists to make: 31 boundary values
    // from ONE KLL pass give a skew-aware 32-way range partitioning of
    // the fact (what repartitionByRange's driver-side sampling does, but
    // mergeable — at 100 TB per-partition sketch rows union into the
    // planner without a sample collect). The plan is then MEASURED, not
    // assumed: every row is assigned to its bucket via the broadcast
    // boundary array and the gate pins bucket-share balance to
    // 1/32 ± (2ε + tie slack) where ε = H/(2k) is the sketch's rank
    // bound — a broken compactor yields a 10×-share bucket and fails
    // loudly. Exported values are engine-replicable exacts + pinned
    // booleans (the sketch-oracle convention).
    Q("q_range_boundaries", { (s, d) =>
      val nb = 32
      val kll = udaf(new graft.functions.KllAggregator(512),
        org.apache.spark.sql.Encoders.scalaDouble)
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("x"))
      val sk = li.agg(kll(col("x")).as("sk"), count(lit(1)).as("n"))
        .persistTracked()
      val bounds = udf((sk: Seq[Seq[Double]]) =>
        (1 until nb).map(i =>
          graft.functions.Kll.quantile(sk, i.toDouble / nb)).toArray)
      val b = sk.select(col("n"), bounds(col("sk")).as("bs"))
      val shares = li.crossJoin(broadcast(b))
        .select(col("n"),
          aggregate(col("bs"), lit(0),
            (acc, bd) => acc + when(col("x") >= bd, 1).otherwise(0))
            .as("bucket"))
        .groupBy("bucket", "n").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("nbk"),
          max(col("c").cast("double") / col("n")).as("mx"),
          min(col("c").cast("double") / col("n")).as("mn"))
      sk.select(col("n").as("n_total"))
        .crossJoin(broadcast(shares))
        .select(col("n_total"), lit(nb).as("n_buckets"),
          (col("nbk") === nb).as("all_nonempty"),
          (col("mx") <= 1.0 / nb + 0.03 &&
            col("mn") >= 1.0 / nb - 0.03).as("within_balance"))
    },
      """SELECT count(*) AS n_total, 32 AS n_buckets,
        | TRUE AS all_nonempty, TRUE AS within_balance
        |FROM lineitem""".stripMargin),
    // The OPTIMIZER-REWRITE path to the same sketch: mark one
    // count(DISTINCT) with approx_hint, whose helper installs
    // ApproxDistinctRewrite (GraftExtensions.install puts it in
    // experimental.extraOptimizations; the spark.sql.extensions deployment
    // injects it at session boot), and verify the rewritten aggregate
    // honors the 2% HLL++ contract against the un-hinted exact twin. Two
    // separate Aggregate nodes on purpose: a single node with
    // two distinct groups is expanded by Catalyst's
    // RewriteDistinctAggregates before the end-placed user batch runs
    // (the injected-extension path has no such constraint).
    Q("q_approx_rewrite", { (s, d) =>
      val o = Tables.orders(s, d)
      val exact = o.agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      val approx = o.agg(countDistinct(graft.functions.NativeExpressions
        .approxHint(s, col("o_custkey"))).as("__approx"))
      exact.crossJoin(broadcast(approx))
        .select(col("exact_distinct"),
          (abs(col("__approx") - col("exact_distinct")) <=
            col("exact_distinct").cast("double") * 0.02).as("within_tol"))
    },
      """SELECT count(DISTINCT o_custkey) AS exact_distinct,
        | TRUE AS within_tol
        |FROM orders""".stripMargin),
    // SKETCH-SPACE SET INTERSECTION — |A∩B| ≈ est(A) + est(B) − est(A∪B)
    // (inclusion–exclusion; HLL unions are lossless, intersections are
    // not, so IE is THE production pattern for audience overlap at
    // 100 TB: three sketch reads instead of a user-level join). Sets are
    // time-disjoint by construction (viewers of the first half-window vs
    // purchasers of the second) so the overlap is a real subset. The
    // exact twin (one semi-join at user cardinality) gates the IE error
    // against its union-relative bound; only exact values and the
    // boolean contract cross engines.
    Q("q_hll_intersection", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      val mid = ev.agg(((min(col("day")) + max(col("day"))) / 2)
        .cast("long").as("mid"))
      val evm = ev.crossJoin(broadcast(mid))
      val a = evm.filter(col("event_type") === "view" && col("day") <= col("mid"))
        .select("user_id")
      val b = evm.filter(col("event_type") === "purchase" && col("day") > col("mid"))
        .select("user_id")
      val skA = a.agg(hll_sketch_agg(col("user_id")).as("ska"),
        count_distinct(col("user_id")).as("exact_a"))
      val skB = b.agg(hll_sketch_agg(col("user_id")).as("skb"),
        count_distinct(col("user_id")).as("exact_b"))
      val exactU = a.union(b)
        .agg(count_distinct(col("user_id")).as("exact_union"))
      val exactI = a.distinct()
        .join(b.distinct(), Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("exact_intersection"))
      skA.crossJoin(broadcast(skB)).crossJoin(broadcast(exactU))
        .crossJoin(broadcast(exactI))
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          col("exact_intersection"),
          (abs(hll_sketch_estimate(col("ska")) +
            hll_sketch_estimate(col("skb")) -
            hll_sketch_estimate(hll_union(col("ska"), col("skb"))) -
            col("exact_intersection")) <=
            greatest(col("exact_union").cast("double") * 0.05, lit(5.0)))
            .as("within_tol"))
    },
      """WITH e AS (
        | SELECT user_id, event_type,
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        | FROM events),
        |m AS (SELECT CAST(floor((min(day) + max(day)) / 2.0) AS BIGINT)
        |       AS mid FROM e),
        |a AS (SELECT DISTINCT user_id FROM e, m
        |      WHERE event_type = 'view' AND day <= mid),
        |b AS (SELECT DISTINCT user_id FROM e, m
        |      WHERE event_type = 'purchase' AND day > mid)
        |SELECT (SELECT count(*) FROM a) AS exact_a,
        | (SELECT count(*) FROM b) AS exact_b,
        | (SELECT count(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b))
        |  AS exact_union,
        | (SELECT count(*) FROM a JOIN b USING (user_id))
        |  AS exact_intersection,
        | TRUE AS within_tol""".stripMargin),
    // Count-min sketch frequencies vs exact, gating the classic bound:
    // never under, over by ≤ e/width·N. The sketch pass is the scale
    // path (fixed 4×2048 Long grid per partial, elementwise-add merge);
    // the exact groupBy twin is the cross-check, and the estimate UDF
    // runs only on the post-aggregation rows (one per distinct key) —
    // off the fact-sized hot path, so non-codegen cost is irrelevant.
    Q("q_cms_freq", { (s, d) =>
      val depth = 4; val width = 2048
      val cms = udaf(new graft.functions.CountMinAggregator(depth, width),
        org.apache.spark.sql.Encoders.STRING)
      val sk = Tables.events(s, d)
        .agg(cms(col("event_type")).as("sk"), count(lit(1)).as("n_total"))
      val est = udf((sketch: Seq[Long], k: String) =>
        graft.functions.CountMin.estimate(sketch, depth, width, k))
      Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("exact_n"))
        .crossJoin(broadcast(sk))
        .withColumn("__est", est(col("sk"), col("event_type")))
        .select(col("event_type"), col("exact_n"),
          (col("__est") >= col("exact_n")).as("never_under"),
          // within_eps gates the classic e/width·N bound, which holds per
          // key with probability ~1-e^-depth (~98% at depth 4), not
          // certainty — deterministic for THESE seeds/data (the gate
          // requirement), but changing depth/width, the seed constant, or
          // the generator can legitimately flip it; that's a parameter
          // change surfacing the probabilistic bound, not a sketch bug.
          // The ×4 slack keeps the gate specific (a broken sketch is off
          // by orders of magnitude, not 4×) while absorbing the tail of
          // the probabilistic bound under parameter tweaks (ADVICE r6).
          ((col("__est") - col("exact_n")).cast("double") <=
            col("n_total").cast("double") * (4.0 * math.E / width)).as("within_eps"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS exact_n,
        | TRUE AS never_under, TRUE AS within_eps
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
