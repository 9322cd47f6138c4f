package graft.operators

import graft.Scratch
import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dataset-evolution operators: snapshot-to-snapshot change classification
  * (the CDC audit every incremental load needs before it trusts an append)
  * and cumulative distinct-entity reach over time (the "how fast is the
  * corpus/user base growing" curve). Extends the reference's idempotent
  * re-load posture (`dags/etl_crash_traffic.py:619-624` skips already-
  * loaded ids) with the diff report that says WHAT changed between loads.
  */
object Evolution extends QueryModule {

  /** Classify every key across two snapshots of the orders table:
    * `added` (only in B), `removed` (only in A), `changed` (both, payload
    * differs), `unchanged`. Snapshots are carved deterministically from
    * the one table: A drops keys ≡ 0 (mod 13) [so they surface as added],
    * B drops keys ≡ 0 (mod 11) [removed] and bumps o_totalprice by 1.0 on
    * keys ≡ 0 (mod 7) [changed].
    *
    * Scale posture: ONE full-outer hash join on the key, then a
    * map-side-combined 4-group count — the minimal shape for a diff. At
    * 100 TB both snapshots would be bucketed by key on disk, making the
    * join exchange-free; payload compare is column-level (no row-hash
    * materialization, no concat of wide rows through the shuffle — only
    * the compared columns are read, so the parquet scan prunes the rest).
    */
  def tableDiff(orders: DataFrame): DataFrame = {
    val base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    val snapA = base.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status_a"),
        col("o_totalprice").as("price_a"))
    val snapB = base.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status_b"),
        (when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice"))).as("price_b"))
    snapA.join(snapB, Seq("o_orderkey"), "full_outer")
      .select(
        when(col("status_a").isNull, "added")
          .when(col("status_b").isNull, "removed")
          .when(col("status_a") =!= col("status_b") ||
            col("price_a") =!= col("price_b"), "changed")
          .otherwise("unchanged").as("change_class"))
      .groupBy("change_class").agg(count(lit(1)).as("cnt"))
      .orderBy("change_class")
  }

  /** Per-day new and cumulative distinct users over the events stream:
    * first-seen date per user (one map-side-combined min-agg), then a
    * day-level count + running sum. The unpartitioned ORDER BY window
    * runs over the DAY-cardinality frame (a few thousand rows at any
    * corpus size), never over events — the standard spine trick this
    * repo uses for every cumulative (q_rolling_revenue, q_ewma_daily).
    */
  def cumulativeDistinctUsers(events: DataFrame): DataFrame = {
    val firstSeen = events.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("d"))
    val daily = firstSeen.groupBy("d").agg(count(lit(1)).as("new_users"))
    daily
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("d")
  }

  /** Data-quality expectation suite: named boolean rules evaluated in
    * ONE scan (each rule a conditional count inside a single aggregate —
    * a per-rule pass would scan the fact N times), then unpivoted to the
    * (rule, violations, pass) report every ingest gate publishes before
    * promoting a load.
    */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n_total") +:
      rules.map { case (name, ok) =>
        sum(when(!coalesce(ok, lit(false)), 1L).otherwise(0L)).as(name)
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.map { case (name, _) =>
      s"'$name', `$name`"
    }.mkString(", ")
    one.selectExpr("n_total",
        s"stack(${rules.size}, $stacked) AS (rule, violations)")
      .select(col("rule"), col("violations"),
        col("n_total"), (col("violations") === 0).as("pass"))
      .orderBy("rule")
  }

  /** Per-key freshness audit over the events stream: row count, latest
    * event, and staleness (minutes behind the globally freshest event).
    * The ops dashboard for "is some source wedged?" — one
    * map-side-combined aggregate plus a broadcast scalar.
    */
  def freshness(events: DataFrame): DataFrame = {
    // persisted (key-cardinality rows): feeds both the global max and
    // the report — unpersisted, the events scan+aggregate ran twice
    import graft.CacheScope.TrackedDataset
    val perKey = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"))
      .persistTracked()
    val global = perKey.agg(max(col("max_ts")).as("g_ts"))
    perKey.crossJoin(broadcast(global))
      .select(col("event_type"), col("n"), col("max_ts"),
        // explicit floor on whole seconds: cast-to-long truncates on the
        // Spark side where DuckDB's double→int cast ROUNDS — floor both
        floor((col("g_ts").cast("long") - col("max_ts").cast("long")) /
          lit(60.0)).cast("long").as("lag_minutes"))
      .orderBy("event_type")
  }

  /** k-anonymity audit over a quasi-identifier set: group sizes below k
    * are re-identification risks (Sweeney 2002). One map-side-combined
    * groupBy to the QI-combination frame, then a scalar report — the
    * privacy pre-flight a dataset release runs alongside the PII scan.
    */
  def kAnonymity(df: DataFrame, quasi: Seq[Column], k: Int): DataFrame =
    df.groupBy(quasi: _*).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("cnt") < k, 1L)), lit(0L)).as("n_risky_groups"),
        coalesce(sum(when(col("cnt") < k, col("cnt"))), lit(0L))
          .as("n_risky_rows"))
      .select(lit(k).as("k"), col("n_groups"), col("n_risky_groups"),
        col("n_risky_rows"))

  /** l-diversity audit (Machanavajjhala et al. 2007): k-anonymity's
    * complement — a QI group of ANY size whose sensitive attribute takes
    * too few distinct values still leaks ("everyone in this group has the
    * same diagnosis"). Per-QI-group distinct-sensitive counts, then a
    * scalar report. Scale: countDistinct expands to the standard
    * two-level aggregate (distinct (QI, sensitive) pairs map-side, then
    * the group roll-up) — both frames are QI-cardinality-bounded.
    */
  def lDiversity(df: DataFrame, quasi: Seq[Column], sensitive: Column,
                 l: Int): DataFrame =
    df.groupBy(quasi: _*)
      .agg(countDistinct(sensitive).as("div"), count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("div") < l, 1L)), lit(0L))
          .as("n_low_div_groups"),
        coalesce(sum(when(col("div") < l, col("cnt"))), lit(0L))
          .as("n_rows_at_risk"),
        min(col("div")).as("min_diversity"))
      .select(lit(l).as("l"), col("n_groups"), col("n_low_div_groups"),
        col("n_rows_at_risk"), col("min_diversity"))

  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007): the third
    * syntactic-privacy gate — a QI group can be large (k-anonymous) and
    * diverse (l-diverse) and still leak when its sensitive-attribute
    * DISTRIBUTION diverges from the table's ("this group skews heavily
    * into the top balance bucket"). Per-group distance to the global
    * distribution must stay ≤ t; for an unordered categorical sensitive
    * attribute the paper's EMD reduces to total-variation distance
    * 0.5·Σ_v |p_g(v) − p(v)|. Values absent from a group still
    * contribute p(v), folded in closed form: TV = (1 + Σ_{v∈g}(|p_g−p|
    * − p)) / 2 — so the join only ever touches observed (group, value)
    * pairs.
    *
    * Float determinism: each per-value term rounds to 6dp DECIMAL before
    * the order-independent per-group decimal sum (the q_lm_score fold);
    * the p's are single double divisions of exact longs.
    * Scale posture: every frame is (QI × value)-cardinality or smaller;
    * the global value distribution is a broadcast dictionary.
    */
  def tCloseness(df0: DataFrame, quasi: Seq[String], vCol: String,
                 t: Double): DataFrame = {
    val gv = df0.groupBy((quasi :+ vCol).map(col): _*)
      .agg(count(lit(1)).as("ngv"))
    val g = gv.groupBy(quasi.map(col): _*).agg(sum(col("ngv")).as("ng"))
    val vf = gv.groupBy(col(vCol)).agg(sum(col("ngv")).as("nv"))
    val tot = vf.agg(sum(col("nv")).as("n"))
    val pv = col("nv").cast("double") / col("n").cast("double")
    val pgv = col("ngv").cast("double") / col("ng").cast("double")
    val term = round(abs(pgv - pv) - pv, 6).cast(DecimalType(18, 6))
    val perGroup = gv
      .join(g, quasi)
      .join(broadcast(vf.crossJoin(broadcast(tot))), Seq(vCol))
      .select(quasi.map(col) :+ term.as("term"): _*)
      .groupBy(quasi.map(col): _*)
      .agg(((sum(col("term")).cast("double") + 1.0) / 2.0).as("tv"))
    perGroup.agg(count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("tv") > t, 1L)), lit(0L)).as("n_violating"),
        round(max(col("tv")), 6).as("max_tv"))
      .select(lit(t).as("t"), col("n_groups"), col("n_violating"),
        col("max_tv"))
  }

  /** Differentially-private count release (Dwork et al. 2006): per-group
    * counts + Laplace(Δf/ε) noise, sensitivity 1 for a counting query.
    * Completes the privacy triple (k-anonymity, l-diversity, DP release):
    * the first two AUDIT a release; this one PRODUCES one.
    *
    * Noise is pseudo-random but deterministic — u ∈ (0,1) from the first
    * 52 md5 bits of the group key salted with `secretSeed`, mapped
    * through the Laplace inverse CDF — so the release is reproducible
    * across runs, engines and partitionings (noise re-drawn per query
    * run leaks by averaging). PRIVACY REQUIRES THE SEED TO BE SECRET:
    * with a known seed anyone can recompute the noise from the public
    * group key and recover the exact count, so the release provides no
    * DP at all. A deployment must pass a seed drawn from a secret key
    * (KMS/keystore class), exactly like a keyed-hash MAC. The default
    * "dp:" seed exists ONLY so the DuckDB oracle can replay the release
    * bit-for-bit in tests — it is a test fixture, not a privacy
    * mechanism. Plan: the count aggregate IS the query; the noise is a
    * pure scalar map on the group-cardinality frame. The exact count is
    * emitted alongside for the gate/tests; a production release projects
    * it away.
    */
  def dpNoisyCounts(df: DataFrame, groupCol: String,
                    epsilon: Double = 1.0,
                    secretSeed: String = "dp:"): DataFrame = {
    val h = conv(substring(md5(concat(lit(secretSeed), col(groupCol))), 1, 13),
      16, 10).cast("long")
    // (h + 0.5) / 2^52 ∈ (0, 1) strictly — ln(1-2|u-1/2|) stays finite
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val lap = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5)) /
      lit(epsilon)
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_exact"))
      .select(col(groupCol), col("n_exact"),
        round(col("n_exact") + lap, 6).as("n_noisy"),
        lit(epsilon).as("epsilon"))
      .orderBy(groupCol)
  }

  /** DP SUM release with contribution clipping — the workhorse DP
    * primitive (a count is its C=1 case): each row's value clips to
    * [0, C] BEFORE summing, which bounds the query's sensitivity at C
    * regardless of outliers (without clipping a single huge value makes
    * the release either useless or non-private), then Laplace(C/ε)
    * noise via the same deterministic seeded inverse-CDF as
    * [[dpNoisyCounts]] — and the same caveat: the default seed is an
    * oracle-test fixture; real privacy requires a secret seed. Clipped
    * sums are exact integer cents (order-independent); the only floats
    * are the final noise expression.
    *
    * Two further production requirements the fixture intentionally does
    * not model (ADVICE r8):
    *  1. SEQUENTIAL RELEASES: noise here is a pure function of the group
    *     key, so two releases over a grown table reuse IDENTICAL noise
    *     and their difference exposes the exact count/sum delta. A
    *     production seed must include a release epoch/version (seed =
    *     secret ∥ key ∥ release_id), and the privacy budget ε must be
    *     accounted across releases (composition).
    *  2. CONTRIBUTOR-LEVEL CLIPPING: clipping per ROW bounds sensitivity
    *     at C only if each individual contributes one row. When a user
    *     can contribute many rows, clip the PER-USER aggregate (group by
    *     contributor first, clip, then release) or scale C by the
    *     per-user contribution bound — otherwise the release is not
    *     user-level DP.
    */
  /** DP MEDIAN via the EXPONENTIAL MECHANISM (McSherry & Talwar 2007)
    * — the third DP release class: counts and sums add noise to the
    * OUTPUT, but a median's output lives in the data domain, so the
    * mechanism instead samples a candidate value with probability
    * ∝ exp(ε·u/2), utility u(v) = −|#{x ≤ v} − n/2| (rank distance —
    * sensitivity 1). Sampling is replayed deterministically through the
    * Gumbel-max trick: argmax over candidates of ε·u/2 + Gumbel(seeded)
    * is distribution-identical to exponential-mechanism sampling, and
    * the Gumbel draw −ln(−ln(u)) uses the same seeded md5 inverse-CDF
    * as [[dpNoisyCounts]] — same caveat: the default seed is an oracle
    * fixture; real privacy needs a secret seed + per-release epoch.
    *
    * Scale posture: candidates are the distinct-value spine with
    * cumulative counts (the exact-percentile frame — value-cardinality-
    * bounded window), n joins in as a broadcast scalar, and the argmax
    * is ONE max-of-struct aggregate — no sort, no driver loop. The
    * chosen value's rank distance is emitted so the gate can see the
    * mechanism landed near the true median (rank_dist ≪ n).
    */
  def dpMedian(df: DataFrame, valueCol: String, epsilon: Double = 1.0,
               secretSeed: String = "dpmed:"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = df.filter(col(valueCol).isNotNull)
      .select((col(valueCol).cast(DecimalType(18, 2)) * 100)
        .cast("long").as("c"))
    val spine = cents.groupBy("c").agg(count(lit(1)).as("k"))
      .withColumn("cum", sum(col("k")).over(Window.orderBy("c")))
    val n = cents.agg(count(lit(1)).as("n"))
    val h = conv(substring(md5(concat(lit(secretSeed),
      col("c").cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val gum = -log(-log(u))
    val rd = abs(lit(2) * col("cum") - col("n"))
    spine.crossJoin(broadcast(n))
      .select(col("c"), col("n"), rd.as("rd"),
        (-lit(epsilon) * rd.cast("double") / lit(4.0) + gum).as("score"))
      .agg(max(struct(col("score").as("score"), col("c").as("c"),
          col("rd").as("rd"))).as("b"),
        max(col("n")).as("n"))
      .select(lit(epsilon).as("epsilon"), col("n"),
        (col("b.c").cast("double") / 100.0).as("dp_median"),
        col("b.rd").as("rank_dist"))
  }

  def dpNoisySums(df: DataFrame, groupCol: String, valueCol: String,
                  clipDollars: Long = 100L, epsilon: Double = 1.0,
                  secretSeed: String = "dpsum:"): DataFrame = {
    val clipC = clipDollars * 100 // cents
    val cents = least(greatest(
      (col(valueCol).cast(DecimalType(18, 2)) * 100).cast("long"), lit(0L)),
      lit(clipC))
    val h = conv(substring(md5(concat(lit(secretSeed), col(groupCol))), 1, 13),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val lap = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5)) *
      lit(clipDollars.toDouble / epsilon)
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(cents).as("sc"))
      .select(col(groupCol),
        (col("sc").cast("double") / 100.0).as("sum_clipped"),
        round(col("sc").cast("double") / 100.0 + lap, 6).as("sum_noisy"),
        lit(epsilon).as("epsilon"), lit(clipDollars).as("clip"))
      .orderBy(groupCol)
  }

  /** Join-cardinality (explosion) audit: before running an equi-join at
    * 100 TB, estimate its output size from per-key counts alone —
    * |A ⋈ B| = Σ_k n_A(k)·n_B(k). Two map-side-combined per-key counts
    * (key-cardinality frames, NEVER the join itself), an inner hash join
    * of those small frames, and a scalar fold. Reports the amplification
    * factor and the worst key — the planner pre-flight that catches the
    * skewed-key blowup (q_skew_salted_join's trigger condition) without
    * paying for the join.
    */
  def joinCardinalityAudit(a: DataFrame, b: DataFrame,
                           keyA: String, keyB: String): DataFrame = {
    val ca = a.groupBy(col(keyA).as("k")).agg(count(lit(1)).as("na"))
    val cb = b.groupBy(col(keyB).as("k")).agg(count(lit(1)).as("nb"))
    val rowsA = a.agg(count(lit(1)).as("rows_a"))
    val rowsB = b.agg(count(lit(1)).as("rows_b"))
    ca.join(cb, Seq("k"))
      .select(col("k"), (col("na") * col("nb")).as("contrib"))
      .agg(count(lit(1)).as("n_matching_keys"),
        coalesce(sum(col("contrib")), lit(0L)).as("est_join_rows"),
        coalesce(max(col("contrib")), lit(0L)).as("max_key_contrib"))
      .crossJoin(broadcast(rowsA)).crossJoin(broadcast(rowsB))
      .select(col("n_matching_keys"), col("est_join_rows"),
        col("max_key_contrib"), col("rows_a"), col("rows_b"),
        // amplification vs the larger input, in thousandths (integer —
        // a float ratio would be the one hash-drift risk in the report)
        floor(col("est_join_rows") * 1000.0 /
          greatest(col("rows_a"), col("rows_b"))).cast("long")
          .as("amplification_x1000"))
  }

  /** Schema-drift audit between two dataset snapshots: classify every
    * column as added / removed / type_changed / unchanged from the
    * parquet FOOTERS alone (pure metadata — zero data rows move, the
    * whole audit is O(columns) regardless of corpus size, which is the
    * point at 100 TB: the gate runs before any load is promoted). Each
    * engine compares type names in its OWN type system, so the report's
    * class labels are engine-portable even though "int" spells INTEGER
    * in DuckDB.
    */
  def schemaDrift(s: SparkSession, pathA: String, pathB: String): DataFrame = {
    import s.implicits._
    def fields(p: String) =
      s.read.parquet(p).schema.map(f => (f.name, f.dataType.simpleString))
    val a = fields(pathA).toDF("col_name", "type_a")
    val b = fields(pathB).toDF("col_name", "type_b")
    a.join(b, Seq("col_name"), "full_outer")
      .select(col("col_name"),
        when(col("type_a").isNull, "added")
          .when(col("type_b").isNull, "removed")
          .when(col("type_a") =!= col("type_b"), "type_changed")
          .otherwise("unchanged").as("change_class"))
      .orderBy("col_name")
  }

  /** Population stability index between two value populations (the
    * standard production data-drift gate; PSI > 0.2 = investigate,
    * > 0.25 = retrain in most monitoring playbooks). Reference = the
    * weekday (Mon–Thu) event-value distribution, current = Fri–Sun —
    * the weekly-seasonality drift a feed monitor watches.
    *
    * Determinism: bins are 10 equal-width slices of the REFERENCE
    * min/max (clamped outside), so bin edges are two broadcast scalars
    * and binning is identical IEEE double arithmetic on both engines;
    * counts Laplace-smooth (+1) so no bin divides by zero; each bin's
    * (p−q)·ln(p/q) term rounds to 9dp and folds as DECIMAL (the
    * q_mutual_info pattern — order-independent, 10 terms, nowhere near
    * the 38-precision cap).
    *
    * Scale: one pass for the reference min/max (scalar), one binned
    * count aggregate (map-side combined, 10-row result), scalar math
    * after — the whole monitor is two scans of the value column no
    * matter the table size, and the second scan prunes to (ts, value).
    */
  def psiDrift(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("value").cast("double").as("v"),
        (weekday(col("ts")) <= 3).as("is_ref"))
    val mm = ev.filter(col("is_ref"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val counts = ev.crossJoin(broadcast(mm))
      .select(col("is_ref"),
        greatest(least(floor((col("v") - col("lo")) * 10.0 /
          (col("hi") - col("lo"))), lit(9.0)), lit(0.0)).cast("int").as("bin"))
      .groupBy("bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    psiOfBinCounts(counts)
  }

  /** PSI report from a (bin, cr, cc) count frame (bins 0–9, missing bins
    * allowed): the scalar tail of [[psiDrift]], shared with the streaming
    * monitor whose `cc` side is maintained as stream state.
    */
  def psiOfBinCounts(counts: DataFrame): DataFrame = {
    val spine = counts.sparkSession.range(0, 10)
      .select(col("id").cast("int").as("bin"))
    val filled = spine.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("cr", "cc"))
    val tot = filled.agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    val p = (col("cr") + 1).cast("double") / (col("nr") + 10).cast("double")
    val q = (col("cc") + 1).cast("double") / (col("nc") + 10).cast("double")
    filled.crossJoin(broadcast(tot))
      .select(col("nr"), col("nc"),
        round((p - q) * log(p / q), 9).cast(DecimalType(28, 9)).as("term"))
      .groupBy("nr", "nc")
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
      .select(col("nr").as("n_ref"), col("nc").as("n_cur"), col("psi"),
        (col("psi") > 0.2).as("drifted"))
  }

  /** One FK edge's referential-integrity audit (dbt-style relationship
    * test at engine level): child rows, NULL FKs, and orphaned rows
    * (non-null FK with no parent). Scale: the orphan check runs on the
    * DISTINCT-FK frame (key cardinality, never the child table) — per-FK
    * counts aggregate map-side, the anti-join probes parent keys, and
    * orphaned ROW counts come from summing the per-key counts.
    */
  def fkAudit(name: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame = {
    val tot = child.agg(count(lit(1)).as("n_child"),
      coalesce(sum(when(col(fk).isNull, 1L)), lit(0L)).as("n_null_fk"))
    val cnt = child.filter(col(fk).isNotNull)
      .groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
    val orph = cnt
      .join(parent.select(col(pk).as("k")).distinct(), Seq("k"), "left_anti")
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_orphans"))
    tot.crossJoin(broadcast(orph))
      .select(lit(name).as("fk_edge"), col("n_child"), col("n_null_fk"),
        col("n_orphans"),
        expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
  }

  /** RANDOMIZED RESPONSE (Warner 1965) — the local-DP collection
    * mechanism beside the central-DP releases (q_dp_counts/sums/median):
    * each record reports its sensitive bit TRUTHFULLY with probability
    * p = 3/4 and FLIPPED otherwise, and the estimator de-biases the
    * noisy channel: π̂ = (obs − (1−p)) / (2p − 1). Sensitive bit here:
    * is-English. The deterministic "coin" is an md5 nibble (the
    * q_dp_counts seeded-noise posture — a fixture for replayability; a
    * production run draws real coins, the SHAPE is the operator). The
    * TRUE rate rides along so the estimator's error is measured, not
    * assumed. One map pass + one scalar aggregate.
    */
  def randomizedResponse(docs: DataFrame, pNum: Int = 12): DataFrame = {
    val truth = (col("lang") === "en").cast("long")
    // coin: first md5 nibble < pNum (of 16) → report truth, else flip
    val honest = conv(substring(md5(col("doc_id").cast("string")), 1, 1),
      16, 10).cast("long") < pNum
    val report = when(honest, truth).otherwise(lit(1L) - truth)
    val a = docs.filter(col("lang").isNotNull)
      .select(truth.as("t"), report.as("r"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("nt"),
        sum(col("r")).as("nr"))
    def db(c: String) = col(c).cast("double")
    val p = pNum / 16.0
    val obs = db("nr") / db("n")
    val piHat = (obs - lit(1.0 - p)) / lit(2.0 * p - 1.0)
    a.select(col("n").as("n_docs"), col("nr").as("n_reported_yes"),
      round(obs, 6).as("obs_rate"),
      round(piHat, 6).as("pi_hat"),
      round(db("nt") / db("n"), 6).as("pi_true"))
  }

  /** MULTI-COLUMN PSI MATRIX — q_psi_drift answers "did THIS column
    * drift"; production monitoring asks "WHICH column drifted" over the
    * whole numeric schema. One melt pass puts every monitored column
    * through the identical 10-bin Laplace-smoothed PSI ([[psiDrift]]'s
    * recipe, reference bin edges from the reference population), so the
    * answer is a k-row table, not k table scans. Periods: H1 vs H2 ship
    * months.
    *
    * Scale posture: the melt is map-side (k struct literals per row);
    * the only shuffles are (k × 10)-group bin counts with map-side
    * combine and a k-row edge frame broadcast back. Cost is one fact
    * scan regardless of how many columns are monitored.
    */
  def psiMatrix(li: DataFrame, features: Seq[String] = Seq(
      "l_discount", "l_extendedprice", "l_quantity", "l_tax")): DataFrame = {
    val melted = li.select(
        explode(array(features.map(c =>
          struct(lit(c).as("feature"), col(c).cast("double").as("v"))): _*))
          .as("m"),
        (month(col("l_shipdate")) <= 6).as("is_ref"))
      .select(col("m.feature").as("feature"), col("m.v").as("v"),
        col("is_ref"))
      .filter(col("v").isNotNull)
    val mm = melted.filter(col("is_ref"))
      .groupBy("feature").agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val counts = melted.join(broadcast(mm), Seq("feature"))
      .select(col("feature"), col("is_ref"),
        when(col("hi") === col("lo"), lit(0)).otherwise(
          greatest(least(floor((col("v") - col("lo")) * 10.0 /
            (col("hi") - col("lo"))), lit(9.0)), lit(0.0)).cast("int"))
          .as("bin"))
      .groupBy("feature", "bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val spine = mm.select("feature")
      .crossJoin(li.sparkSession.range(0, 10)
        .select(col("id").cast("int").as("bin")))
    val filled = spine.join(counts, Seq("feature", "bin"), "left")
      .na.fill(0L, Seq("cr", "cc"))
    val tot = filled.groupBy("feature")
      .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    val p = (col("cr") + 1).cast("double") / (col("nr") + 10).cast("double")
    val q = (col("cc") + 1).cast("double") / (col("nc") + 10).cast("double")
    filled.join(broadcast(tot), Seq("feature"))
      .select(col("feature"), col("nr"), col("nc"),
        round((p - q) * log(p / q), 9).cast(DecimalType(28, 9)).as("term"))
      .groupBy("feature", "nr", "nc")
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
      .select(col("feature"), col("nr").as("n_ref"), col("nc").as("n_cur"),
        col("psi"), (col("psi") > 0.2).as("drifted"))
      .orderBy("feature")
  }

  private def fkEdgeSql(name: String, child: String, fk: String,
                        parent: String, pk: String): String =
    s"""SELECT '$name' AS fk_edge,
       | CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
       | CAST((SELECT count(*) FROM $child WHERE $fk IS NULL) AS BIGINT)
       |  AS n_null_fk,
       | CAST((SELECT count(*) FROM $child c WHERE c.$fk IS NOT NULL
       |   AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk))
       |  AS BIGINT) AS n_orphans,
       | CAST((SELECT count(*) FROM $child c WHERE c.$fk IS NOT NULL
       |   AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk))
       |  AS BIGINT) * 1000000
       |  // CAST((SELECT count(*) FROM $child) AS BIGINT) AS orphan_ppm""".stripMargin

  def entries: Seq[Q] = Seq(
    // Which column drifted: one-pass 10-bin PSI across the numeric
    // lineitem schema (H1 vs H2 ship months).
    Q("q_psi_matrix", { (s, d) => psiMatrix(Tables.lineitem(s, d)) }, {
      val melt = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        .map(c => s"""SELECT '$c' AS feature, CAST($c AS DOUBLE) AS v,
                     | month(l_shipdate) <= 6 AS is_ref FROM lineitem"""
          .stripMargin)
        .mkString("\n UNION ALL\n ")
      s"""WITH m0 AS (
         | $melt),
         |m2 AS (SELECT * FROM m0 WHERE v IS NOT NULL),
         |mm AS (SELECT feature, min(v) AS lo, max(v) AS hi
         |       FROM m2 WHERE is_ref GROUP BY 1),
         |counts AS (
         | SELECT feature,
         |  CASE WHEN hi = lo THEN 0
         |   ELSE CAST(greatest(least(floor((v - lo) * 10.0 / (hi - lo)),
         |     9.0), 0.0) AS INTEGER) END AS bin,
         |  CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
         |  CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
         | FROM m2 JOIN mm USING (feature) GROUP BY 1, 2),
         |spine AS (
         | SELECT feature, CAST(b AS INTEGER) AS bin
         | FROM mm CROSS JOIN range(0, 10) r(b)),
         |filled AS (
         | SELECT feature, bin, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
         | FROM spine LEFT JOIN counts USING (feature, bin)),
         |tot AS (
         | SELECT feature, CAST(sum(cr) AS BIGINT) AS nr,
         |  CAST(sum(cc) AS BIGINT) AS nc
         | FROM filled GROUP BY 1),
         |terms AS (
         | SELECT feature, nr, nc,
         |  CAST(round((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE)
         |    - CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
         |   * ln((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
         |     / (CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))), 9)
         |   AS DECIMAL(28,9)) AS term
         | FROM filled JOIN tot USING (feature))
         |SELECT feature, nr AS n_ref, nc AS n_cur,
         | round(CAST(sum(term) AS DOUBLE), 6) AS psi,
         | round(CAST(sum(term) AS DOUBLE), 6) > 0.2 AS drifted
         |FROM terms GROUP BY 1, 2, 3 ORDER BY feature""".stripMargin
    }),
    Q("q_randomized_response", { (s, d) =>
      randomizedResponse(Tables.documents(s, d)) },
      """WITH b AS (
        | SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS t,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS BIGINT)
        |   < 12 AS honest
        | FROM documents WHERE lang IS NOT NULL),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS nt,
        |  CAST(sum(CASE WHEN honest THEN t ELSE 1 - t END) AS BIGINT) AS nr
        | FROM b)
        |SELECT n AS n_docs, nr AS n_reported_yes,
        | round(CAST(nr AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
        | round((CAST(nr AS DOUBLE) / CAST(n AS DOUBLE) - 0.25) / 0.5, 6)
        |  AS pi_hat,
        | round(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pi_true
        |FROM a""".stripMargin),
    // Weekday-vs-weekend value-distribution drift monitor.
    Q("q_psi_drift", { (s, d) => psiDrift(Tables.events(s, d)) },
      """WITH ev AS (
        | SELECT CAST(value AS DOUBLE) AS v, isodow(ts) <= 4 AS is_ref
        | FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM ev WHERE is_ref),
        |cnt AS (
        | SELECT greatest(least(floor((v - lo) * 10.0 / (hi - lo)), 9.0), 0.0)
        |    ::INTEGER AS bin,
        |  sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
        |  sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
        | FROM ev, mm GROUP BY 1),
        |filled AS (
        | SELECT s.bin, COALESCE(cr, 0) AS cr, COALESCE(cc, 0) AS cc
        | FROM range(0, 10) s(bin) LEFT JOIN cnt ON s.bin = cnt.bin),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |        CAST(sum(cc) AS BIGINT) AS nc FROM filled),
        |terms AS (
        | SELECT nr, nc,
        |  CAST(round(
        |   ((cr + 1) / CAST(nr + 10 AS DOUBLE) - (cc + 1) / CAST(nc + 10 AS DOUBLE))
        |    * ln(((cr + 1) / CAST(nr + 10 AS DOUBLE))
        |         / ((cc + 1) / CAST(nc + 10 AS DOUBLE))), 9)
        |   AS DECIMAL(28,9)) AS term
        | FROM filled, tot)
        |SELECT nr AS n_ref, nc AS n_cur,
        | round(CAST(sum(term) AS DOUBLE), 6) AS psi,
        | round(CAST(sum(term) AS DOUBLE), 6) > 0.2 AS drifted
        |FROM terms GROUP BY 1, 2""".stripMargin),

    // REFERENTIAL-INTEGRITY SWEEP over the warehouse's five FK edges —
    // the pre-flight every load gate runs before joins are trusted
    // (an orphaned FK silently drops rows in inner joins and fabricates
    // NULL dims in left joins; measure it, don't discover it).
    Q("q_fk_orphans", { (s, d) =>
      Seq(
        fkAudit("customer.c_nationkey->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"),
        fkAudit("lineitem.l_orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        fkAudit("lineitem.l_partkey->part", Tables.lineitem(s, d),
          "l_partkey", Tables.part(s, d), "p_partkey"),
        fkAudit("lineitem.l_suppkey->supplier", Tables.lineitem(s, d),
          "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
        fkAudit("orders.o_custkey->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey"))
        .reduce(_ unionByName _)
        .orderBy("fk_edge")
    },
      Seq(
      fkEdgeSql("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      fkEdgeSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      fkEdgeSql("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      fkEdgeSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      fkEdgeSql("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")),

    // ONE-PASS COLUMN PROFILE — the catalog auto-profiling row (NDV,
    // null count) for every column of a table in a SINGLE scan: melt
    // columns to (col_name, value) via stack (k columns ≠ k scans — the
    // describeAll trick), then one countDistinct aggregate. NDV is
    // EXACT via the standard two-level distinct expansion; string-cast
    // is injective per column so casting can't merge values.
    Q("q_column_profile", { (s, d) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      Tables.orders(s, d)
        .selectExpr(s"stack(${cols.size}, " +
          cols.map(c => s"'$c', cast($c as string)").mkString(", ") +
          ") as (col_name, v)")
        .groupBy("col_name")
        .agg(count(lit(1)).as("n"),
          (count(lit(1)) - count(col("v"))).as("n_nulls"),
          countDistinct(col("v")).as("ndv"))
        .orderBy("col_name")
    }, {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val melts = cols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM orders")
        .mkString("\n UNION ALL\n ")
      s"""WITH m AS (
         | $melts)
         |SELECT col_name, CAST(count(*) AS BIGINT) AS n,
         | CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
         | CAST(count(DISTINCT v) AS BIGINT) AS ndv
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    // Snapshot B is carved deterministically from orders: one column
    // dropped (o_orderpriority), one added (o_channel), one narrowed
    // (o_custkey bigint -> int) — the three drift classes a real
    // producer-side schema change produces. B round-trips through a real
    // parquet write so the audited footer is the artifact a downstream
    // reader would actually see.
    // The oracle derives snapshot B's schema from the SAME projection in
    // DuckDB's own type system (DESCRIBE of the equivalent SELECT) — each
    // engine classifies in its own type names, the class labels compare.
    Q("q_schema_drift", { (s, d) =>
      val scratch = Scratch.dir("schema_b")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").cast("int").as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          lit("web").as("o_channel"))
        .write.mode("overwrite").parquet(scratch)
      schemaDrift(s, s"$d/orders.parquet", scratch)
    },
      """WITH a AS (
        | SELECT column_name, column_type
        | FROM (DESCRIBE SELECT * FROM orders)),
        |b AS (
        | SELECT column_name, column_type
        | FROM (DESCRIBE SELECT o_orderkey,
        |        CAST(o_custkey AS INTEGER) AS o_custkey,
        |        o_orderstatus, o_totalprice, o_orderdate,
        |        'web' AS o_channel
        |       FROM orders))
        |SELECT COALESCE(a.column_name, b.column_name) AS col_name,
        | CASE WHEN a.column_name IS NULL THEN 'added'
        |      WHEN b.column_name IS NULL THEN 'removed'
        |      WHEN a.column_type <> b.column_type THEN 'type_changed'
        |      ELSE 'unchanged' END AS change_class
        |FROM a FULL OUTER JOIN b ON a.column_name = b.column_name
        |ORDER BY col_name""".stripMargin),
    Q("q_k_anonymity", { (s, d) =>
      kAnonymity(Tables.customer(s, d), Seq(col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("int")), k = 5)
    },
      """WITH g AS (
        | SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS INTEGER) AS ab,
        |  count(*) AS cnt
        | FROM customer GROUP BY 1, 2, 3)
        |SELECT 5 AS k, count(*) AS n_groups,
        | COALESCE(CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT), 0)
        |  AS n_risky_groups,
        | COALESCE(CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT), 0)
        |  AS n_risky_rows
        |FROM g""".stripMargin),
    Q("q_l_diversity", { (s, d) =>
      lDiversity(Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal") / 1000).cast("int"), l = 3)
    },
      """WITH g AS (
        | SELECT c_nationkey, c_mktsegment,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER)) AS div,
        |  count(*) AS cnt
        | FROM customer GROUP BY 1, 2)
        |SELECT 3 AS l, count(*) AS n_groups,
        | COALESCE(CAST(sum(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT), 0)
        |  AS n_low_div_groups,
        | COALESCE(CAST(sum(CASE WHEN div < 3 THEN cnt ELSE 0 END) AS BIGINT), 0)
        |  AS n_rows_at_risk,
        | min(div) AS min_diversity
        |FROM g""".stripMargin),
    // KEYED PSEUDONYMIZATION with a measured referential-integrity gate:
    // user ids become keyed-hash tokens (md5(secret ∥ id) — the MAC-class
    // construction; like the DP seed, the fixture secret exists only so
    // the oracle can replay, a deployment injects a KMS secret). The two
    // properties a pseudonymized release must PROVE, measured not
    // assumed: (1) injectivity on this corpus — token collisions merge
    // distinct users' histories, so n_tokens must equal n_users;
    // (2) referential integrity — per-user event counts survive the
    // mapping exactly (the multiset of group sizes is invariant), checked
    // as equality of the size-histogram fingerprints before/after.
    // Scale: two group-bys at user cardinality; the histogram compare is
    // a dictionary-sized decimal fold.
    Q("q_pseudonymize", { (s, d) =>
      val tok = md5(concat(lit("pseud:"), col("user_id").cast("string")))
      val ev = Tables.events(s, d).select(col("user_id"), tok.as("token"))
      val pre = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      val post = ev.groupBy("token").agg(count(lit(1)).as("n"))
      def hist(df: DataFrame) = df.groupBy("n")
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("n") * col("n") * col("c")), lit(0L)).as("fp"),
          count(lit(1)).as("nsz"))
      val a = pre.agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(post.agg(count(lit(1)).as("n_tokens"))))
        .crossJoin(broadcast(hist(pre).select(col("fp").as("fp_pre"),
          col("nsz").as("nsz_pre"))))
        .crossJoin(broadcast(hist(post).select(col("fp").as("fp_post"),
          col("nsz").as("nsz_post"))))
      a.select(col("n_users"), col("n_tokens"),
        (col("n_users") === col("n_tokens")).as("injective"),
        (col("fp_pre") === col("fp_post") &&
          col("nsz_pre") === col("nsz_post")).as("histogram_preserved"))
    },
      """WITH ev AS (
        | SELECT user_id,
        |  md5('pseud:' || CAST(user_id AS VARCHAR)) AS token
        | FROM events),
        |pre AS (SELECT user_id, count(*) AS n FROM ev GROUP BY 1),
        |post AS (SELECT token, count(*) AS n FROM ev GROUP BY 1),
        |ha AS (SELECT CAST(COALESCE(sum(n * n * c), 0) AS BIGINT) AS fp,
        |  CAST(count(*) AS BIGINT) AS nsz FROM (
        |   SELECT n, count(*) AS c FROM pre GROUP BY 1)),
        |hb AS (SELECT CAST(COALESCE(sum(n * n * c), 0) AS BIGINT) AS fp,
        |  CAST(count(*) AS BIGINT) AS nsz FROM (
        |   SELECT n, count(*) AS c FROM post GROUP BY 1))
        |SELECT (SELECT count(*) FROM pre) AS n_users,
        | (SELECT count(*) FROM post) AS n_tokens,
        | (SELECT count(*) FROM pre) = (SELECT count(*) FROM post)
        |  AS injective,
        | (ha.fp = hb.fp AND ha.nsz = hb.nsz) AS histogram_preserved
        |FROM ha, hb""".stripMargin),

    // same QI/sensitive frame as the k-anon and l-div gates: the three
    // audits read one projection and answer three different leak models
    Q("q_t_closeness", { (s, d) =>
      tCloseness(
        Tables.customer(s, d).select(col("c_nationkey").as("q1"),
          col("c_mktsegment").as("q2"),
          floor(col("c_acctbal") / 1000).cast("int").as("v")),
        Seq("q1", "q2"), "v", t = 0.3)
    },
      """WITH b AS (
        | SELECT c_nationkey AS q1, c_mktsegment AS q2,
        |  CAST(floor(c_acctbal / 1000) AS INTEGER) AS v
        | FROM customer),
        |gv AS (SELECT q1, q2, v, CAST(count(*) AS BIGINT) AS ngv
        |       FROM b GROUP BY 1, 2, 3),
        |g AS (SELECT q1, q2, CAST(sum(ngv) AS BIGINT) AS ng
        |      FROM gv GROUP BY 1, 2),
        |vf AS (SELECT v, CAST(sum(ngv) AS BIGINT) AS nv FROM gv GROUP BY 1),
        |n AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM vf),
        |terms AS (
        | SELECT q1, q2,
        |  CAST(round(abs(CAST(ngv AS DOUBLE) / ng - CAST(nv AS DOUBLE) / n)
        |    - CAST(nv AS DOUBLE) / n, 6) AS DECIMAL(18,6)) AS term
        | FROM gv JOIN g USING (q1, q2) JOIN vf USING (v) CROSS JOIN n),
        |pg AS (SELECT q1, q2, (CAST(sum(term) AS DOUBLE) + 1.0) / 2.0 AS tv
        |       FROM terms GROUP BY 1, 2)
        |SELECT CAST(0.3 AS DOUBLE) AS t, CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(COALESCE(sum(CASE WHEN tv > 0.3 THEN 1 ELSE 0 END), 0)
        |  AS BIGINT) AS n_violating,
        | round(max(tv), 6) AS max_tv
        |FROM pg""".stripMargin),
    // Self-join on l_partkey: the classic "same part, all line pairs"
    // explosion shape — per-key counts are identical on both sides so
    // the estimate is Σ n_k², audited without materializing a single
    // joined row.
    Q("q_join_cardinality", { (s, d) =>
      val li = Tables.lineitem(s, d)
      joinCardinalityAudit(li, li, "l_partkey", "l_partkey")
    },
      """WITH c AS (
        | SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS rows_a FROM lineitem)
        |SELECT count(*) AS n_matching_keys,
        | COALESCE(CAST(sum(n * n) AS BIGINT), 0) AS est_join_rows,
        | COALESCE(CAST(max(n * n) AS BIGINT), 0) AS max_key_contrib,
        | rows_a, rows_a AS rows_b,
        | CAST(floor(COALESCE(sum(n * n), 0) * 1000.0 / rows_a) AS BIGINT)
        |  AS amplification_x1000
        |FROM c, tot GROUP BY rows_a""".stripMargin),
    // ENCODING AUDIT — per-column NDV ratios driving the dictionary-vs-
    // plain layout call (a low-NDV column stored plain wastes scan I/O
    // at 100 TB; Parquet picks per-page, this is the table-level audit).
    // One aggregate computes every count_distinct (Catalyst expands to
    // one pass per distinct set), then a 5-row stack unpivots the report.
    Q("q_encoding_audit", { (s, d) =>
      val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
        "l_partkey", "l_orderkey")
      val aggs = count(lit(1)).as("n") +:
        cols.map(c => countDistinct(col(c)).as(s"ndv_$c"))
      val one = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c => s"'$c', ndv_$c").mkString(", ")
      one.selectExpr("n", s"stack(${cols.size}, $stacked) AS (col_name, ndv)")
        .select(col("col_name"), col("ndv"),
          floor(col("ndv") * 1000000.0 / col("n")).cast("long").as("ndv_ppm"),
          (floor(col("ndv") * 1000000.0 / col("n")) < 10000).as("dict_recommended"))
        .orderBy("col_name")
    }, {
      val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
        "l_partkey", "l_orderkey")
      val arms = cols.map { c =>
        s"""SELECT '$c' AS col_name, count(DISTINCT $c) AS ndv FROM lineitem"""
      }.mkString("\nUNION ALL\n")
      s"""WITH n AS (SELECT count(*) AS n FROM lineitem),
         |u AS ($arms)
         |SELECT col_name, ndv,
         | CAST(floor(ndv * 1000000.0 / n) AS BIGINT) AS ndv_ppm,
         | floor(ndv * 1000000.0 / n) < 10000 AS dict_recommended
         |FROM u, n ORDER BY col_name""".stripMargin
    }),
    Q("q_expectations", { (s, d) =>
      expectations(Tables.lineitem(s, d), Seq(
        "qty_in_range" -> col("l_quantity").between(1, 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_in_range" -> col("l_discount").between(0, 0.1),
        "flag_known" -> col("l_returnflag").isin("A", "N", "R"),
        "shipdate_present" -> col("l_shipdate").isNotNull))
    }, {
      val rules = Seq(
        "qty_in_range" -> "l_quantity BETWEEN 1 AND 50",
        "price_positive" -> "l_extendedprice > 0",
        "discount_in_range" -> "l_discount BETWEEN 0 AND 0.1",
        "flag_known" -> "l_returnflag IN ('A', 'N', 'R')",
        "shipdate_present" -> "l_shipdate IS NOT NULL")
      val filters = rules.map { case (n, p) =>
        s"count(*) FILTER (NOT coalesce($p, FALSE)) AS $n"
      }.mkString(",\n  ")
      val arms = rules.map { case (n, _) =>
        s"SELECT '$n' AS rule, $n AS violations, n_total, $n = 0 AS pass FROM agg"
      }.mkString("\nUNION ALL\n")
      s"""WITH agg AS (
         | SELECT count(*) AS n_total,
         |  $filters
         | FROM lineitem)
         |$arms
         |ORDER BY rule""".stripMargin
    }),
    // same salted-md5 uniform, same Laplace inverse CDF, ε = 1
    Q("q_dp_counts", { (s, d) =>
      dpNoisyCounts(Tables.events(s, d), "event_type")
    },
      """WITH c AS (
        | SELECT event_type, count(*) AS n_exact FROM events GROUP BY 1),
        |u AS (
        | SELECT event_type, n_exact,
        |  (CAST('0x' || substr(md5('dp:' || event_type), 1, 13) AS BIGINT)
        |    + 0.5) / 4503599627370496.0 AS u
        | FROM c)
        |SELECT event_type, n_exact,
        | round(n_exact + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
        |   / 1.0), 6) AS n_noisy,
        | 1.0 AS epsilon
        |FROM u ORDER BY event_type""".stripMargin),
    // clipped-sum twin: same seeded uniform, Laplace scale C/eps
    Q("q_dp_sums", { (s, d) =>
      dpNoisySums(Tables.events(s, d), "event_type", "value")
    },
      """WITH c AS (
        | SELECT event_type,
        |  CAST(sum(least(greatest(
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0), 10000))
        |   AS BIGINT) AS sc
        | FROM events WHERE value IS NOT NULL GROUP BY 1),
        |u AS (
        | SELECT event_type, sc,
        |  (CAST('0x' || substr(md5('dpsum:' || event_type), 1, 13) AS BIGINT)
        |    + 0.5) / 4503599627370496.0 AS u
        | FROM c)
        |SELECT event_type, CAST(sc AS DOUBLE) / 100.0 AS sum_clipped,
        | round(CAST(sc AS DOUBLE) / 100.0
        |  + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) * 100.0), 6)
        |  AS sum_noisy,
        | 1.0 AS epsilon, CAST(100 AS BIGINT) AS clip
        |FROM u ORDER BY event_type""".stripMargin),
    // DP median of order totals via the exponential mechanism
    // (Gumbel-max replay over the distinct-value spine).
    // exponential-mechanism median: Gumbel-max replay, rank utility
    Q("q_dp_median", { (s, d) =>
      dpMedian(Tables.orders(s, d), "o_totalprice")
    },
      """WITH v AS (
        | SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        | FROM orders WHERE o_totalprice IS NOT NULL),
        |g AS (SELECT c, count(*) AS k FROM v GROUP BY 1),
        |s AS (SELECT c, sum(k) OVER (ORDER BY c) AS cum FROM g),
        |n AS (SELECT count(*) AS n FROM v),
        |sc AS (
        | SELECT c, CAST(abs(2 * cum - (SELECT n FROM n)) AS BIGINT) AS rd,
        |  (CAST('0x' || substr(md5('dpmed:' || CAST(c AS VARCHAR)), 1, 13) AS BIGINT)
        |    + 0.5) / 4503599627370496.0 AS u
        | FROM s)
        |SELECT 1.0 AS epsilon, (SELECT n FROM n) AS n,
        | CAST(c AS DOUBLE) / 100.0 AS dp_median, rd AS rank_dist
        |FROM sc
        |ORDER BY (-1.0 * CAST(rd AS DOUBLE) / 4.0 + (-ln(-ln(u)))) DESC, c DESC
        |LIMIT 1""".stripMargin),
    Q("q_freshness", { (s, d) => freshness(Tables.events(s, d)) },
      """WITH pk AS (
        | SELECT event_type, count(*) AS n, max(ts) AS max_ts
        | FROM events GROUP BY 1),
        |g AS (SELECT max(max_ts) AS g_ts FROM pk)
        |SELECT event_type, n, max_ts,
        | CAST(floor((CAST(floor(epoch(g_ts)) AS BIGINT)
        |   - CAST(floor(epoch(max_ts)) AS BIGINT)) / 60.0) AS BIGINT)
        |  AS lag_minutes
        |FROM pk, g ORDER BY event_type""".stripMargin),
    Q("q_table_diff", { (s, d) => tableDiff(Tables.orders(s, d)) },
      """WITH a AS (
        | SELECT o_orderkey, o_orderstatus AS status_a,
        |  o_totalprice AS price_a
        | FROM orders WHERE o_orderkey % 13 <> 0),
        |b AS (
        | SELECT o_orderkey, o_orderstatus AS status_b,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS price_b
        | FROM orders WHERE o_orderkey % 11 <> 0)
        |SELECT CASE
        |  WHEN status_a IS NULL THEN 'added'
        |  WHEN status_b IS NULL THEN 'removed'
        |  WHEN status_a <> status_b OR price_a <> price_b THEN 'changed'
        |  ELSE 'unchanged' END AS change_class,
        | count(*) AS cnt
        |FROM a FULL OUTER JOIN b USING (o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_cumulative_distinct", { (s, d) =>
      cumulativeDistinctUsers(Tables.events(s, d)) },
      """WITH fs AS (
        | SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1),
        |daily AS (SELECT d, count(*) AS new_users FROM fs GROUP BY 1)
        |SELECT d, new_users,
        | CAST(sum(new_users) OVER (ORDER BY d
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_users
        |FROM daily ORDER BY d""".stripMargin)
  )
}
