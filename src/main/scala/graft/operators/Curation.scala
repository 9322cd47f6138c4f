package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus curation operators (builder brief: large-scale training-data
  * pipeline): eval-set decontamination, PII redaction, and source-mix
  * reporting with resampling rates.
  *
  * Scale posture:
  *  - Decontamination: the eval side's distinct shingle hashes are SMALL
  *    (eval sets are thousands of docs) → broadcast semi-join against the
  *    corpus shingle stream. The corpus is never shuffled; the only
  *    aggregation is per-contaminated-doc counting, map-side combined.
  *  - PII redaction: pure map (chained regexp_replace + counts), zero
  *    shuffles; patterns restricted to syntax shared by Java regex and
  *    RE2 so the DuckDB oracle runs them verbatim.
  *  - Source mix: one groupBy(source) at domain cardinality; the share
  *    normalization is a single-row total broadcast, not a global window.
  */
object Curation extends QueryModule {

  // ===== eval-set decontamination =====

  /** (id, shingle-hash) stream: tokens → word n-gram shingles → 64-bit
    * hash per shingle, exploded. `Dedup.shingles` distincts per doc.
    */
  private def shingleHashStream(docs: DataFrame, idCol: String, textCol: String,
                                n: Int, hasher: Dedup.HashFamily): DataFrame = {
    // Native one-pass shingle hashing (codegen'd, no per-shingle string
    // materialization or hex/conv roundtrip) — bit-equal to the HOF
    // shingles+hash formulation (asserted in ScalarsSpec), so the DuckDB
    // oracles are unchanged.
    val hs = hasher match {
      case Dedup.XxHash => graft.functions.NativeExpressions
        .shingleHashes(docs.sparkSession,
          TextAnalysis.tokens(col(textCol)), n)
      case Dedup.Md5Hash => graft.functions.NativeExpressions
        .shingleHashesMd5(docs.sparkSession,
          TextAnalysis.tokens(col(textCol)), n)
    }
    docs.select(col(idCol).as("id"), hs.as("hs"))
      .select(col("id"), explode(col("hs")).as("h"))
  }

  /** Contamination report: corpus documents sharing at least one word
    * n-gram with the eval set, with the count of shared shingles — the
    * standard pre-training decontamination check (n-gram collision
    * against benchmark/eval data).
    */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          n: Int = 5,
                          hasher: Dedup.HashFamily = Dedup.XxHash): DataFrame = {
    val evalHashes = shingleHashStream(evalSet, idCol, textCol, n, hasher)
      .select("h").distinct()
    shingleHashStream(corpus, idCol, textCol, n, hasher)
      .join(broadcast(evalHashes), Seq("h"), "left_semi")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // shingles are per-doc distinct
  }

  /** CRAWL NOVELTY DECAY — per ingest batch, what fraction of its
    * 5-gram shingle occurrences is FIRST-SEEN (no earlier batch
    * contains the gram)? The saturation readout a continuously-crawled
    * corpus watches: novelty_ppm trending to zero means new batches are
    * re-crawling content the corpus already has, and the marginal
    * training value of the pipeline is collapsing (the corpus-level
    * twin of q_dedup_tiers' marginal-pair story). Batches are
    * `doc_id div batchSize` — ingest order — since the synthetic corpus
    * carries no crawl timestamp; occurrences are per-doc-distinct (the
    * shingleHashStream contract), so a gram repeated across docs in one
    * batch counts once per doc.
    *
    * Scale posture: gram first-seen is ONE map-side-combined min per
    * gram hash; the join back is co-partitioned on the gram hash (both
    * sides shuffle on h, no broadcast of a corpus-sized set); the final
    * rollup is batch-cardinality. At 100 TB the gram-hash frame is the
    * big one — it stays (hash, batch) thin rows end-to-end.
    */
  def noveltyDecay(docs: DataFrame, batchSize: Long = 100L): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val hs = shingleHashStream(docs, "doc_id", "text", 5, Dedup.Md5Hash)
      .select(expr(s"id div $batchSize").as("batch"), col("h"))
      .persistTracked()
    val first = hs.groupBy("h").agg(min(col("batch")).as("fb"))
    hs.join(first, Seq("h"))
      .groupBy("batch")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fb") === col("batch"), 1L).otherwise(0L)).as("novel"))
      .withColumn("novelty_ppm", expr("novel * 1000000 div n_grams"))
      .orderBy("batch")
  }

  /** Water-filling λ over any (source, avail) frame — see
    * q_waterfill_mix's comment for the contract (budget = total div 2;
    * Σ min(avail, λ) lands in (B − n, B] under integer floors). The
    * protected-small-source branch is spec-gated on planted skew
    * (Round9Spec); the natural corpus's uniform sources all cap.
    */
  def waterfillMix(avail: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = avail.agg(sum(col("avail")).as("total"),
      count(lit(1)).as("n"))
    val w = Window.orderBy("avail", "source")
    val spine = avail.crossJoin(broadcast(tot))
      .withColumn("r", row_number().over(w))
      .withColumn("pk", sum(col("avail")).over(w))
      .withColumn("prevAvail", lag(col("avail"), 1, 0L).over(w))
      .withColumn("b", expr("total div 2"))
    val lam = spine
      .withColumn("lamK", expr("(b - (pk - avail)) div (n - r + 1)"))
      .filter(col("lamK") >= col("prevAvail") &&
        col("lamK") < col("avail"))
      .agg(min(col("lamK")).as("lambda"))
    avail.crossJoin(broadcast(lam))
      .select(col("source"), col("avail").as("avail_tokens"),
        least(col("avail"), col("lambda")).as("alloc_tokens"),
        col("lambda").as("cap_level"),
        (col("avail") > col("lambda")).as("capped"))
      .orderBy("source")
  }

  // ===== PII redaction =====

  /** (label, pattern, replacement) — patterns valid in BOTH Java regex
    * (Spark) and RE2 (DuckDB): no lookaround, no backreferences.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "[IP]"))

  /** Redacted text: patterns applied in declaration order. */
  def redact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-document redaction audit: match counts per PII class plus the
    * redacted text's fingerprint (order of application matters for
    * overlapping classes — declaration order is the contract).
    */
  def piiAudit(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val counts = piiPatterns.map { case (label, pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).as("n_" + label)
    }
    docs.select((col(idCol) +: counts :+
      md5(redact(col(textCol))).as("redacted_fp")): _*)
  }

  // ===== source-mix report =====

  /** Per-source corpus composition: doc/token counts, token share, and
    * the downsampling rate that would flatten the mix to a uniform
    * target (`rate = min(1, (1/nSources) / share)`), the usual
    * first-order mix-rebalancing knob.
    */
  def sourceMix(docs: DataFrame, sourceCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val perSource = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("total_tokens"), 6).as("token_share"),
        round(least(lit(1.0),
          (lit(1.0) / col("n_sources")) /
            (col("n_tokens") / col("total_tokens"))), 6).as("sample_rate"))
  }

  /** Temperature-flattened sampling weights over the source mix (the
    * multilingual/multi-source rebalancing rule p_s ∝ share_s^α at
    * α = 0.5): sqrt is IEEE-correctly-rounded in both engines, the
    * per-source weights are 6dp-rounded and summed as exact DECIMAL
    * (order-independent), and the final probabilities are one double
    * division each. `boost` is the up/down-sampling factor vs natural
    * frequency. Char mass stands in for token mass. One shuffle to
    * source cardinality; the two totals are single-row broadcasts.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val bySrc = docs.filter(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tok"))
    val tot = bySrc.agg(sum(col("tok")).as("tt"))
    val share = col("tok").cast("double") / col("tt").cast("double")
    val f = bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), share.as("share_raw"),
        round(sqrt(share), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("w"))
    val sw = f.agg(sum(col("w")).as("sw"))
    val p = col("w").cast("double") / col("sw").cast("double")
    f.crossJoin(broadcast(sw))
      .select(col("source"), col("n_docs"),
        round(col("share_raw"), 6).as("share"),
        round(p, 6).as("p_temp"),
        round(p / col("share_raw"), 6).as("boost"))
      .orderBy("source")
  }

  /** Weighted sampling WITHOUT replacement, exactly k per source
    * (Efraimidis-Spirakis A-ES, 2006): rank every doc by log2(u)/w where
    * u is a deterministic hash-uniform in (0,1) and w its weight (token
    * count here) — the top-k per source under that key IS a weighted
    * without-replacement sample (monotone transform of u^{1/w}; log2
    * instead of pow because log2 has established 6dp cross-engine parity
    * while pow is not IEEE-correctly-rounded). The fixed-budget
    * counterpart of the Bernoulli q_weighted_sample: curation pipelines
    * use it to fill an exact per-source doc budget with probability ∝
    * tokens. Runs on the native TopKPerKey exec — map-side k-bounded
    * heaps, no per-source sort, shuffle carries ≤ k rows per source per
    * mapper. Determinism: u is md5-derived (rerun/partitioning/engine
    * stable), the key rounds to 6dp, ties break on doc_id.
    */
  def weightedSampleK(docs: DataFrame, k: Int,
                      idCol: String = "doc_id", srcCol: String = "source",
                      textCol: String = "text",
                      weight: Column => Column =
                        c => TextAnalysis.tokenCount(c).cast("double")): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    val w = weight(col(textCol))
    val scored = docs
      .filter(w > 0 && col(srcCol).isNotNull)
      .select(col(srcCol), col(idCol), round(log2(u) / w, 6).as("es_key"))
    graft.plans.TopKPerKey.topKPerKey(scored, Seq(srcCol),
        Seq(("es_key", false), (idCol, true)), k)
      .orderBy(col(srcCol), desc("es_key"), col(idCol))
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1996): shard(id) = argmax over shards of h(id, shard).
    * The elastic-resharding primitive a 100 TB document store needs —
    * growing N → N+1 shards moves only ~1/(N+1) of the keys, where
    * mod-hashing reshuffles ~N/(N+1) of the corpus.
    *
    * The argmax packs into one BIGINT per shard: 52 md5 bits · 16 + s
    * (shard count ≤ 16 enforced), so `greatest(...) % 16` IS the argmax
    * — a pure codegen'd map, no explode, no shuffle until the audit
    * aggregate. Determinism: the Md5Hash family, oracle-replayable.
    */
  def hrwShard(id: Column, n: Int): Column = {
    require(n <= 16, s"hrwShard packs the shard id into 4 bits, got n=$n")
    val packed = (0 until n).map { sh =>
      conv(substring(md5(concat(id.cast("string"), lit(s":$sh"))), 1, 13),
        16, 10).cast("long") * 16 + sh
    }
    (greatest(packed: _*) % 16).cast("int")
  }

  /** Reshard-movement audit: HRW vs mod-hash at N=8 → 9 shards, plus the
    * N=8 HRW balance extremes. One corpus pass computes all four
    * assignments map-side; two group-counts (shard-cardinality frames)
    * and a scalar fold produce the report.
    */
  def reshardAudit(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val assigned = docs.select(
      hrwShard(col(idCol), 8).as("hrw8"), hrwShard(col(idCol), 9).as("hrw9"),
      (h % 8).cast("int").as("mod8"), (h % 9).cast("int").as("mod9"))
    val moves = assigned.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("hrw8") =!= col("hrw9"), 1L).otherwise(0L))
        .as("hrw_moved"),
      sum(when(col("mod8") =!= col("mod9"), 1L).otherwise(0L))
        .as("mod_moved"))
    val balance = assigned.groupBy("hrw8").agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("hrw_max_shard"), min(col("c")).as("hrw_min_shard"))
    moves.crossJoin(broadcast(balance))
      .select(col("n_docs"),
        col("hrw_moved"),
        expr("hrw_moved * 1000000 div n_docs").as("hrw_moved_ppm"),
        col("mod_moved"),
        expr("mod_moved * 1000000 div n_docs").as("mod_moved_ppm"),
        col("hrw_max_shard"), col("hrw_min_shard"))
  }

  /** Per-source DATA CARD — the datasheet row every corpus release ships
    * (Gebru et al. 2021 "Datasheets for Datasets", scoped to the fields
    * computable from the table itself): volume (docs, tokens), shape
    * (exact median tokens), language profile (dominant lang + its ppm
    * share), and exact-duplicate exposure (docs whose normalized
    * fingerprint appears more than once ANYWHERE in the corpus, as ppm).
    *
    * Scale: ONE map pass computes tokens+fingerprint; everything after
    * runs on source-cardinality aggregates except (a) the median, a
    * per-source window over (source, tok) — partitioned, parallel, the
    * grouped-percentile shape — and (b) the dup check, a fingerprint-
    * cardinality aggregate joined back semi-style. Integer ppm shares
    * keep the card hash-stable.
    */
  def dataCard(docs: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("unknown")).as("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok"),
        TextAnalysis.fingerprint(col("text")).as("efp"))
      .persistTracked()
    val vol = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
    val med = base
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("tok", "doc_id")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rn") === expr("(cnt + 1) div 2")) // type-1 lower median
      .select(col("source"), col("tok").as("p50_tokens"))
    val lang = base.groupBy("source", "lang").agg(count(lit(1)).as("ln"))
      .withColumn("rn", row_number().over(Window.partitionBy("source")
        .orderBy(desc("ln"), desc("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("ln"))
    val dupFp = base.groupBy("efp").agg(count(lit(1)).as("nfp"))
      .filter(col("nfp") > 1).select("efp")
    val dup = base.join(dupFp, Seq("efp"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("dup_docs"))
    vol.join(med, Seq("source"))
      .join(lang, Seq("source"))
      .join(dup, Seq("source"), "left")
      .na.fill(0L, Seq("dup_docs"))
      .select(col("source"), col("n_docs"), col("tokens"), col("p50_tokens"),
        col("top_lang"),
        expr("ln * 1000000 div n_docs").as("top_lang_ppm"),
        col("dup_docs"),
        expr("dup_docs * 1000000 div n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  /** The composed curation pipeline (see q_curation_funnel's comment):
    * blocklist → quality cut → exact dedup → per-source cap, each stage
    * consuming the previous stage's survivors; one (stage, docs) row per
    * stage. `capK` is parameterized so tests can plant a corpus that
    * exercises every stage's shrink.
    */
  def curationFunnel(docs: DataFrame, qualityCut: Double = 0.4,
                     capK: Int = 100): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val blockedArr = array(Seq("slow", "dup", "broken").map(lit): _*)
    val s0 = docs
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .persistTracked()
    val s1 = s0.filter(size(filter(
      TextAnalysis.tokens(lower(col("text"))),
      t => array_contains(blockedArr, t))) === 0).persistTracked()
    val s2 = s1.filter(round(TextAnalysis.qualityScore(col("text")), 2)
      >= qualityCut).persistTracked()
    val keep = s2.groupBy(TextAnalysis.fingerprint(col("text")).as("efp"))
      .agg(min(col("doc_id")).as("doc_id"))
    val s3 = s2.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .persistTracked()
    val s4 = graft.plans.TopKPerKey.topKPerKey(
      s3.select("doc_id", "source", "n_chars"),
      keys = Seq("source"),
      order = Seq(("n_chars", false), ("doc_id", true)), k = capK)
    def stage(ord: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("docs"))
        .select(lit(ord).as("stage_order"), lit(name).as("stage"),
          col("docs"))
    stage(1, "raw", s0)
      .unionByName(stage(2, "blocklist", s1))
      .unionByName(stage(3, "quality", s2))
      .unionByName(stage(4, "exact_dedup", s3))
      .unionByName(stage(5, "source_cap", s4))
      .orderBy("stage_order")
  }

  /** Cohen's kappa inter-annotator agreement (Cohen 1960) between two
    * deterministic heuristic labelers over the corpus, per source plus a
    * pooled ALL row — the labeling-pipeline QA readout: raw agreement
    * (po) is inflated by chance; kappa subtracts the agreement two
    * INDEPENDENT raters with these marginals would reach (pe). Here
    * rater A = `n_chars ≥ 280`, rater B = `token count ≥ 45` — two
    * correlated-but-distinct length heuristics, the same shape as two
    * model-graders scoring the same docs. Degenerate slices (pe = 1,
    * both raters constant) yield null kappa, not a divide error.
    *
    * Scale posture: one corpus pass to a source-cardinality frame of
    * exact counts (map-side combined); po/pe/kappa are per-ROW double
    * expressions of those exact counts — no cross-row float work, no
    * window, no second pass. The pooled row reuses the per-source
    * counts (no rescan).
    */
  def cohenKappa(docs: DataFrame): DataFrame = {
    val cell = docs.filter(col("source").isNotNull)
      .select(col("source"),
        (col("n_chars") >= 280L).cast("int").as("a"),
        (TextAnalysis.tokenCount(col("text")) >= 45).cast("int").as("b"))
    val perSrc = cell.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
      sum("a").as("na1"), sum("b").as("nb1"))
    val pooled = perSrc
      .agg(sum("n").as("n"), sum("agree").as("agree"),
        sum("na1").as("na1"), sum("nb1").as("nb1"))
      .select(lit("ALL").as("source"), col("n"), col("agree"),
        col("na1"), col("nb1"))
    val nD = col("n").cast("double")
    val po = col("agree").cast("double") / nD
    val p1 = col("na1").cast("double") / nD
    val p2 = col("nb1").cast("double") / nD
    val pe = p1 * p2 + (lit(1.0) - p1) * (lit(1.0) - p2)
    perSrc.unionByName(pooled)
      .select(col("source"), col("n"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        when(pe === 1.0, lit(null).cast("double"))
          .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
      .orderBy("source")
  }

  /** Fleiss' kappa (Fleiss 1971) — [[cohenKappa]] generalized to m > 2
    * raters: per item, agreement P_i = (Σ_j n_ij² − m) / (m(m−1)) over
    * category assignment counts n_ij; chance agreement P̄e = Σ_j p̄_j²
    * from the pooled category shares. Three deterministic binary raters
    * here (char-length, token-count, and BPE-token-count thresholds —
    * the two-rater pair plus a third, differently-biased length
    * heuristic). One overall row.
    *
    * Exactness: with binary categories and m = 3, every per-item count
    * is an integer, so Σ P_i aggregates as exact integer sums (ΣΣn²
    * and the m terms); P̄o/P̄e/kappa are one float tree over those exact
    * scalars — no cross-row float accumulation at all.
    *
    * Scale posture: one corpus pass computing the three indicator
    * columns per row (pure map), aggregated to FOUR integer scalars
    * map-side; everything else is scalar arithmetic.
    */
  def fleissKappa(docs: DataFrame): DataFrame = {
    val r1 = (col("n_chars") >= 280L).cast("int")
    val r2 = (TextAnalysis.tokenCount(col("text")) >= 45).cast("int")
    val r3 = (TextAnalysis.bpeTokenCount(col("text")) >= 60).cast("int")
    val per = docs.select((r1 + r2 + r3).as("pos")) // n_i,positive ∈ 0..3
    // P_i = (pos² + (3-pos)² - 3) / 6; Σ over items as exact ints
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("pos") * col("pos")
        + (lit(3) - col("pos")) * (lit(3) - col("pos"))).as("ssq"),
      sum(col("pos")).as("tpos"))
    val nD = col("n").cast("double")
    val po = (col("ssq").cast("double") - lit(3.0) * nD) / (lit(6.0) * nD)
    val pj = col("tpos").cast("double") / (lit(3.0) * nD)
    val pe = pj * pj + (lit(1.0) - pj) * (lit(1.0) - pj)
    m.select(col("n").as("n_items"), round(po, 6).as("po"),
      round(pe, 6).as("pe"),
      when(pe === 1.0, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** ITERATIVE PROPORTIONAL FITTING / raking (Deming & Stephan 1940) of
    * the (source × lang) document-mix table: calibrate cell weights so
    * the SOURCE marginal becomes uniform (the mix-rebalancing goal the
    * temperature/water-filling operators approximate one-dimensionally)
    * while the LANG marginal stays at its observed distribution — the
    * classic two-constraint mix solve neither can express. Output is the
    * per-cell reweight (mass + ratio vs input), i.e. the sampling-rate
    * table a 100 TB mixer consumes.
    *
    * Fixed-point integer replay (the q_pagerank contract): masses are
    * SCALE = 10^12 units, every scaling step is (w · target) div current
    * with DECIMAL(38,0)/HUGEINT products (the q_mde width idiom), so
    * DuckDB replays all rounds bit-for-bit. Exactly `rounds` row+col
    * scalings — raking converges geometrically; 3 rounds lands marginal
    * errors in the low ppm on this table (spec-asserted), and the round
    * count is the knob, not the shape.
    *
    * Scale posture: ONE corpus aggregate builds the cell table (map-side
    * combined to source×lang cardinality); every iteration touches only
    * that tiny frame (marginal sums are group-bys of it; each round
    * persists — the kcore lesson). The one driver scalar is the source
    * count (the q_pagerank posture).
    */
  def ipfRaking(docs: DataFrame, rounds: Int = 3): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val SCALE = 1000000000000L
    // cell mass = CHARACTERS, not documents: the corpus generator hands
    // every source the same doc count (a uniform doc marginal would make
    // raking a no-op); char budgets differ per source, so "uniform
    // source char budget × observed lang mix" is a real two-sided solve
    // source×lang-cardinality frames cache SINGLE-partition (the
    // markovStationary rationale: a 32-partition cached layout spawns 32
    // near-empty tasks in every one of the ~44 raking-round stages)
    val cells = docs.filter(col("source").isNotNull && col("lang").isNotNull)
      .groupBy("source", "lang").agg(sum(col("n_chars")).as("n"))
      .coalesce(1).persistTracked()
    val tot = cells.agg(sum(col("n")).as("nn"))
    val nSrc = cells.select("source").distinct().count()
    val tRow = SCALE / nSrc
    var w = cells.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n"),
        expr(s"n * $SCALE div nn").as("w0"))
      .withColumn("w", col("w0"))
      .coalesce(1).persistTracked()
    val tCol = w.groupBy("lang").agg(sum(col("w")).as("tl"))
      .coalesce(1).persistTracked()
    for (_ <- 1 to rounds) {
      val rs = w.groupBy("source").agg(sum(col("w")).as("rs"))
      val rowScaled = w.join(rs, Seq("source"))
        .select(col("source"), col("lang"), col("n"), col("w0"),
          expr(s"CAST(w AS DECIMAL(38,0)) * $tRow div rs").as("w"))
      val cs = rowScaled.groupBy("lang").agg(sum(col("w")).as("cs"))
      w = rowScaled.join(cs, Seq("lang")).join(broadcast(tCol), Seq("lang"))
        .select(col("source"), col("lang"), col("n"), col("w0"),
          expr("CAST(w AS DECIMAL(38,0)) * tl div cs").as("w"))
        .coalesce(1).persistTracked()
    }
    w.select(col("source"), col("lang"), col("n").as("n_chars_total"),
        col("w").as("weight_mass"),
        expr("w * 1000000 div w0").as("ratio_ppm"))
      .orderBy("source", "lang")
  }

  /** One DuckDB raking round (replays the Spark round exactly: HUGEINT
    * products, `//` floors — all operands positive so floor ≡ truncate).
    */
  private def ipfRoundSql(t: Int): String = {
    val prev = if (t == 1) "w0" else s"c${t - 1}"
    s"""r$t AS (
       | SELECT source, lang, n, w0, CAST(CAST(w AS HUGEINT)
       |   * (1000000000000 // (SELECT k FROM nsrc)) // rs AS BIGINT) AS w
       | FROM $prev JOIN (SELECT source, CAST(sum(w) AS BIGINT) AS rs
       |                  FROM $prev GROUP BY 1) USING (source)),
       |c$t AS (
       | SELECT source, lang, n, w0,
       |  CAST(CAST(w AS HUGEINT) * tl // cs AS BIGINT) AS w
       | FROM r$t JOIN (SELECT lang, CAST(sum(w) AS BIGINT) AS cs
       |                FROM r$t GROUP BY 1) USING (lang)
       |      JOIN tcol USING (lang))""".stripMargin
  }

  /** LEAVE-ONE-SOURCE-OUT impact — data-valuation-lite for the mix
    * table: for each source, how would two corpus-level metrics move if
    * the source were dropped (Δ mean doc length, Δ English share)? The
    * first-order "which source drags the corpus" readout teams consult
    * before the heavier mix solvers (q_ipf_raking / q_waterfill_mix);
    * LOSO is exact here, not a gradient approximation, because both
    * metrics are ratios of sums: corpus-minus-source = totals minus the
    * source's own sums. ONE map-side-combined aggregate to source
    * cardinality + a broadcast totals row — never k corpus re-scans.
    */
  def losoImpact(docs: DataFrame): DataFrame = {
    val en = (col("lang") === "en").cast("long")
    val g = docs.filter(col("source").isNotNull && col("n_chars").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"),
        sum(en).as("ne"))
    val tot = g.agg(sum(col("n")).as("nt"), sum(col("sc")).as("sct"),
      sum(col("ne")).as("net"))
    def db(c: String) = col(c).cast("double")
    val meanWithout = (db("sct") - db("sc")) / (db("nt") - db("n"))
    val meanWith = db("sct") / db("nt")
    val enWithout = (db("net") - db("ne")) / (db("nt") - db("n"))
    val enWith = db("net") / db("nt")
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        round(meanWithout - meanWith, 6).as("delta_mean_chars"),
        round(enWithout - enWith, 6).as("delta_en_share"))
      .orderBy("source")
  }

  /** DSIR per-doc log-weights (doc_id, n_feats, lw) — the shared frame
    * behind q_dsir_weights (threshold selection) and q_ess_weights
    * (resampling-health diagnostic). See q_dsir_weights for the model.
    */
  def dsirPerDoc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.CacheScope.TrackedDataset
    val buckets = 256
    // spread the single-row-group scan; hash token+bigram features with
    // the native one-pass md5 (order/multiplicity-preserving). The old
    // per-feature conv(substring(md5(f),1,8),16,10) tree takes the TOP 32
    // BITS of the digest; md5_60 is the top 60, so h_old ≡ md5_60 >> 28 —
    // exact, and ~10 µs/feature of interpreted expression goes away. One
    // explode over toks++bigrams replaces the two-branch union (same
    // multiset; union order never mattered to the aggregates).
    val toks = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        (col("lang") === "en").as("is_target"),
        TextAnalysis.tokens(lower(col("text"))).as("toks"))
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1), i =>
        concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1))))
      .otherwise(array().cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
    val feats = toks
      .select(col("doc_id"), col("is_target"),
        explode(graft.functions.NativeExpressions.tokenHashesMd5(s,
          concat(col("toks"), bigrams))).as("h60"))
      .select(col("doc_id"), col("is_target"),
        (shiftright(col("h60"), 28) % buckets).as("h"))
      .persistTracked()
    val stats = feats.groupBy("h").agg(
      count(lit(1)).as("cr"),
      coalesce(sum(when(col("is_target"), 1L)), lit(0L)).as("ct"))
    val tot = stats.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val term = round(
      log(col("ct") + 1.0) - log((col("tt") + buckets).cast("double")) -
        log(col("cr") + 1.0) + log((col("tr") + buckets).cast("double")),
      6).cast(DecimalType(18, 6))
    feats.join(broadcast(stats), Seq("h"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), term.as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("t")).cast("double").as("lw"))
  }

  /** UCB1 ADAPTIVE SOURCE SELECTION (Auer et al. 2002) — the bandit
    * view of corpus mixing: each source is an arm, reward = the doc
    * survives the length screen (n_chars ≥ 256 — the truncation-plan
    * threshold family), and UCB = mean + √(2 ln N / n) says which
    * source an adaptive curation loop samples NEXT (exploit high keep
    * rates, explore under-sampled sources). The static counterpart of
    * the online loop: at 100 TB the table updates incrementally per
    * ingest batch and the argmax drives the next crawl allocation.
    * Exact integer counts to source cardinality; UCB one double tree;
    * argmax flagged via the bounded source-frame max (no corpus
    * window). Ties break to the lexicographically first source.
    */
  def ucbMix(docs: DataFrame, minChars: Long = 256L): DataFrame = {
    val g = docs.filter(col("source").isNotNull && col("n_chars").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum((col("n_chars") >= minChars).cast("long")).as("keeps"))
    val tot = g.agg(sum(col("n")).as("nn"))
    def db(c: String) = col(c).cast("double")
    val ucb = db("keeps") / db("n") +
      sqrt(lit(2.0) * log(db("nn")) / db("n"))
    val scored = g.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"), col("keeps"),
        expr("keeps * 1000000 div n").as("keep_ppm"),
        round(ucb, 6).as("ucb"))
    scored.crossJoin(broadcast(
        scored.orderBy(desc("ucb"), asc("source")).limit(1)
          .select(col("source").as("chosen_src"))))
      .withColumn("chosen", col("source") === col("chosen_src"))
      .drop("chosen_src")
      .orderBy("source")
  }

  /** χ² GOODNESS-OF-FIT of the source token mix against the uniform
    * target (the q_source_mix resampling goal): did the resampled/
    * curated corpus actually LAND on the intended mix? q_srm_check is
    * the two-arm special case of exactly this gate; here every source
    * is a cell, expected mass = T/k. Emits the χ² statistic with its
    * dof and the worst single-source deviation (ppm) so the offender is
    * named, not just detected.
    *
    * Scale posture: one source-cardinality aggregate; χ² folds
    * 6dp-decimal per-cell terms.
    */
  def mixGof(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = docs.groupBy("source")
      .agg(sum(graft.operators.TextAnalysis.tokenCount(col("text"))
        .cast("long")).as("nt"))
    val tot = per.agg(sum(col("nt")).as("tt"), count(lit(1)).as("k"))
    def d(c: Column) = c.cast("double")
    val e = d(col("tt")) / d(col("k"))
    val term = (d(col("nt")) - e) * (d(col("nt")) - e) / e
    // DECIMAL(38,0) before the ppm scaling: at the 100 TB posture nt is
    // ~1e13+ tokens, so nt*1e6 overflows Long (ANSI ARITHMETIC_OVERFLOW);
    // the decimal product holds 20 digits comfortably and `div` still
    // returns BIGINT. Mirrors the shuffleQuality N²-term recipe.
    val devPpm = abs(expr("CAST(nt AS DECIMAL(38,0)) * 1000000 div tt") -
      expr("1000000 div k"))
    per.crossJoin(broadcast(tot))
      .select(col("k"), round(term, 6).cast(DecimalType(28, 6)).as("t"),
        devPpm.as("dev"))
      .groupBy("k")
      .agg(sum(col("t")).cast("double").as("chi2"), max(col("dev")).as("md"))
      .select(col("k").as("n_sources"), (col("k") - 1).as("dof"),
        round(col("chi2"), 6).as("chi2"),
        col("md").as("max_dev_ppm"))
  }

  /** EXCESS-LOSS DOMAIN REWEIGHTING (the DoReMi shape, Xie et al. 2023
    * arXiv:2305.10429, static one-step form): per-source proxy loss =
    * mean corpus-LM surprisal ([[TextAnalysis.knSurprisal]]); excess =
    * loss − token-weighted corpus baseline; mixture weights = softmax of
    * η·excess, smoothed toward uniform (α = (1−c)·w + c/k). Sources the
    * corpus LM finds HARD get upweighted — the exponentiated-gradient
    * fixed point DoReMi's proxy-training loop converges to when the
    * reference losses are held fixed, which is exactly the information
    * available without a proxy-training run (documented approximation,
    * not a hidden one).
    *
    * Exactness: surprisal terms are already a 6dp-decimal fold; here the
    * baseline's token-weighted products and the softmax terms round to
    * fixed-scale DECIMAL before their source-cardinality folds, so both
    * engines replay bit-for-bit. Scale posture: everything past the
    * surprisal aggregate is k-row arithmetic (k = source cardinality,
    * broadcast-class forever).
    */
  def domainReweight(docs: DataFrame, eta: Double = 1.0,
                     smooth: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sur = TextAnalysis.knSurprisal(docs)
      .select(col("source"), col("n_bigrams"), col("kn_bits"))
    def d(c: Column) = c.cast("double")
    val tot = sur.agg(sum(col("n_bigrams")).as("tb"),
      sum(round(col("kn_bits") * d(col("n_bigrams")), 6)
        .cast(DecimalType(28, 6))).as("wb"),
      count(lit(1)).as("k"))
    val excess = col("kn_bits") - d(col("wb")) / d(col("tb"))
    val t2 = sur.crossJoin(broadcast(tot))
      .select(col("source"), col("n_bigrams"), col("kn_bits"), col("k"),
        excess.as("excess"),
        round(exp(lit(eta) * excess), 12)
          .cast(DecimalType(28, 12)).as("term"))
    val sw = t2.agg(sum(col("term")).as("sumw"))
    val w = d(col("term")) / d(col("sumw"))
    val alpha = (lit(1.0) - lit(smooth)) * w + lit(smooth) / d(col("k"))
    t2.crossJoin(broadcast(sw))
      .select(col("source"), col("n_bigrams"), col("kn_bits"),
        round(col("excess"), 6).as("excess_bits"),
        round(w, 6).as("weight"),
        round(alpha, 6).as("alpha"))
      .orderBy("source")
  }

  /** CCNet HEAD/MIDDLE/TAIL PERPLEXITY BUCKETS (Wenzek et al. 2020's
    * released corpus partition): docs cut into equal thirds of the
    * corpus-LM surprisal distribution, reported as per-source bucket
    * shares — the table that tells a curation run which sources are
    * fluent-typical (head-heavy) vs atypical (tail-heavy), and the
    * standard pre-filtering readout before a perplexity cut is chosen.
    *
    * Exactness: tercile boundaries are INTEGER comparisons on the
    * centibit value spine (cum·3 ≤ n / cum·3 ≤ 2n — the q_abc_classes
    * boundary idiom), so no float share can flip a doc at the cut.
    *
    * Scale posture: the per-doc surprisal frame cuts on CENTIBIT levels
    * (2dp), so the cumulative window runs on a ≤few-thousand-row value
    * spine, never doc cardinality; the rollup is source×3.
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.CacheScope.TrackedDataset
    val per = TextAnalysis.knDocSurprisal(docs)
      .select(col("source"),
        round(col("kn_bits") * 100, 0).cast("long").as("cb2"))
      .persistTracked()
    val spine = per.groupBy("cb2").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy("cb2")))
    val tot = per.agg(count(lit(1)).as("n"))
    val bucketed = per.join(spine.select("cb2", "cum"), Seq("cb2"))
      .crossJoin(broadcast(tot))
      .select(col("source"),
        when(col("cum") * 3 <= col("n"), "head")
          .when(col("cum") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
    val bySrc = bucketed.groupBy("source")
      .agg(count(lit(1)).as("src_docs"))
    bucketed.groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(bySrc), Seq("source"))
      .select(col("source"), col("bucket"), col("n_docs"),
        expr("n_docs * 1000000 div src_docs").as("share_ppm"))
      .orderBy("source", "bucket")
  }

  /** Herfindahl–Hirschman concentration of the source token mix — see
    * the q_hhi_sources entry comment.
    */
  def hhiSources(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = docs.groupBy("source")
      .agg(sum(graft.operators.TextAnalysis.tokenCount(col("text"))
        .cast("long")).as("nt"))
    val tot = per.agg(sum(col("nt")).as("tt"), count(lit(1)).as("k"))
    val share = col("nt").cast("double") / col("tt").cast("double")
    val terms = per.crossJoin(broadcast(tot))
      .select(col("k"),
        round(share * share, 6).cast(DecimalType(18, 6)).as("t"))
    terms.groupBy("k").agg(sum(col("t")).cast("double").as("hhi"))
      .select(col("k").as("n_sources"), round(col("hhi"), 6).as("hhi"),
        round(lit(1.0) / col("hhi"), 6).as("effective_sources"))
  }

  // ===== DuckDB oracles =====

  private val toksSql =
    """list_filter(string_split_regex(text, '\s+'), t -> t <> '')"""

  private def h64(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** 5-gram shingles of a toks list (mirrors Dedup.shingles). */
  private def shinglesSql(toks: String, n: Int): String =
    s"""list_distinct(
       | CASE WHEN len($toks) < $n THEN [array_to_string($toks, ' ')]
       |      ELSE list_transform(range(1, len($toks) - ${n - 2}),
       |             i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' ')) END)""".stripMargin

  /** Shared DuckDB DSIR CTE chain ending in `pd(doc_id, n_feats, lw)`
    * — used by the q_dsir_weights and q_ess_weights oracles.
    */
  private val dsirPdCtes: String =
    """toks AS (
      | SELECT doc_id, lang = 'en' AS is_target,
      |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      | FROM documents),
      |uni AS (SELECT doc_id, is_target, unnest(toks) AS f FROM toks),
      |bi AS (
      | SELECT doc_id, is_target,
      |  unnest(list_transform(range(1, len(toks)),
      |   i -> toks[i] || ' ' || toks[i + 1])) AS f
      | FROM toks WHERE len(toks) >= 2),
      |feats AS (
      | SELECT doc_id, is_target,
      |  CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 256 AS h
      | FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      |stats AS (
      | SELECT h, CAST(count(*) AS BIGINT) AS cr,
      |  CAST(COALESCE(sum(CASE WHEN is_target THEN 1 ELSE 0 END), 0)
      |   AS BIGINT) AS ct
      | FROM feats GROUP BY 1),
      |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
      |        CAST(sum(ct) AS BIGINT) AS tt FROM stats),
      |pd AS (
      | SELECT doc_id, count(*) AS n_feats,
      |  CAST(sum(CAST(round(ln(ct + 1.0) - ln(CAST(tt + 256 AS DOUBLE))
      |   - ln(cr + 1.0) + ln(CAST(tr + 256 AS DOUBLE)), 6)
      |   AS DECIMAL(18,6))) AS DOUBLE) AS lw
      | FROM feats JOIN stats USING (h) CROSS JOIN tot GROUP BY doc_id)""".stripMargin

  // DuckDB twin of [[hrwShard]]: the same packed-BIGINT argmax
  private def hrwSql(n: Int): String = (0 until n).map { sh =>
    s"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':$sh'), 1, 13) AS BIGINT) * 16 + $sh"
  }.mkString("greatest(", ", ", ") % 16")

  def entries: Seq[Q] = Seq(
    Q("q_ucb_mix", { (s, d) => ucbMix(Tables.documents(s, d)) },
      """WITH g AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN n_chars >= 256 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS keeps
        | FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM g),
        |sc AS (
        | SELECT source, n AS n_docs, keeps,
        |  CAST(keeps * 1000000 // n AS BIGINT) AS keep_ppm,
        |  round(CAST(keeps AS DOUBLE) / CAST(n AS DOUBLE)
        |   + sqrt(2.0 * ln(CAST(nn AS DOUBLE)) / CAST(n AS DOUBLE)), 6)
        |   AS ucb
        | FROM g CROSS JOIN t),
        |best AS (SELECT source AS chosen_src FROM sc
        |         ORDER BY ucb DESC, source ASC LIMIT 1)
        |SELECT source, n_docs, keeps, keep_ppm, ucb,
        | source = chosen_src AS chosen
        |FROM sc CROSS JOIN best ORDER BY source""".stripMargin),
    // DoReMi-shape source reweighting: softmax of corpus-LM excess loss.
    // same KN surprisal frame (shared CTE strings), same 6dp/12dp folds
    Q("q_domain_reweight", { (s, d) =>
      domainReweight(Tables.documents(s, d)) },
      ("WITH " + TextAnalysis.knCountCtesSql + ",\n" +
        TextAnalysis.knTermsCteSql + ",\n" +
        """sur AS (
          | SELECT source, count(*) AS n_bigrams,
          |  round(CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          |   AS kn_bits
          | FROM terms GROUP BY 1),
          |tot AS (
          | SELECT CAST(sum(n_bigrams) AS BIGINT) AS tb,
          |  sum(CAST(round(kn_bits * CAST(n_bigrams AS DOUBLE), 6)
          |    AS DECIMAL(28,6))) AS wb,
          |  count(*) AS k
          | FROM sur),
          |rw AS (
          | SELECT source, n_bigrams, kn_bits, k,
          |  kn_bits - CAST(wb AS DOUBLE) / CAST(tb AS DOUBLE) AS excess,
          |  CAST(round(exp(1.0 * (kn_bits
          |    - CAST(wb AS DOUBLE) / CAST(tb AS DOUBLE))), 12)
          |   AS DECIMAL(28,12)) AS term
          | FROM sur CROSS JOIN tot),
          |sw AS (SELECT sum(term) AS sumw FROM rw)
          |SELECT source, n_bigrams, kn_bits,
          | round(excess, 6) AS excess_bits,
          | round(CAST(term AS DOUBLE) / CAST(sumw AS DOUBLE), 6) AS weight,
          | round((1.0 - 0.2) * (CAST(term AS DOUBLE)
          |   / CAST(sumw AS DOUBLE)) + 0.2 / CAST(k AS DOUBLE), 6) AS alpha
          |FROM rw CROSS JOIN sw ORDER BY source""".stripMargin)),
    // CCNet head/middle/tail perplexity thirds, per-source shares.
    // same per-doc KN surprisal (shared CTEs), same integer tercile cuts
    Q("q_ccnet_buckets", { (s, d) =>
      ccnetBuckets(Tables.documents(s, d)) },
      ("WITH " + TextAnalysis.knCountCtesSql + ",\n" +
        TextAnalysis.knTermsCteSql + ",\n" +
        TextAnalysis.knDocCteSql + ",\n" +
        """per AS (
          | SELECT source,
          |  CAST(round(kn_bits * 100, 0) AS BIGINT) AS cb2
          | FROM docsur),
          |spine AS (
          | SELECT cb2, CAST(sum(count(*)) OVER (ORDER BY cb2
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |  AS cum
          | FROM per GROUP BY 1),
          |tot AS (SELECT count(*) AS n FROM per),
          |bk AS (
          | SELECT source,
          |  CASE WHEN cum * 3 <= n THEN 'head'
          |       WHEN cum * 3 <= n * 2 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          | FROM per JOIN spine USING (cb2) CROSS JOIN tot),
          |bs AS (SELECT source, count(*) AS src_docs FROM bk GROUP BY 1)
          |SELECT source, bucket, count(*) AS n_docs,
          | CAST(count(*) * 1000000 // src_docs AS BIGINT) AS share_ppm
          |FROM bk JOIN bs USING (source)
          |GROUP BY source, bucket, src_docs
          |ORDER BY source, bucket""".stripMargin)),
    Q("q_loso_impact", { (s, d) => losoImpact(Tables.documents(s, d)) },
      """WITH g AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sc,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ne
        | FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |  CAST(sum(sc) AS BIGINT) AS sct, CAST(sum(ne) AS BIGINT) AS net
        | FROM g)
        |SELECT source, n AS n_docs,
        | round((CAST(sct AS DOUBLE) - CAST(sc AS DOUBLE))
        |   / (CAST(nt AS DOUBLE) - CAST(n AS DOUBLE))
        |  - CAST(sct AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS delta_mean_chars,
        | round((CAST(net AS DOUBLE) - CAST(ne AS DOUBLE))
        |   / (CAST(nt AS DOUBLE) - CAST(n AS DOUBLE))
        |  - CAST(net AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS delta_en_share
        |FROM g CROSS JOIN t ORDER BY source""".stripMargin),
    // IPF/raking: uniform-source × observed-lang mix calibration.
    Q("q_ipf_raking", { (s, d) => ipfRaking(Tables.documents(s, d)) }, {
      val rounds = (1 to 3).map(ipfRoundSql).mkString(",\n")
      s"""WITH cells AS (
         | SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS n
         | FROM documents
         | WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
         |nsrc AS (SELECT count(DISTINCT source) AS k FROM cells),
         |w0 AS (
         | SELECT source, lang, n,
         |  CAST(CAST(n AS HUGEINT) * 1000000000000 // nn AS BIGINT) AS w0,
         |  CAST(CAST(n AS HUGEINT) * 1000000000000 // nn AS BIGINT) AS w
         | FROM cells CROSS JOIN tot),
         |tcol AS (SELECT lang, CAST(sum(w) AS BIGINT) AS tl
         |         FROM w0 GROUP BY 1),
         |$rounds
         |SELECT source, lang, n AS n_chars_total, w AS weight_mass,
         | CAST(CAST(w AS HUGEINT) * 1000000 // w0 AS BIGINT) AS ratio_ppm
         |FROM c3 ORDER BY 1, 2""".stripMargin
    }),
    // Inter-annotator agreement between the two length heuristics.
    Q("q_cohen_kappa", { (s, d) => cohenKappa(Tables.documents(s, d)) },
      s"""WITH cell AS (
         | SELECT source,
         |  CASE WHEN n_chars >= 280 THEN 1 ELSE 0 END AS a,
         |  CASE WHEN len(${TextAnalysis.tokensSql("text")}) >= 45
         |       THEN 1 ELSE 0 END AS b
         | FROM documents WHERE source IS NOT NULL),
         |per AS (
         | SELECT source, count(*) AS n,
         |  sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
         |  sum(a) AS na1, sum(b) AS nb1
         | FROM cell GROUP BY 1),
         |uni AS (
         | SELECT source, n, agree, na1, nb1 FROM per
         | UNION ALL
         | SELECT 'ALL', sum(n), sum(agree), sum(na1), sum(nb1) FROM per),
         |r AS (
         | SELECT source, CAST(n AS BIGINT) AS n,
         |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |  CAST(na1 AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
         |  CAST(nb1 AS DOUBLE) / CAST(n AS DOUBLE) AS p2
         | FROM uni)
         |SELECT source, n, round(po, 6) AS po,
         | round(p1 * p2 + (1 - p1) * (1 - p2), 6) AS pe,
         | CASE WHEN p1 * p2 + (1 - p1) * (1 - p2) = 1 THEN NULL
         |  ELSE round((po - (p1 * p2 + (1 - p1) * (1 - p2)))
         |   / (1 - (p1 * p2 + (1 - p1) * (1 - p2))), 6) END AS kappa
         |FROM r ORDER BY source""".stripMargin),
    // Three-rater Fleiss' kappa over the length-heuristic panel.
    Q("q_fleiss_kappa", { (s, d) => fleissKappa(Tables.documents(s, d)) },
      s"""WITH per AS (
         | SELECT (CASE WHEN n_chars >= 280 THEN 1 ELSE 0 END
         |  + CASE WHEN len(${TextAnalysis.tokensSql("text")}) >= 45
         |     THEN 1 ELSE 0 END
         |  + CASE WHEN len(regexp_extract_all(text,
         |     '${TextAnalysis.bpeTokenPattern}')) >= 60
         |     THEN 1 ELSE 0 END) AS pos
         | FROM documents),
         |m AS (
         | SELECT count(*) AS n,
         |  sum(pos * pos + (3 - pos) * (3 - pos)) AS ssq,
         |  sum(pos) AS tpos
         | FROM per),
         |r AS (
         | SELECT CAST(n AS BIGINT) AS n_items,
         |  (CAST(ssq AS DOUBLE) - 3.0 * CAST(n AS DOUBLE))
         |   / (6.0 * CAST(n AS DOUBLE)) AS po,
         |  CAST(tpos AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)) AS pj
         | FROM m)
         |SELECT n_items, round(po, 6) AS po,
         | round(pj * pj + (1 - pj) * (1 - pj), 6) AS pe,
         | CASE WHEN pj * pj + (1 - pj) * (1 - pj) = 1 THEN NULL
         |  ELSE round((po - (pj * pj + (1 - pj) * (1 - pj)))
         |   / (1 - (pj * pj + (1 - pj) * (1 - pj))), 6) END AS kappa
         |FROM r""".stripMargin),
    // The per-source datasheet row (volume, shape, language, dup rate).
    Q("q_data_card", { (s, d) => dataCard(Tables.documents(s, d)) },
      s"""WITH base AS (
         | SELECT doc_id, source, COALESCE(lang, 'unknown') AS lang,
         |  CAST(len($toksSql) AS BIGINT) AS tok,
         |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS efp
         | FROM documents),
         |vol AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(tok) AS BIGINT) AS tokens FROM base GROUP BY 1),
         |med AS (
         | SELECT source, tok AS p50_tokens FROM (
         |  SELECT source, tok,
         |   row_number() OVER (PARTITION BY source ORDER BY tok, doc_id) AS rn,
         |   count(*) OVER (PARTITION BY source) AS cnt
         |  FROM base) WHERE rn = (cnt + 1) // 2),
         |lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS ln
         |       FROM base GROUP BY 1, 2),
         |tl AS (
         | SELECT source, lang AS top_lang, ln FROM (
         |  SELECT source, lang, ln, row_number() OVER (PARTITION BY source
         |    ORDER BY ln DESC, lang DESC) AS rn
         |  FROM lc) WHERE rn = 1),
         |dupfp AS (SELECT efp FROM base GROUP BY efp HAVING count(*) > 1),
         |dup AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS dup_docs FROM base
         | WHERE efp IN (SELECT efp FROM dupfp) GROUP BY 1)
         |SELECT v.source, n_docs, tokens, p50_tokens, top_lang,
         | ln * 1000000 // n_docs AS top_lang_ppm,
         | COALESCE(dup_docs, 0) AS dup_docs,
         | COALESCE(dup_docs, 0) * 1000000 // n_docs AS dup_ppm
         |FROM vol v JOIN med USING (source) JOIN tl USING (source)
         |LEFT JOIN dup USING (source) ORDER BY source""".stripMargin),

    // END-TO-END CURATION FUNNEL — the composed pipeline run: blocklist
    // strict keep → quality cut (≥ 0.4) → exact dedup (min-id keeper)
    // → per-source cap (100 best-by-length). One row per stage with the
    // surviving doc count — the release-notes funnel every curated
    // corpus publishes, and the gate that the stages actually COMPOSE
    // (each stage consumes the previous stage's survivors, not the raw
    // table). Stage frames persist once; counts are scalar aggregates;
    // the cap runs on the native TopKPerKey exec.
    Q("q_curation_funnel", { (s, d) =>
      curationFunnel(Tables.documents(s, d))
    },
      s"""WITH s0 AS (SELECT doc_id, source, n_chars, text FROM documents),
         |s1 AS (
         | SELECT * FROM s0
         | WHERE len(list_filter(
         |   list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''),
         |   t -> t IN ('slow', 'dup', 'broken'))) = 0),
         |s2 AS (SELECT * FROM s1
         |       WHERE round(${TextAnalysis.qualitySql}, 2) >= 0.4),
         |keep AS (
         | SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id,
         |   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS efp
         |  FROM s2) GROUP BY efp),
         |s3 AS (SELECT s2.* FROM s2
         |       WHERE doc_id IN (SELECT doc_id FROM keep)),
         |s4 AS (
         | SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM s3) WHERE rn <= 100)
         |SELECT 1 AS stage_order, 'raw' AS stage,
         | CAST((SELECT count(*) FROM s0) AS BIGINT) AS docs
         |UNION ALL SELECT 2, 'blocklist',
         | CAST((SELECT count(*) FROM s1) AS BIGINT)
         |UNION ALL SELECT 3, 'quality',
         | CAST((SELECT count(*) FROM s2) AS BIGINT)
         |UNION ALL SELECT 4, 'exact_dedup',
         | CAST((SELECT count(*) FROM s3) AS BIGINT)
         |UNION ALL SELECT 5, 'source_cap',
         | CAST((SELECT count(*) FROM s4) AS BIGINT)
         |ORDER BY stage_order""".stripMargin),
    // SKYLINE (Pareto frontier) DOC SELECTION (Börzsönyi et al. 2001 —
    // the classic DB operator Spark has no built-in for): the documents
    // not dominated in (token count ↑, distinct-token ratio ↑) — "no
    // other doc is at least as long AND at least as lexically rich,
    // strictly better in one". The multi-objective shortlist a curation
    // pass keeps when length and quality trade off.
    //
    // Scale path (vs the oracle's obviously-correct O(n²) NOT EXISTS):
    // grid-prune first — bucket docs by ⌊tokens/8⌋, broadcast the ~100-row
    // per-bucket max-ratio table, and drop any doc whose ratio ≤ the
    // running max over STRICTLY higher buckets (every doc there is
    // strictly longer, so ≥ ratio ⇒ dominated; no frontier point can be
    // pruned). One corpus map pass + a broadcast join kills ~all rows;
    // the exact dominance anti-join then runs on the surviving
    // frontier-candidate set only (dimension-class), never all-pairs.
    Q("q_skyline", { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("a"),
          round(size(array_distinct(TextAnalysis.tokens(lower(col("text")))))
            .cast("double") /
            TextAnalysis.tokenCount(col("text")).cast("double"), 6).as("b"))
        .filter(col("a") > 0)
      val bmax = docs.select(expr("a div 8").as("bk"), col("b"))
        .groupBy("bk").agg(max(col("b")).as("bm"))
      val W = org.apache.spark.sql.expressions.Window
      val wDesc = W.orderBy(desc("bk")).rowsBetween(W.unboundedPreceding, -1)
      // running max of bm over STRICTLY higher buckets (window over the
      // ~100-row bucket frame, not the corpus)
      val cm = bmax.withColumn("cm_higher", max(col("bm")).over(wDesc))
      val surv = docs.withColumn("bk", expr("a div 8"))
        .join(broadcast(cm.select(col("bk"), col("cm_higher"))), Seq("bk"))
        .filter(col("cm_higher").isNull || col("b") > col("cm_higher"))
        .select("doc_id", "a", "b")
      val e = surv.select(col("a").as("ea"), col("b").as("eb"))
      surv.join(broadcast(e),
          col("ea") >= col("a") && col("eb") >= col("b") &&
            (col("ea") > col("a") || col("eb") > col("b")), "left_anti")
        .select(col("doc_id"), col("a").as("n_tokens"),
          col("b").as("uniq_ratio"))
        .orderBy("doc_id")
    },
      s"""WITH d AS (
         | SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS a,
         |  round(CAST(len(list_distinct(list_filter(
         |    string_split_regex(lower(text), '\\s+'), t -> t <> ''))) AS DOUBLE)
         |   / CAST(len($toksSql) AS DOUBLE), 6) AS b
         | FROM documents WHERE len($toksSql) > 0)
         |SELECT doc_id, a AS n_tokens, b AS uniq_ratio FROM d
         |WHERE NOT EXISTS (
         | SELECT 1 FROM d e WHERE e.a >= d.a AND e.b >= d.b
         |  AND (e.a > d.a OR e.b > d.b))
         |ORDER BY doc_id""".stripMargin),

    // DETERMINISTIC NEGATIVE SAMPLING for contrastive training: per
    // anchor document, k pseudo-random negatives drawn by ranking
    // candidates on md5(anchor:candidate) — uniform, rerun/partitioning/
    // engine-stable (resumable training needs the SAME negatives every
    // epoch-0 rebuild) — with a same-source exclusion so near-context
    // docs can't leak in as "negatives" (the false-negative screen;
    // production swaps in the dup-cluster exclusion from q_dedup_clusters
    // the same way). Scale posture: anchors broadcast over one corpus
    // scan; the per-anchor k-smallest-hash selection runs on the native
    // TopKPerKey exec — map-side k-bounded heaps, the shuffle carries ≤ k
    // candidates per anchor per mapper, never a per-anchor sort.
    Q("q_negative_sample", { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "source")
      val anchors = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("source").as("qsrc"))
      val cand = docs.crossJoin(broadcast(anchors))
        .filter(col("doc_id") =!= col("qid") && col("source") =!= col("qsrc"))
        .select(col("qid"), col("doc_id").as("neg_id"),
          md5(concat_ws(":", col("qid"), col("doc_id"))).as("sample_key"))
      graft.plans.TopKPerKey.topKPerKey(cand, keys = Seq("qid"),
          order = Seq(("sample_key", true), ("neg_id", true)), k = 5)
        .orderBy("qid", "sample_key")
    },
      """WITH a AS (
        | SELECT doc_id AS qid, source AS qsrc FROM documents
        | WHERE doc_id < 5),
        |c AS (
        | SELECT a.qid, d.doc_id AS neg_id,
        |  md5(concat_ws(':', a.qid, d.doc_id)) AS sample_key
        | FROM documents d CROSS JOIN a
        | WHERE d.doc_id <> a.qid AND d.source <> a.qsrc)
        |SELECT qid, neg_id, sample_key FROM (
        | SELECT qid, neg_id, sample_key,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY sample_key, neg_id) AS rn
        | FROM c) WHERE rn <= 5 ORDER BY qid, sample_key""".stripMargin),
    // HRW resharding beats mod-hash by ~8x on moved keys at N=8 -> 9.
    Q("q_rendezvous_shard", { (s, d) =>
      reshardAudit(Tables.documents(s, d))
    },
      s"""WITH a AS (
         | SELECT
         |  ${hrwSql(8)} AS hrw8, ${hrwSql(9)} AS hrw9,
         |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
         |    % 8 AS mod8,
         |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
         |    % 9 AS mod9
         | FROM documents),
         |m AS (
         | SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hrw_moved,
         |  CAST(sum(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS mod_moved
         | FROM a),
         |b AS (
         | SELECT max(c) AS hrw_max_shard, min(c) AS hrw_min_shard FROM (
         |  SELECT hrw8, count(*) AS c FROM a GROUP BY 1))
         |SELECT n_docs, hrw_moved, hrw_moved * 1000000 // n_docs AS hrw_moved_ppm,
         | mod_moved, mod_moved * 1000000 // n_docs AS mod_moved_ppm,
         | hrw_max_shard, hrw_min_shard
         |FROM m CROSS JOIN b""".stripMargin),
    // Exact-k weighted sampling per source (A-ES) on the native top-k exec.
    Q("q_weighted_sample_k", { (s, d) =>
      weightedSampleK(Tables.documents(s, d), k = 10)
    },
      """WITH s AS (
        | SELECT source, doc_id,
        |  round(log2((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) + 0.5) / 4294967296.0)
        |    / len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), 6)
        |   AS es_key
        | FROM documents
        | WHERE source IS NOT NULL
        |  AND len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) > 0)
        |SELECT source, doc_id, es_key FROM (
        | SELECT *, row_number() OVER (PARTITION BY source
        |   ORDER BY es_key DESC, doc_id) AS rn FROM s)
        |WHERE rn <= 10 ORDER BY source, es_key DESC, doc_id""".stripMargin),
    // Decontamination: eval set = first 20 docs verbatim; report every
    // corpus doc sharing a 5-gram with them (the 20 themselves plus any
    // natural 5-gram collisions in the synthetic vocabulary).
    Q("q_decontaminate", { (s, d) =>
      val docs = Tables.documents(s, d)
      contaminationReport(docs, docs.filter(col("doc_id") < 20),
          hasher = Dedup.Md5Hash)
        .orderBy("doc_id")
    },
      s"""WITH shs AS (
         | SELECT doc_id, ${shinglesSql(toksSql, 5)} AS shs FROM documents),
         |hs AS (
         | SELECT doc_id, unnest(list_transform(shs, sh -> ${h64("sh")})) AS h
         | FROM shs),
         |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id < 20)
         |SELECT doc_id, count(*) AS n_shared
         |FROM hs WHERE h IN (SELECT h FROM ev)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Crawl novelty decay: first-seen 5-gram fraction per ingest batch.
    Q("q_novelty_decay", { (s, d) =>
      noveltyDecay(Tables.documents(s, d))
    },
      s"""WITH shs AS (
         | SELECT doc_id, ${shinglesSql(toksSql, 5)} AS shs FROM documents),
         |hs AS (
         | SELECT doc_id // 100 AS batch,
         |  unnest(list_transform(shs, sh -> ${h64("sh")})) AS h
         | FROM shs),
         |f AS (SELECT h, min(batch) AS fb FROM hs GROUP BY 1)
         |SELECT batch, count(*) AS n_grams,
         | CAST(sum(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT) AS novel,
         | CAST(sum(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT)
         |  * 1000000 // count(*) AS novelty_ppm
         |FROM hs JOIN f USING (h)
         |GROUP BY batch ORDER BY batch""".stripMargin),

    // HEAPS'-LAW FIT — q_novelty_decay's extrapolation partner: distinct
    // 5-gram vocabulary growth V(N) ≈ K·N^β fit by ln-ln OLS over the
    // cumulative (grams-seen, distinct-grams-seen) curve at ingest-batch
    // checkpoints. β near 1 = the crawl is nowhere near saturation
    // (every batch still mints new grams); β falling toward 0.5 = the
    // classic sublinear regime where doubling the crawl stops doubling
    // the vocabulary. Fit on SHINGLES, not word tokens: this corpus's
    // 31-word vocabulary saturates in batch 0, and a zero-variance
    // series has no slope (guarded: NULL r2/k instead of a divide —
    // Spark 4 ANSI throws even on double division by exact zero).
    // Exactness:
    // checkpoints are exact integers; ln values round to 6dp DECIMAL
    // and all OLS moments are exact decimal sums (the q_zipf_fit
    // convention); exp() once on the final intercept. Scale: the gram
    // stream collapses map-side to gram/batch-sized frames; windows run
    // on the batch spine only.
    Q("q_heaps_fit", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.CacheScope.TrackedDataset
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      // single-row-group local table: spread BEFORE the tokenize+shingle
      // explode so the cache build (the query's whole CPU cost, measured
      // 6.2 s single-task) uses every core; groupBy results are
      // partitioning-independent
      val tok = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(expr("doc_id div 100").as("batch"),
          explode(Dedup.shingles(
            TextAnalysis.tokens(col("text")), 5)).as("g"))
        .persistTracked()
      val perBatch = tok.groupBy("batch").agg(count(lit(1)).as("nt"))
      val firstSeen = tok.groupBy("g").agg(min(col("batch")).as("fb"))
        .groupBy(col("fb").as("batch")).agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("batch")
      val spine = perBatch.join(firstSeen, Seq("batch"), "left")
        .na.fill(0L, Seq("nv"))
        .select(col("batch"), sum(col("nt")).over(w).as("cn"),
          sum(col("nv")).over(w).as("cv"))
      val sums = spine.select(
          round(log(col("cn").cast("double")), 6).cast(dec).as("x"),
          round(log(col("cv").cast("double")), 6).cast(dec).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      val (sx, sy, sxy, sxx, syy) =
        (col("sx").cast("double"), col("sy").cast("double"),
          col("sxy").cast("double"), col("sxx").cast("double"),
          col("syy").cast("double"))
      val num = nD * sxy - sx * sy
      val den = nD * sxx - sx * sx
      val slope = num / den
      val den2 = den * (nD * syy - sy * sy)
      sums.select(col("n").as("n_points"),
        when(den =!= 0.0, round(slope, 6)).as("beta"),
        when(den =!= 0.0,
          round(exp((sy - slope * sx) / nD), 6)).as("k"),
        when(den2 =!= 0.0, round((num * num) / den2, 6)).as("r2"))
    },
      s"""WITH shs AS (
         | SELECT doc_id // 100 AS batch, ${shinglesSql(toksSql, 5)} AS shs
         | FROM documents),
         |tok AS (SELECT batch, unnest(shs) AS g FROM shs),
         |pb AS (SELECT batch, count(*) AS nt FROM tok GROUP BY 1),
         |fs AS (SELECT min(batch) AS fb FROM tok GROUP BY g),
         |nv AS (SELECT fb AS batch, count(*) AS nv FROM fs GROUP BY 1),
         |sp AS (
         | SELECT pb.batch,
         |  CAST(sum(pb.nt) OVER (ORDER BY pb.batch
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
         |  CAST(sum(COALESCE(nv.nv, 0)) OVER (ORDER BY pb.batch
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cv
         | FROM pb LEFT JOIN nv USING (batch)),
         |p AS (SELECT
         |  CAST(round(ln(CAST(cn AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         |  CAST(round(ln(CAST(cv AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
         | FROM sp),
         |s AS (SELECT count(*) AS n,
         |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |  CAST(sum(x*y) AS DOUBLE) AS sxy, CAST(sum(x*x) AS DOUBLE) AS sxx,
         |  CAST(sum(y*y) AS DOUBLE) AS syy FROM p)
         |SELECT n AS n_points,
         | CASE WHEN n*sxx - sx*sx <> 0.0
         |  THEN round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) END AS beta,
         | CASE WHEN n*sxx - sx*sx <> 0.0
         |  THEN round(exp((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n), 6)
         |  END AS k,
         | CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) <> 0.0
         |  THEN round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
         |   / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) END AS r2
         |FROM s""".stripMargin),

    // WATER-FILLING MIX ALLOCATION — spend a token budget of half the
    // corpus by capping every source at a COMMON level λ: sources with
    // avail ≤ λ keep everything (small sources are protected), heavy
    // sources are cut to λ, and λ is chosen so Σ min(avail, λ) = B.
    // The third mix-balancing primitive beside q_token_budget (uniform
    // split) and q_source_cap (fixed per-source row cap) — this one
    // derives the cap FROM the budget. Exact integer throughout: the
    // candidate level for "k smallest sources kept whole" is
    // λ_k = (B − P_k) div (n − k) on the sorted source spine (prefix
    // sums + one lag), and the unique k with prev_avail ≤ λ_k < avail
    // wins; floors mean Σ alloc ∈ (B − n, B]. Scale: the spine is
    // source-cardinality (bounded window); the corpus pays ONE
    // token-count aggregate.
    Q("q_waterfill_mix", { (s, d) =>
      waterfillMix(Tables.documents(s, d)
        .groupBy("source")
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("avail")))
    },
      s"""WITH a AS (
         | SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS avail
         | FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
         |       count(*) AS n FROM a),
         |sp AS (
         | SELECT source, avail,
         |  row_number() OVER (ORDER BY avail, source) AS r,
         |  CAST(sum(avail) OVER (ORDER BY avail, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pk,
         |  COALESCE(lag(avail) OVER (ORDER BY avail, source), 0) AS prev_avail
         | FROM a),
         |l AS (
         | SELECT CAST(min((total // 2 - (pk - avail)) // (n - r + 1)) AS BIGINT)
         |   AS lambda
         | FROM sp, t
         | WHERE (total // 2 - (pk - avail)) // (n - r + 1) >= prev_avail
         |   AND (total // 2 - (pk - avail)) // (n - r + 1) < avail)
         |SELECT source, avail AS avail_tokens,
         | least(avail, lambda) AS alloc_tokens,
         | lambda AS cap_level, avail > lambda AS capped
         |FROM a, l ORDER BY source""".stripMargin),
    // PII audit over a corpus with planted PII (the synthetic text has
    // none): first 20 docs get an email + phone + ip appended.
    Q("q_pii_audit", { (s, d) =>
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") < 20,
          concat(col("text"),
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com or 555-123-4567 at 192.168.0.1"))))
          .otherwise(col("text")).as("text"))
      piiAudit(planted)
        .filter(col("n_email") + col("n_phone") + col("n_ipv4") > 0)
        .orderBy("doc_id")
    }, {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      s"""WITH planted AS (
         | SELECT doc_id,
         |  CASE WHEN doc_id < 20 THEN text || ' contact user' || doc_id ||
         |   '@example.com or 555-123-4567 at 192.168.0.1' ELSE text END AS text
         | FROM documents),
         |audited AS (
         | SELECT doc_id,
         |  len(regexp_extract_all(text, '$email')) AS n_email,
         |  len(regexp_extract_all(text, '$phone')) AS n_phone,
         |  len(regexp_extract_all(text, '$ipv4')) AS n_ipv4,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '[EMAIL]', 'g'),
         |    '$phone', '[PHONE]', 'g'),
         |    '$ipv4', '[IP]', 'g')) AS redacted_fp
         | FROM planted)
         |SELECT * FROM audited
         |WHERE n_email + n_phone + n_ipv4 > 0 ORDER BY doc_id""".stripMargin
    }),
    // Source-mix report with uniform-target resampling rates.
    Q("q_source_mix", { (s, d) =>
      sourceMix(Tables.documents(s, d)).orderBy("source")
    },
      s"""WITH per_source AS (
         | SELECT source, count(*) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         | FROM documents GROUP BY source),
         |totals AS (
         | SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  count(*) AS n_sources FROM per_source)
         |SELECT source, n_docs, n_tokens,
         | round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
         | round(least(1.0, (1.0 / n_sources) /
         |   (CAST(n_tokens AS DOUBLE) / total_tokens)), 6) AS sample_rate
         |FROM per_source CROSS JOIN totals ORDER BY source""".stripMargin),
    // HERFINDAHL–HIRSCHMAN CONCENTRATION of the source token mix — the
    // antitrust-standard scalar beside q_gini_by_source's inequality
    // curve: HHI = Σ share², effective sources = 1/HHI (the "how many
    // sources do we REALLY have" number that decides whether the corpus
    // survives losing its biggest supplier). One source-cardinality
    // aggregate; HHI folds 6dp-decimal share² terms.
    Q("q_hhi_sources", { (s, d) => hhiSources(Tables.documents(s, d)) },
      s"""WITH per AS (
         | SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS nt
         | FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt, count(*) AS k
         |        FROM per),
         |terms AS (
         | SELECT k, CAST(round((CAST(nt AS DOUBLE) / CAST(tt AS DOUBLE))
         |   * (CAST(nt AS DOUBLE) / CAST(tt AS DOUBLE)), 6)
         |  AS DECIMAL(18,6)) AS t
         | FROM per CROSS JOIN tot)
         |SELECT k AS n_sources,
         | round(CAST(sum(t) AS DOUBLE), 6) AS hhi,
         | round(1.0 / CAST(sum(t) AS DOUBLE), 6) AS effective_sources
         |FROM terms GROUP BY k""".stripMargin),
    // Did the curated mix land on the uniform target? χ² GOF + worst
    // single-source deviation.
    Q("q_mix_gof", { (s, d) => mixGof(Tables.documents(s, d)) },
      s"""WITH per AS (
         | SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS nt
         | FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt, count(*) AS k
         |        FROM per),
         |terms AS (
         | SELECT k,
         |  CAST(round((CAST(nt AS DOUBLE) - CAST(tt AS DOUBLE)
         |      / CAST(k AS DOUBLE))
         |    * (CAST(nt AS DOUBLE) - CAST(tt AS DOUBLE) / CAST(k AS DOUBLE))
         |    / (CAST(tt AS DOUBLE) / CAST(k AS DOUBLE)), 6)
         |   AS DECIMAL(28,6)) AS t,
         |  abs(CAST(nt AS HUGEINT) * 1000000 // tt - 1000000 // k) AS dev
         | FROM per CROSS JOIN tot)
         |SELECT k AS n_sources, k - 1 AS dof,
         | round(CAST(sum(t) AS DOUBLE), 6) AS chi2,
         | CAST(max(dev) AS BIGINT) AS max_dev_ppm
         |FROM terms GROUP BY k""".stripMargin),
    // Temperature-flattened sampling weights (α = 0.5) — the mix the
    // sampler actually draws from, vs q_source_mix's uniform target.
    Q("q_mix_temperature", { (s, d) =>
      temperatureMix(Tables.documents(s, d))
    },
      """WITH b AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  sum(n_chars) AS tok
        | FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT sum(tok) AS tt FROM b),
        |f AS (
        | SELECT source, n_docs,
        |  CAST(tok AS DOUBLE) / CAST(tt AS DOUBLE) AS share_raw,
        |  CAST(round(sqrt(CAST(tok AS DOUBLE) / CAST(tt AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS w
        | FROM b CROSS JOIN t),
        |s AS (SELECT sum(w) AS sw FROM f)
        |SELECT source, n_docs, round(share_raw, 6) AS share,
        | round(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS p_temp,
        | round(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) / share_raw, 6) AS boost
        |FROM f CROSS JOIN s ORDER BY source""".stripMargin),

    // DATA-CONSTRAINED REPETITION PLAN (Muennighoff et al. 2023, "Scaling
    // Data-Constrained Language Models", arXiv:2305.16264: repeated data
    // holds value up to ~4 epochs, then returns decay to ~zero): given a
    // token budget of 3× the corpus's unique tokens and the sqrt-
    // temperature mix (the q_mix_temperature weights — sqrt, not pow(τ):
    // pow is not IEEE-correctly-rounded cross-engine), allocate each
    // source its target tokens, cap epochs at R_max = 4, and report the
    // DEFICIT the cap strands — the actionable column: deficit > 0 means
    // "go acquire more of this source", not "repeat it harder".
    // Scale posture: one fact pass to source-cardinality sums; everything
    // after lives on the ~|sources|-row frame with two broadcast scalars.
    Q("q_repetition_plan", { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val rMax = 4.0
      val mult = 3.0
      // planted scarce source: the natural corpus is uniform, so no source
      // ever hits the repetition cap — 3 docs re-labeled 'tiny_planted'
      // give the sqrt-temperature boost a genuinely data-constrained
      // source and exercise capped=true + deficit > 0 for real
      val docs = Tables.documents(s, d)
      val corpus = docs.select("source", "text").unionByName(
        docs.filter(col("doc_id") < 3)
          .select(lit("tiny_planted").as("source"), col("text")))
      val bySrc = corpus.filter(col("source").isNotNull)
        .groupBy("source")
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("u"))
      val tot = bySrc.agg(sum(col("u")).as("tu"))
      val share = col("u").cast("double") / col("tu").cast("double")
      val f = bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("u"), col("tu"),
          round(sqrt(share), 6).cast(DecimalType(18, 6)).as("w"))
      val sw = f.agg(sum(col("w")).as("sw"))
      val p = col("w").cast("double") / col("sw").cast("double")
      val tgt = p * mult * col("tu").cast("double")
      val epochsRaw = tgt / col("u").cast("double")
      f.crossJoin(broadcast(sw))
        .select(col("source"), col("u").as("unique_tokens"),
          round(p, 6).as("p_temp"),
          round(tgt, 6).as("target_tokens"),
          round(least(epochsRaw, lit(rMax)), 6).as("epochs"),
          (epochsRaw > rMax).as("capped"),
          round(greatest(tgt - col("u").cast("double") * rMax, lit(0.0)), 6)
            .as("deficit_tokens"))
        .orderBy("source")
    },
      s"""WITH corpus AS (
         | SELECT source, text FROM documents
         | UNION ALL
         | SELECT 'tiny_planted' AS source, text FROM documents
         | WHERE doc_id < 3),
         |b AS (
         | SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS u
         | FROM corpus WHERE source IS NOT NULL GROUP BY 1),
         |t AS (SELECT CAST(sum(u) AS BIGINT) AS tu FROM b),
         |f AS (
         | SELECT source, u, tu,
         |  CAST(round(sqrt(CAST(u AS DOUBLE) / CAST(tu AS DOUBLE)), 6)
         |    AS DECIMAL(18,6)) AS w
         | FROM b CROSS JOIN t),
         |s AS (SELECT sum(w) AS sw FROM f)
         |SELECT source, u AS unique_tokens,
         | round(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS p_temp,
         | round(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) * 3.0
         |   * CAST(tu AS DOUBLE), 6) AS target_tokens,
         | round(least(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) * 3.0
         |   * CAST(tu AS DOUBLE) / CAST(u AS DOUBLE), 4.0), 6) AS epochs,
         | (CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) * 3.0
         |   * CAST(tu AS DOUBLE) / CAST(u AS DOUBLE)) > 4.0 AS capped,
         | round(greatest(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) * 3.0
         |   * CAST(tu AS DOUBLE) - 4.0 * CAST(u AS DOUBLE), 0.0), 6)
         |  AS deficit_tokens
         |FROM f CROSS JOIN s ORDER BY source""".stripMargin),

    // PER-SOURCE DOCUMENT CAP — the pretraining-mix move that keeps any
    // one crawl domain from dominating the corpus: at most k docs per
    // source, best-first (longest doc wins, ties to the lower id). Runs
    // on the custom TopKPerKey operator, so the plan is the partial-heap
    // → single exchange → final-heap shape with NO per-source sort and a
    // shuffle that carries ≤ k docs per source per mapper — at 100 TB
    // the cap decides survivors while moving candidate rows only.
    Q("q_source_cap", { (s, d) =>
      graft.plans.TopKPerKey.topKPerKey(
          Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          keys = Seq("source"),
          order = Seq(("n_chars", false), ("doc_id", true)), k = 10)
        .orderBy("source", "doc_id")
    },
      """SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents)
        |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin),

    // BLOCKLIST HIT-RATE FILTER (the C4 "bad words" screen, Raffel et al.
    // 2020 §2.2 — docs with any hit dropped; RefinedWeb keeps a ratio):
    // per-doc hit counts against a small term list, computed as ONE
    // map-side projection — `size(filter(tokens, t ∈ blocked))` — so the
    // plan has ZERO exchanges before the output sort (an earlier shape
    // exploded every token, shuffled doc-cardinality counts, and joined
    // back: two shuffles + a join for what a single codegen'd HOF pass
    // computes; PlansSpec asserts the no-Exchange shape). The term list
    // embeds as an array literal (dictionary-sized — a real blocklist is
    // a few thousand terms, still literal/broadcast class); deployment
    // swaps the stand-in terms for the real list.
    Q("q_blocklist", { (s, d) =>
      val blockedArr = array(Seq("slow", "dup", "broken").map(lit): _*)
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"),
          size(filter(TextAnalysis.tokens(lower(col("text"))),
            t => array_contains(blockedArr, t))).cast("long").as("n_hits"))
        .select(col("doc_id"), col("n_hits"),
          (col("n_hits") === 0).as("keep_strict"),
          // RefinedWeb-style ratio keep: under 5% of tokens blocked
          (col("n") > 0 &&
            col("n_hits") * 100 < col("n") * lit(5)).as("keep_ratio"))
        .orderBy("doc_id")
    },
      s"""WITH tok AS (
         | SELECT doc_id, unnest(list_filter(
         |   string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
         | FROM documents),
         |h AS (
         | SELECT doc_id, count(*) AS n_hits FROM tok
         | WHERE token IN ('slow', 'dup', 'broken') GROUP BY 1),
         |n AS (SELECT doc_id,
         |       len(list_filter(string_split_regex(text, '\\s+'),
         |        t -> t <> '')) AS n
         |      FROM documents)
         |SELECT n.doc_id, COALESCE(n_hits, 0) AS n_hits,
         | COALESCE(n_hits, 0) = 0 AS keep_strict,
         | n > 0 AND COALESCE(n_hits, 0) * 100 < n * 5 AS keep_ratio
         |FROM n LEFT JOIN h ON n.doc_id = h.doc_id
         |ORDER BY n.doc_id""".stripMargin),

    // TOKEN-BUDGET EPOCH PLAN — given a training budget of 2× the corpus
    // token mass split uniformly across sources, how many epochs (passes)
    // does each source run? The repeat-factor table behind every
    // fixed-budget pretraining mix (sources under their share get
    // epochs > 1, heavy sources get < 1 = subsampled). Exact integer
    // arithmetic end-to-end (BIGINT div), so the plan is hash-stable:
    // one token-count aggregate at source cardinality, scalar broadcast.
    Q("q_token_budget", { (s, d) =>
      val perSrc = Tables.documents(s, d)
        .select(col("source"), TextAnalysis.tokenCount(col("text"))
          .cast("long").as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
      val tot = perSrc.agg(sum(col("tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tokens"),
          expr("(2 * total_tokens) div n_sources").as("budget_tokens"),
          expr("((2 * total_tokens) div n_sources) * 1000000 div tokens")
            .as("epochs_ppm"))
        .withColumn("oversampled", col("epochs_ppm") > 1000000L)
        .orderBy("source")
    },
      s"""WITH b AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS tokens
         | FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
         |       CAST(count(*) AS BIGINT) AS n_sources FROM b)
         |SELECT source, n_docs, tokens,
         | (2 * total_tokens) // n_sources AS budget_tokens,
         | ((2 * total_tokens) // n_sources) * 1000000 // tokens
         |  AS epochs_ppm,
         | ((2 * total_tokens) // n_sources) * 1000000 // tokens > 1000000
         |  AS oversampled
         |FROM b CROSS JOIN t ORDER BY source""".stripMargin),

    // CONTEXT-LENGTH TRUNCATION PLAN — given a model context of L
    // tokens, what does each source lose under truncate-at-L, and how
    // much of it should be SPLIT into multiple examples instead
    // (docs > 2L, where a single truncation discards the majority of
    // the document)? The per-source readout that decides the
    // truncate-vs-split policy before tokenizing a 100 TB corpus.
    // L=32 here: the synthetic corpus is 10–99 whitespace tokens per
    // doc (median 56), so 32 exercises BOTH tiers at every SF the way
    // a 2k–8k context would on real documents.
    // Exact integer arithmetic end-to-end (least/greatest on BIGINT
    // token counts, ppm via BIGINT div) — hash-stable. Scale posture:
    // one map pass to per-doc token counts, one source-cardinality
    // aggregate (map-side combined), no joins.
    Q("q_truncation_plan", { (s, d) =>
      val L = 32L
      val perDoc = Tables.documents(s, d)
        .select(col("source"), TextAnalysis.tokenCount(col("text"))
          .cast("long").as("tok"))
      perDoc.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("tok") > L, 1L).otherwise(0L)).as("n_trunc"),
          sum(when(col("tok") > 2 * L, 1L).otherwise(0L)).as("n_split"),
          sum(col("tok")).as("tokens"),
          sum(least(col("tok"), lit(L))).as("tokens_kept"),
          sum(greatest(col("tok") - L, lit(0L))).as("tokens_dropped"))
        .withColumn("kept_ppm",
          expr("tokens_kept * 1000000 div tokens"))
        .orderBy("source")
    },
      s"""WITH d AS (
         | SELECT source, CAST(len($toksSql) AS BIGINT) AS tok
         | FROM documents)
         |SELECT source,
         | count(*) AS n_docs,
         | CAST(sum(CASE WHEN tok > 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc,
         | CAST(sum(CASE WHEN tok > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
         | CAST(sum(tok) AS BIGINT) AS tokens,
         | CAST(sum(least(tok, 32)) AS BIGINT) AS tokens_kept,
         | CAST(sum(greatest(tok - 32, 0)) AS BIGINT) AS tokens_dropped,
         | CAST(sum(least(tok, 32)) AS BIGINT) * 1000000
         |  // CAST(sum(tok) AS BIGINT) AS kept_ppm
         |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): weight every raw document by how target-like its
    // hashed-n-gram distribution is, log w(x) = Σ_f log(p_target(f) /
    // p_raw(f)) under add-one-smoothed bag-of-hashed-ngrams models
    // (unigrams + bigrams hashed to 256 buckets; the paper's 10k-bucket
    // knob, scaled to this corpus). Target slice = lang='en' docs — the
    // in-domain sample a curator actually has. selected = logw ≥ exact
    // p90 (the deterministic stand-in for the paper's Gumbel resampling;
    // the weight table is the artifact either consumer uses).
    // Float determinism: each per-feature log term rounds to 6dp DECIMAL
    // before the order-independent per-doc decimal sum (the q_lm_score
    // idiom); the only doubles are ln() of exact integers.
    // Scale posture: features flow as (doc_id, bucket) longs — never
    // n-gram text; the model is a 256-row broadcast; the threshold is
    // one X4 exact-percentile pass over the doc-cardinality weight frame.
    Q("q_dsir_weights", { (s, d) =>
      val perDoc = dsirPerDoc(s, d)
      val thr = Analytics.exactPercentiles(perDoc, "lw", Seq("p90" -> 0.9))
      perDoc.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_feats"), round(col("lw"), 6).as("logw"),
          (col("lw") >= col("p90")).as("selected"))
        .orderBy("doc_id")
    },
      (s"WITH $dsirPdCtes,\n" +
        """thr AS (SELECT quantile_cont(lw, 0.9) AS p90 FROM pd)
          |SELECT doc_id, n_feats, round(lw, 6) AS logw, lw >= p90 AS selected
          |FROM pd, thr ORDER BY doc_id""".stripMargin)),

    // EFFECTIVE SAMPLE SIZE of the DSIR importance weights, PER SOURCE
    // (Kong 1992): ESS = (Σw)²/Σw² with w = exp(logw − max_s logw) —
    // the self-normalized form, shifted by the per-source max so exp
    // never overflows and the ratio is scale-invariant. THE diagnostic
    // importance resampling ships with: ESS/n near 1 means the source's
    // docs are exchangeable under the target; near 0 means a handful of
    // docs would dominate a resample (variance blow-up — cap weights or
    // re-model before trusting the mix). Shifted weights round to 6dp
    // DECIMAL (order-safe sums; w·w an exact decimal product); ESS is
    // one final double tree. Reuses the dsirPerDoc frame + a doc-
    // cardinality source join + source-cardinality aggregates.
    Q("q_ess_weights", { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val per = dsirPerDoc(s, d)
        .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
      val mx = per.groupBy("source").agg(max(col("lw")).as("mxl"))
      val w = round(exp(col("lw") - col("mxl")), 6).cast(DecimalType(18, 6))
      val g = per.join(broadcast(mx), Seq("source"))
        .select(col("source"), w.as("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sww"))
      def db(c: String) = col(c).cast("double")
      g.select(col("source"), col("n_docs"),
          round(db("sw") * db("sw") / db("sww"), 6).as("ess"),
          round(db("sw") * db("sw") / db("sww") / db("n_docs"), 6)
            .as("ess_ratio"))
        .orderBy("source")
    },
      (s"WITH $dsirPdCtes,\n" +
        """per AS (
          | SELECT pd.doc_id, pd.lw, d.source
          | FROM pd JOIN documents d USING (doc_id)),
          |mx AS (SELECT source, max(lw) AS mxl FROM per GROUP BY 1),
          |w AS (
          | SELECT per.source,
          |  CAST(round(exp(lw - mxl), 6) AS DECIMAL(18,6)) AS w
          | FROM per JOIN mx USING (source)),
          |g AS (
          | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  sum(w) AS sw, sum(w * w) AS sww
          | FROM w GROUP BY 1)
          |SELECT source, n_docs,
          | round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
          |   / CAST(sww AS DOUBLE), 6) AS ess,
          | round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
          |   / CAST(sww AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS ess_ratio
          |FROM g ORDER BY source""".stripMargin)),

    // OUT-OF-TIME (temporal) SPLIT + measured leakage audit — the holdout
    // forecast/time-series training needs (q_forecast_backtest consumes
    // exactly this boundary discipline): train < 80%-of-range, val < 90%,
    // test after, with boundaries computed in INTEGER seconds (lo + range
    // * 8 div 10) so both engines derive bit-identical cut points. The
    // audit follows q_group_split's measure-don't-assume posture, made
    // non-vacuous by being TWO-PASS: the assignment frame is joined back
    // to an independent re-read of the fact by event_id and future_leaks
    // counts train/val rows whose re-read timestamp lands at/after their
    // split's upper boundary — a timezone/normalization drift between the
    // assignment job and a consumer job (the classic temporal-split bug)
    // fails this gate loudly instead of silently training on the future.
    // users_spanning is reported per split and EXPECTED > 0 here: a
    // temporal split does not give entity disjointness — that column is
    // the printed reason q_group_split exists beside it.
    // Scale posture: bounds is a broadcast scalar row; the audit join is
    // key-partitioned fact-vs-fact (the one real shuffle, and it IS the
    // deliverable); user frames are user-cardinality.
    Q("q_temporal_split", { (s, d) =>
      val evRaw = Tables.events(s, d)
      val base = evRaw.select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"))
      val bounds = base.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi"))
        .select(expr("lo + (hi - lo) * 8 div 10").as("b1"),
          expr("lo + (hi - lo) * 9 div 10").as("b2"))
      val assign = base.crossJoin(broadcast(bounds))
        .select(col("event_id"), col("user_id"), col("b1"), col("b2"),
          when(col("sec") < col("b1"), "train")
            .when(col("sec") < col("b2"), "val")
            .otherwise("test").as("split"))
      val audit = evRaw.select(col("event_id"),
          unix_timestamp(col("ts")).as("sec_audit"))
        .join(assign, Seq("event_id"))
      val perSplit = audit.groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(when(
            (col("split") === "train" && col("sec_audit") >= col("b1")) ||
              (col("split") === "val" && col("sec_audit") >= col("b2")), 1L)),
            lit(0L)).as("future_leaks"))
      val us = assign.select("user_id", "split").distinct()
      val perUser = us.groupBy("user_id").agg(count(lit(1)).as("n_splits"))
      val users = us.join(perUser, Seq("user_id"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_users"),
          coalesce(sum(when(col("n_splits") > 1, 1L)), lit(0L))
            .as("users_spanning"))
      perSplit.join(users, Seq("split"))
        .select("split", "n_events", "future_leaks", "n_users",
          "users_spanning")
        .orderBy("split")
    },
      """WITH base AS (
        | SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS sec
        | FROM events),
        |bounds AS (
        | SELECT min(sec) + (max(sec) - min(sec)) * 8 // 10 AS b1,
        |  min(sec) + (max(sec) - min(sec)) * 9 // 10 AS b2
        | FROM base),
        |assign AS (
        | SELECT event_id, user_id, b1, b2, CASE
        |  WHEN sec < b1 THEN 'train'
        |  WHEN sec < b2 THEN 'val' ELSE 'test' END AS split
        | FROM base, bounds),
        |audit AS (
        | SELECT a.split, a.b1, a.b2, e2.sec AS sec_audit
        | FROM assign a JOIN (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events) e2 USING (event_id)),
        |per_split AS (
        | SELECT split, count(*) AS n_events,
        |  COALESCE(CAST(sum(CASE WHEN (split = 'train' AND sec_audit >= b1)
        |    OR (split = 'val' AND sec_audit >= b2)
        |    THEN 1 ELSE 0 END) AS BIGINT), 0) AS future_leaks
        | FROM audit GROUP BY 1),
        |us AS (SELECT DISTINCT user_id, split FROM assign),
        |pu AS (SELECT user_id, count(*) AS n_splits FROM us GROUP BY 1),
        |u AS (
        | SELECT split, count(*) AS n_users,
        |  COALESCE(CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS users_spanning
        | FROM us JOIN pu USING (user_id) GROUP BY 1)
        |SELECT split, n_events, future_leaks, n_users, users_spanning
        |FROM per_split JOIN u USING (split) ORDER BY split""".stripMargin),

    // GROUP-AWARE K-FOLD — the cross-validation generalization of
    // q_group_split: fold = md5-bucket of the USER (k=5), so every
    // user's history lives in exactly one fold (GroupKFold semantics).
    // Measured, not assumed: users_spanning must be 0 per fold, and the
    // balance columns expose the hash split's actual evenness (CV
    // variance estimates assume near-equal folds; a skewed hash would
    // silently widen them). Frames after the distinct are
    // user-cardinality; one fact pass for event counts.
    Q("q_group_kfold", { (s, d) =>
      val k = 5
      val fold = (conv(substring(md5(col("user_id").cast("string")), 1, 4),
        16, 10).cast("long") % k).cast("int")
      val ev = Tables.events(s, d).select(col("user_id"), fold.as("fold"))
      val us = ev.distinct()
      val perUser = us.groupBy("user_id").agg(count(lit(1)).as("n_folds"))
      val users = us.join(perUser, Seq("user_id"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_users"),
          coalesce(sum(when(col("n_folds") > 1, 1L)), lit(0L))
            .as("users_spanning"))
      ev.groupBy("fold").agg(count(lit(1)).as("n_events"))
        .join(users, Seq("fold"))
        .orderBy("fold")
    },
      """WITH ev AS (
        | SELECT user_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
        |   AS BIGINT) % 5 AS INTEGER) AS fold
        | FROM events),
        |us AS (SELECT DISTINCT user_id, fold FROM ev),
        |pu AS (SELECT user_id, count(*) AS n_folds FROM us GROUP BY 1),
        |u AS (
        | SELECT fold, count(*) AS n_users,
        |  COALESCE(CAST(sum(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS users_spanning
        | FROM us JOIN pu USING (user_id) GROUP BY 1),
        |e AS (SELECT fold, count(*) AS n_events FROM ev GROUP BY 1)
        |SELECT fold, n_events, n_users, users_spanning
        |FROM e JOIN u USING (fold) ORDER BY fold""".stripMargin),

    // GROUP-AWARE SPLIT — the leakage-safe train/val/test split: the
    // unit of assignment is the USER, not the event, so no user's
    // history straddles splits (the GroupShuffleSplit contract; an
    // event-level hash split leaks session context across the boundary).
    // The report proves it: per split, event and user counts plus the
    // count of users observed in more than one split — structurally 0
    // because split is a pure function of user_id, and the query
    // MEASURES it rather than assuming it (a refactor that switches the
    // hash input to event_id fails this gate loudly). Frames after the
    // first distinct are user-cardinality; the md5 bucket is the same
    // cross-engine-deterministic idiom as q_sample_split.
    Q("q_group_split", { (s, d) =>
      val bucket = conv(substring(md5(col("user_id").cast("string")), 1, 4),
        16, 10).cast("long") % 100
      val split = when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test")
      val ev = Tables.events(s, d).select(col("user_id"), split.as("split"))
      val us = ev.distinct()
      val perUser = us.groupBy("user_id")
        .agg(count(lit(1)).as("n_splits"))
      val users = us.join(perUser, Seq("user_id"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_users"),
          coalesce(sum(when(col("n_splits") > 1, 1L)), lit(0L))
            .as("users_spanning"))
      ev.groupBy("split").agg(count(lit(1)).as("n_events"))
        .join(users, Seq("split"))
        .orderBy("split")
    },
      """WITH ev AS (
        | SELECT user_id, CASE
        |  WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 80 THEN 'train'
        |  WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 90 THEN 'val'
        |  ELSE 'test' END AS split
        | FROM events),
        |us AS (SELECT DISTINCT user_id, split FROM ev),
        |pu AS (SELECT user_id, count(*) AS n_splits FROM us GROUP BY 1),
        |u AS (
        | SELECT split, count(*) AS n_users,
        |  COALESCE(CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS users_spanning
        | FROM us JOIN pu USING (user_id) GROUP BY 1),
        |e AS (SELECT split, count(*) AS n_events FROM ev GROUP BY 1)
        |SELECT split, n_events, n_users, users_spanning
        |FROM e JOIN u USING (split) ORDER BY split""".stripMargin),

    // Boilerplate stripping — URL and markup removal, the standard web-
    // corpus cleaning step (synthetic text has neither, so the first 20
    // docs get both planted, like the PII audit). Pure codegen'd regexp
    // map work, zero shuffles; patterns stay in the Java-regex ∩ RE2
    // subset so the oracle replays them (DuckDB needs the 'g' flag —
    // its regexp_replace is first-match by default, Spark's is global).
    Q("q_boilerplate", { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") < 20,
          concat(lit("<div class=x> "), col("text"),
            lit(" see https://example.com/a?b=1 and http://foo.bar/z </div>")))
          .otherwise(col("text")).as("text"))
      val url = "https?://[^ ]+"
      val tag = "<[^>]*>"
      val clean = trim(regexp_replace(regexp_replace(regexp_replace(
        col("text"), url, " "), tag, " "), "[ \\t]+", " "))
      planted.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(url), lit(0))).cast("long").as("n_urls"),
          size(regexp_extract_all(col("text"), lit(tag), lit(0))).cast("long").as("n_tags"),
          length(col("text")).cast("long").as("orig_chars"),
          length(clean).cast("long").as("clean_chars"))
        .filter(col("n_urls") + col("n_tags") > 0)
        .orderBy("doc_id")
    },
      """WITH planted AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id < 20 THEN '<div class=x> ' || text ||
        |   ' see https://example.com/a?b=1 and http://foo.bar/z </div>'
        |  ELSE text END AS text
        | FROM documents),
        |r AS (
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  CAST(length(text) AS BIGINT) AS orig_chars,
        |  CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(
        |    text, 'https?://[^ ]+', ' ', 'g'), '<[^>]*>', ' ', 'g'),
        |    '[ \t]+', ' ', 'g'))) AS BIGINT) AS clean_chars
        | FROM planted)
        |SELECT * FROM r WHERE n_urls + n_tags > 0 ORDER BY doc_id""".stripMargin)
  )
}
