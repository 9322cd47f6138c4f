package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data assembly operators (builder brief: "the operations a
  * large-scale training-data pipeline would need"): sequence packing of
  * documents into fixed-token-budget training rows, and int8 scalar
  * quantization of embeddings with integer-exact quantized retrieval.
  *
  * Scale posture:
  *  - Packing is concat-and-chunk (the standard LLM-pretraining shape:
  *    concatenate documents in a deterministic order, cut at the token
  *    budget; a document is assigned to the chunk its first token falls
  *    in). The running sum is a window cumsum PARTITIONED BY SHARD —
  *    real pipelines pack per output shard, so no global single-partition
  *    window exists; each shard's window is independent and parallel.
  *  - Quantization is a pure map (one `transform` HOF per vector, no
  *    shuffle); quantized retrieval scores with an INTEGER dot product —
  *    exact across engines (no float summation-order concerns) and 4×
  *    less memory traffic than float32 at scan time, which is the point
  *    of int8 retrieval at 100 TB.
  */
object Training extends QueryModule {

  // ===== sequence packing =====

  /** Exclusive running token total per shard, in doc_id order. */
  private def packWindow = Window.partitionBy("shard").orderBy("doc_id")

  /** Assign each document to a training pack: shard by doc_id, then
    * concat-and-chunk within the shard — pack index = floor(tokens
    * before this doc / budget). Output one row per document with its
    * pack assignment (`packSummary` rolls these up).
    */
  def packAssignments(docs: DataFrame, budget: Int, nShards: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      (col("doc_id") % nShards).as("shard"))
    val cumBefore = coalesce(
      sum(col("n_tokens")).over(packWindow.rowsBetween(
        Window.unboundedPreceding, -1)), lit(0L))
    toks.withColumn("pack_id",
        (col("shard") * lit(1000000L)) + floor(cumBefore / budget))
      .withColumn("start_tok", cumBefore % budget)
  }

  /** One row per pack: how many docs landed in it, their token total, and
    * the id span — the contract a downstream batch assembler consumes.
    */
  def packSummary(docs: DataFrame, budget: Int = 512, nShards: Int = 8): DataFrame =
    packAssignments(docs, budget, nShards)
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** Length-bucketed batch shaping: documents grouped into fixed-width
    * sequence-length buckets (capacity = next multiple of `width` ≥
    * tokens), with per-bucket padding efficiency = real tokens /
    * (docs × capacity). The standard pre-batching report for padded
    * training: buckets with low efficiency waste accelerator time, and
    * the bucket boundaries here are the ones the batch assembler would
    * pad to. Pure integer bucketing (floor-div, no log2 float edge
    * cases); one map-side projection + one aggregation.
    */
  def lengthBuckets(docs: DataFrame, width: Int = 16): DataFrame = {
    val t = greatest(TextAnalysis.tokenCount(col("text")).cast("long"), lit(1L))
    docs.select(t.as("t"))
      .withColumn("capacity", (floor((col("t") - 1) / width) + 1) * width)
      .groupBy("capacity")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("total_tokens"))
      .select(col("capacity"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") /
          (col("n_docs") * col("capacity")).cast("double"), 6)
          .as("pad_efficiency"))
      .orderBy("capacity")
  }

  // ===== int8 embedding quantization =====

  /** Per-vector symmetric int8 scale: max |v| (double). */
  def quantScale(emb: Column): Column =
    aggregate(emb, lit(0.0), (acc, v) => greatest(acc, abs(v.cast("double"))))

  /** Quantize a float vector to int8 codes: round(v / scale * 127).
    * A zero vector quantizes to zeros (scale 0 guarded).
    */
  def quantize(emb: Column, scale: Column): Column =
    transform(emb, v =>
      when(scale === 0, 0L)
        .otherwise(round(v.cast("double") / scale * 127, 0).cast("long")))

  /** Integer dot product of two code vectors — exact on any engine. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** id, scale, codes for a (vec_id, embedding) frame. */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val sc = quantScale(col("embedding"))
    emb.select(col("vec_id"), round(sc, 6).as("scale"),
      quantize(col("embedding"), sc).as("codes"))
  }

  /** Top-k retrieval over the QUANTIZED corpus. Score = cosine of the
    * CODE vectors: qdot / (√(q·q) · √(c·c)) — the max-abs scales cancel,
    * so this equals the cosine of the dequantized vectors and needs only
    * codes (the floats can be discarded, which is the point of int8
    * retrieval: 4× less scan traffic). The three dot products are exact
    * integers (64 dims × 127² ≪ 2^53), the one division is a fixed IEEE
    * double expression — reproducible across engines. Ranked by the
    * k-bounded aggregator, ties by corpus id.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def withNorm(df: DataFrame) = quantizeEmbeddings(df)
      .select(col("vec_id"), col("codes"),
        intDot(col("codes"), col("codes")).as("n2"))
    val q = withNorm(queries).select(col("vec_id").as("query_id"),
      col("codes").as("q_codes"), col("n2").as("q_n2"))
    val scored = withNorm(corpus)
      .select(col("vec_id").as("corpus_id"), col("codes").as("c_codes"), col("n2").as("c_n2"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        round(when(col("q_n2") === 0 || col("c_n2") === 0, 0.0)
          .otherwise(intDot(col("q_codes"), col("c_codes")) /
            (sqrt(col("q_n2")) * sqrt(col("c_n2")))), 6).as("qsim"))
    Similarity.topKPerQuery(scored, "query_id", "qsim", "corpus_id", k)
  }

  // ===== embedding-space outliers =====

  /** EMBEDDING OUTLIERS, integer-exact: per label, the centroid of the
    * int8-quantized vectors (element-wise floor mean), squared integer
    * distance of every vector to its label centroid, and Tukey-fence
    * flagging (d² > q3 + 1.5·IQR on the per-label exact quartiles) —
    * the standard "mislabeled / off-manifold example" sweep a training
    * pipeline runs before fitting anything. Integer distances make the
    * whole readout bit-exact across engines (no float accumulation in
    * 64-dim sums); the only doubles are the interpolated quartile
    * fences.
    *
    * Centroid floor-division note: code sums can be negative, and BIGINT
    * `div` truncates toward zero on the JVM but floors in DuckDB — so
    * the mean is computed on +127-offset codes (non-negative by
    * construction), where the two agree, then shifted back.
    *
    * Scale posture: one explode pass to (label, pos) integer sums
    * (map-side combined, centroid frame = labels × dims — tiny); d² is
    * one co-partitioned join on (label, pos) + a re-aggregate to vector
    * cardinality; fences come from the grouped exact-percentile
    * machinery (rank math on the distinct-value spine, no full sort);
    * the fence frame broadcasts back. No driver state.
    */
  def embedOutliers(embRaw: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    // single-row-group local table: spread before the 64-way posexplode
    // cache build (measured: one 2.4 s task while a second consumer sat
    // blocked on the cache lock)
    val emb = embRaw.repartition(
      embRaw.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
    val ex = quantizeEmbeddings(emb)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        posexplode(col("codes")).as(Seq("pos", "c")))
      .persistTracked()
    val cent = ex.groupBy("label", "pos")
      .agg(sum(col("c") + 127L).as("sp"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), (expr("sp div n") - 127L).as("m"))
    val d2 = ex.join(cent, Seq("label", "pos"))
      .select(col("vec_id"), col("label"),
        ((col("c") - col("m")) * (col("c") - col("m"))).as("t"))
      .groupBy("vec_id", "label").agg(sum("t").as("d2"))
      .persistTracked()
    val fences = Analytics.groupedExactPercentiles(
        d2.select(col("label"), col("d2")), "label", "d2",
        Seq("q1" -> 0.25, "q3" -> 0.75))
      .select(col("label"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("fence"))
    d2.join(broadcast(fences), Seq("label"))
      .filter(col("d2").cast("double") > col("fence"))
      .select(col("label"), col("vec_id"), col("d2"),
        round(col("fence"), 6).as("fence"))
      .orderBy("label", "vec_id")
  }

  // ===== Bradley–Terry preference strength =====

  /** Bradley–Terry strength fit (Bradley & Terry 1952; the Zermelo/MM
    * fixed point, Hunter 2004) over pairwise preference duels — the
    * standard readout for RLHF preference data: given (i beats j) counts,
    * recover per-item strengths π with π_i ∝ W_i / Σ_j n_ij/(π_i+π_j).
    *
    * Duels here are derived deterministically from the corpus: within
    * each language, each source's docs are ranked by doc_id, and
    * rank-matched docs of every source pair duel on n_chars (ties go to
    * the lexicographically lower source). This is the "which source
    * produces longer documents, all else blocked" tournament — the same
    * blocked-comparison shape a human-preference table would load into.
    *
    * Exact replayability: strengths are fixed-point Longs (10^6 units);
    * every update term — n·S² div (π_i+π_j), W·S² div D — is integer
    * division, so DuckDB replays all rounds bit-for-bit (the q_pagerank
    * pattern). A shut-out source is clamped to strength ≥ 1 so later
    * denominators never hit 0/0.
    *
    * Scale posture: duel generation is one shuffle (rank-matched
    * equi-join on (lang, rank) — per-slot fan-out bounded at C(k,2) for
    * k sources); the aggregated duel matrix is k²-cardinality and the
    * strength frame k-cardinality — broadcast-class frames from there,
    * so the 3 fixed-point rounds cost k²-row joins, not corpus passes.
    */
  def btStrength(docs: DataFrame, iters: Int = 3): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val S2 = "1000000000000L" // (10^6 strength units) squared
    val ranked = docs.select(col("lang"), col("source"), col("n_chars"),
      row_number().over(
        Window.partitionBy("lang", "source").orderBy("doc_id")).as("rn"))
    val duelAgg = ranked.as("a").join(ranked.as("b"),
        col("a.lang") === col("b.lang") && col("a.rn") === col("b.rn") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("si"), col("b.source").as("sj"),
        when(col("a.n_chars") >= col("b.n_chars"), 1L).otherwise(0L)
          .as("wa"))
      .groupBy("si", "sj").agg(count(lit(1)).as("n"), sum("wa").as("w"))
    // k²-row (dir) / k-row (wins, p) frames: cache them SINGLE-partition —
    // a 32-partition cached layout makes every downstream stage spawn 32
    // near-empty tasks (measured: 53 jobs / 1612 tasks for this query
    // before the coalesce), and p must be persisted PER ROUND — each round
    // references p twice (pi and pj joins), so an unpersisted p re-evaluates
    // the whole prior-round plan 2^iters times (guide §3.3 lineage
    // truncation; measured 8.5 s steady → the exponential broadcast-build
    // fan-out was the entire cost).
    val dir = duelAgg
      .select(col("si").as("i"), col("sj").as("j"), col("n"), col("w"))
      .unionAll(duelAgg.select(col("sj").as("i"), col("si").as("j"),
        col("n"), (col("n") - col("w")).as("w")))
      .coalesce(1).persistTracked()
    val wins = dir.groupBy("i")
      .agg(sum("w").as("tw"), sum("n").as("tn")).coalesce(1).persistTracked()
    var p = wins.select(col("i").as("s"), lit(1000000L).as("p"))
    for (_ <- 1 to iters) {
      val denom = dir
        .join(p.select(col("s").as("i"), col("p").as("pi")), Seq("i"))
        .join(p.select(col("s").as("j"), col("p").as("pj")), Seq("j"))
        .groupBy("i")
        .agg(sum(expr(s"(n * $S2) div (pi + pj)")).as("dd"))
      p = wins.join(denom, Seq("i"))
        .select(col("i").as("s"),
          greatest(expr(s"(tw * $S2) div dd"), lit(1L)).as("p"))
        .coalesce(1).persistTracked()
    }
    wins.join(p, wins("i") === p("s"))
      .select(col("i").as("source"), col("tn").as("duels"),
        col("tw").as("wins"), col("p").as("strength"))
      .orderBy(desc("strength"), col("source"))
  }

  /** WEIGHT-OF-EVIDENCE binning + INFORMATION VALUE (Siddiqi 2006 —
    * the credit-scoring feature audit): bin a candidate feature (doc
    * length, $64 buckets), and per bin WoE = ln((pos_b/P)/(neg_b/N))
    * with IV = Σ (pos_b/P − neg_b/N) · WoE — the standard "is this
    * feature worth giving the quality classifier?" number (IV < 0.02
    * useless, > 0.3 strong). Target = is-English (the langid label).
    * Laplace +1 on both cell counts (documented) keeps empty-side bins
    * finite instead of ±∞. Exact integer counts to bin cardinality; WoE
    * and IV terms are per-bin double trees rounded 6dp, the IV total a
    * DECIMAL sum of the rounded terms (order-safe) broadcast back onto
    * the bins.
    */
  def woeIv(docs: DataFrame): DataFrame = {
    val bin = expr("n_chars div 64")
    val pos = (col("lang") === "en").cast("long")
    val b = docs.filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .select(bin.as("bin"), pos.as("p"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("p")).as("np"))
      .select(col("bin"), col("n"), (col("np") + 1L).as("g"),
        (col("n") - col("np") + 1L).as("bd"))
    val tot = b.agg(sum(col("g")).as("gg"), sum(col("bd")).as("bb"))
    def d(c: String) = col(c).cast("double")
    val shareG = d("g") / d("gg")
    val shareB = d("bd") / d("bb")
    val woe = log(shareG / shareB)
    val ivT = round((shareG - shareB) * woe, 6)
    val terms = b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n").as("n_docs"),
        (col("g") - 1L).as("n_pos"), (col("bd") - 1L).as("n_neg"),
        round(woe, 6).as("woe"),
        ivT.cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("iv_term"))
    val ivTotal = terms.agg(sum(col("iv_term")).cast("double").as("iv_total"))
    terms.crossJoin(broadcast(ivTotal))
      .select(col("bin"), col("n_docs"), col("n_pos"), col("n_neg"),
        col("woe"), col("iv_term").cast("double").as("iv_term"),
        round(col("iv_total"), 6).as("iv_total"))
      .orderBy("bin")
  }

  /** SHUFFLE-QUALITY AUDIT of the epoch-shuffle order: how decorrelated
    * is the training order from the SOURCE of each document? Training on
    * long same-source runs degrades convergence (the motivation for the
    * epoch shuffle itself), so this measures it: within each (epoch,
    * shard), the rate of ADJACENT same-source pairs in the shuffled
    * order, against the exact expectation under a uniform random
    * permutation, Σ_s n_s(n_s−1) / (N(N−1)). mix_ratio ≈ 1 says the
    * hash order is as source-mixed as true random; ≫ 1 flags clumping
    * (e.g. a source whose ids hash-collide into one shard).
    *
    * Scale posture: the lag window is SHARD-LOCAL (partitioned — the
    * exact q_epoch_shuffle layout, no global sort); the expectation
    * comes from source counts (source-cardinality frame, broadcast
    * back); products go through DECIMAL(38,0) so a 10¹⁰-doc corpus
    * doesn't overflow the N² term.
    */
  def shuffleQuality(docs: DataFrame, epochs: Int = 2,
                     shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val h = md5(concat_ws(":", col("epoch"), col("doc_id")))
    val ordered = docs.select(col("doc_id"), col("source"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), lit(epochs))).as("epoch"))
      .select(col("doc_id"), col("source"),
        col("epoch").cast("long").as("epoch"), h.as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 1, 4), 16, 10).cast("long") % shards)
    val w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    val perEpoch = ordered
      .withColumn("prev_src", lag(col("source"), 1).over(w))
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("prev_src").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("prev_src") === col("source"), 1L).otherwise(0L))
          .as("same_src_pairs"))
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    val expRate = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      .agg(sum(d38(col("ns")) * d38(col("ns") - 1L)).as("num"),
        sum(col("ns")).as("nn"))
      .select((col("num").cast("double") /
        (d38(col("nn")) * d38(col("nn") - 1L)).cast("double")).as("er"))
    perEpoch.crossJoin(broadcast(expRate))
      .select(col("epoch"), col("n_docs"), col("n_pairs"),
        col("same_src_pairs"),
        round(col("same_src_pairs").cast("double") / col("n_pairs"), 6)
          .as("obs_rate"),
        round(col("er"), 6).as("exp_rate"),
        round(col("same_src_pairs").cast("double") / col("n_pairs") /
          col("er"), 6).as("mix_ratio"))
      .orderBy("epoch")
  }

  /** ONE ALS HALF-STEP of a rank-2 implicit-feedback matrix factorization
    * (Hu, Koren & Volinsky 2008's alternating shape; Koren et al. 2009):
    * fix deterministic item factors, solve every user's ridge normal
    * equations IN THE PLAN — the distributed-ML kernel behind every
    * production recommender's ALS loop, reduced to its one-step essence
    * so the oracle can replay it. Per user u over their (item, strength)
    * edges: P_u = (Σ q_s q_sᵀ + λI)⁻¹ Σ q_s r_us, a 2×2 closed-form
    * Cramer solve per user (λ > 0 keeps it non-singular). Item factors
    * initialize functionally — two seeded md5 uniforms PER ITEM KEY,
    * computed inline on each edge row, so there is no factor table to
    * build, shuffle, or join on the first sweep.
    *
    * Released: the 10 largest-norm user factors plus the global fit
    * check — RMSE of p·q against the strengths next to the trivial
    * predict-zero RMS. One half-step must already beat zero; the full
    * ALS loop is this operator alternated (items solve by the symmetric
    * groupBy on s), each sweep ONE co-partitioned shuffle.
    *
    * Exactness: per-edge Gram terms round to fixed-scale DECIMAL before
    * the per-user fold (order-safe); the solve and residuals are single
    * double expressions of those exact sums, mirrored in the oracle.
    *
    * Scale posture: edges collapse from the fact join map-side; the
    * sweep is ONE shuffle keyed on the user; the rescore join keys on
    * the same user partitioning (co-partitioned, AQE-broadcastable);
    * top-10 is a TakeOrdered, never a global sort.
    */
  def alsStep(orders: DataFrame, lineitem: DataFrame,
              lambda: Double = 0.1): DataFrame = {
    import graft.CacheScope.TrackedDataset
    import org.apache.spark.sql.types.DecimalType
    val edges = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .agg(count(lit(1)).as("r"))
      .persistTracked()
    def u(seed: String) =
      (conv(substring(md5(concat(lit(seed), col("s").cast("string"))),
        1, 13), 16, 10).cast("long").cast("double") + lit(0.5)) /
        lit(4503599627370496.0)
    val q1 = u("alsq1:"); val q2 = u("alsq2:")
    def d(c: Column) = c.cast("double")
    def t12(x: Column) = round(x, 12).cast(DecimalType(28, 12))
    def t6(x: Column) = round(x, 6).cast(DecimalType(28, 6))
    val pu = edges.select(col("c"), col("r"),
        q1.as("q1"), q2.as("q2"))
      .groupBy("c")
      .agg(count(lit(1)).as("n_items"),
        sum(t12(col("q1") * col("q1"))).cast("double").as("a11"),
        sum(t12(col("q1") * col("q2"))).cast("double").as("a12"),
        sum(t12(col("q2") * col("q2"))).cast("double").as("a22"),
        sum(t6(col("q1") * d(col("r")))).cast("double").as("b1"),
        sum(t6(col("q2") * d(col("r")))).cast("double").as("b2"))
    val a11l = col("a11") + lit(lambda); val a22l = col("a22") + lit(lambda)
    val det = a11l * a22l - col("a12") * col("a12")
    val sol = pu.select(col("c"), col("n_items"),
        ((a22l * col("b1") - col("a12") * col("b2")) / det).as("p1"),
        ((a11l * col("b2") - col("a12") * col("b1")) / det).as("p2"))
      .persistTracked()
    val resid = d(col("r")) - (col("p1") * col("q1") +
      col("p2") * col("q2"))
    val glob = edges.join(sol, Seq("c"))
      .select(col("r"), col("p1"), col("p2"), q1.as("q1"), q2.as("q2"))
      .select(t6(resid * resid).as("sq"),
        // DECIMAL(38,0): Σr² at the 100 TB edge count outgrows Long
        (col("r").cast(DecimalType(38, 0)) *
          col("r").cast(DecimalType(38, 0))).as("rr"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("sq")).cast("double").as("sse"),
        sum(col("rr")).as("srr"))
      .select(col("n_edges"),
        round(sqrt(col("sse") / d(col("n_edges"))), 6).as("rmse"),
        round(sqrt(d(col("srr")) / d(col("n_edges"))), 6).as("rms_zero"))
    val norm = col("p1") * col("p1") + col("p2") * col("p2")
    sol.orderBy(norm.desc, col("c"))
      .limit(10)
      .crossJoin(broadcast(glob))
      .select(col("c").as("custkey"), col("n_items"),
        round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
        col("n_edges"), col("rmse"), col("rms_zero"))
  }

  /** GREEDY k-CENTER CORESET (Gonzalez 1985's farthest-first traversal,
    * the 2-approximation): k maximally-spread representatives of the
    * embedding set — the diversity-first data-selection kernel (active
    * learning seed sets, dedup-aware subset picks) that complements
    * q_kmeans' density-seeking centroids. Distances are EXACT integer
    * squared distances on the int8-quantized codes (d² = n2a − 2·a·b +
    * n2b, the q_embed_quant machinery), so both engines replay the
    * whole greedy trajectory bit-for-bit — no float argmax anywhere.
    *
    * Scale posture: the min-distance frame updates against ONE new
    * broadcast center per round (k map passes total, never a k×n join);
    * each round's argmax is a TakeOrdered. localCheckpoint per round
    * keeps lineage flat (the X12 rule). Released: the k centers in
    * selection order with their selection distance (monotone
    * non-increasing — the greedy invariant) and the final covering
    * radius (the k-center objective).
    */
  def kCenterCoreset(emb: DataFrame, k: Int = 5): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val pts = quantizeEmbeddings(emb)
      .select(col("vec_id"), col("codes"),
        coalesce(intDot(col("codes"), col("codes")), lit(0L)).as("n2"))
      .persistTracked()
    val c1 = pts.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cid"), col("codes").as("ccodes"),
        col("n2").as("n2c"))
    def d2 = col("n2") -
      lit(2L) * coalesce(intDot(col("codes"), col("ccodes")), lit(0L)) +
      col("n2c")
    var md = pts.crossJoin(broadcast(c1))
      .select(col("vec_id"), col("codes"), col("n2"), d2.as("d2min"))
      .localCheckpoint()
    var centers = c1.select(lit(1).as("step"), col("cid").as("center_id"),
      lit(null).cast("long").as("d2_selected"))
    for (t <- 2 to k) {
      val cnew = md.orderBy(desc("d2min"), asc("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("codes").as("ccodes"),
          col("n2").as("n2c"), col("d2min").as("dsel"))
        .localCheckpoint()
      centers = centers.union(
        cnew.select(lit(t).as("step"), col("cid"), col("dsel")))
      md = md.crossJoin(broadcast(cnew.drop("dsel")))
        .select(col("vec_id"), col("codes"), col("n2"),
          least(col("d2min"), d2).as("d2min"))
        .localCheckpoint()
    }
    val radius = md.agg(max(col("d2min")).as("radius_d2"))
    centers.crossJoin(broadcast(radius)).orderBy("step")
  }

  /** LINEAR CKA (Kornblith et al. 2019) between the float embeddings and
    * their int8-quantized codes — "did quantization preserve the
    * representation's GEOMETRY?", the one-number readout that decides an
    * int8 rollout beyond q_sim_topk_quant's per-query ranking check.
    * CKA = ‖C_xy‖_F² / (‖C_xx‖_F·‖C_yy‖_F) over column-centered
    * cross-covariance matrices; ≈1 means the quantized space is a
    * rotation/scale of the original, →0 means geometry was destroyed.
    * Per-view isotropic scaling cancels, so the 2^10 fixed-point X and
    * the per-vector-scaled int8 Y are compared fairly.
    *
    * Exactness: X = ⌊v·1024⌋ (1024 is a power of two — the float→int map
    * is lossless-identical on both engines), Y = the gated q_embed_quant
    * codes; all d² covariance entries come from ONE integer moment pass
    * via n·Σxy − ΣxΣy, and every product routes through
    * DECIMAL(38,0)/HUGEINT. Float appears only in the final
    * ratio-of-norms. (At ≥1e9-row corpora the exact squares would
    * outgrow DECIMAL(38) — divide the centered entries by n before
    * squaring there; the readout is invariant.)
    *
    * Scale posture: the double posexplode emits d² rows PER VECTOR
    * map-side (d bounded at 64) with map-side combine into d² groups —
    * one corpus-proportional pass, no self-join, no gram collect; the
    * d²-row matrix frames finish on the driver-bounded side.
    */
  def ckaQuant(emb: DataFrame): DataFrame = {
    val both = quantizeEmbeddings(emb).select(col("vec_id"), col("codes"))
      .join(emb.select(col("vec_id"),
        transform(col("embedding"),
          v => floor(v.cast("double") * 1024).cast("long")).as("xq")),
        Seq("vec_id"))
    val e1 = both.select(col("xq"), col("codes"), posexplode(col("xq")))
      .select(col("xq"), col("codes"), col("pos").as("a"),
        col("col").as("xa"))
      .withColumn("ya", element_at(col("codes"), col("a") + 1))
    val e2 = e1
      .select(col("a"), col("xa"), col("ya"), col("codes"),
        posexplode(col("xq")))
      .select(col("a"), col("xa"), col("ya"),
        col("pos").as("b"), col("col").as("xb"),
        element_at(col("codes"), col("pos") + 1).as("yb"))
    val mom = e2.groupBy("a", "b").agg(
      count(lit(1)).as("n"),
      sum(col("xa") * col("xb")).as("sxx"),
      sum(col("xa") * col("yb")).as("sxy"),
      sum(col("ya") * col("yb")).as("syy"),
      sum(col("xa")).as("sxa"), sum(col("xb")).as("sxb"),
      sum(col("ya")).as("sya"), sum(col("yb")).as("syb"))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val cent = mom.select(
      (dec(col("n")) * col("sxx") - dec(col("sxa")) * col("sxb")).as("mxx"),
      (dec(col("n")) * col("sxy") - dec(col("sxa")) * col("syb")).as("mxy"),
      (dec(col("n")) * col("syy") - dec(col("sya")) * col("syb")).as("myy"))
    val h = cent.agg(
      sum(col("mxy") * col("mxy")).as("hxy"),
      sum(col("mxx") * col("mxx")).as("hxx"),
      sum(col("myy") * col("myy")).as("hyy"))
    val meta = both.agg(count(lit(1)).as("n_vecs"),
      max(size(col("xq"))).cast("long").as("dims"))
    h.crossJoin(broadcast(meta))
      .select(col("n_vecs"), col("dims"),
        when(col("hxx") > 0 && col("hyy") > 0,
          round(col("hxy").cast("double") /
            sqrt(col("hxx").cast("double") * col("hyy").cast("double")), 6))
          .as("cka"))
  }

  /** LOCAL OUTLIER FACTOR (Breunig et al. 2000) over the embedding
    * corpus: kNN on exact int8 squared distances, reachability
    * distances, local reachability density, and LOF = how much sparser
    * a point's neighborhood is than its neighbors' — the DENSITY-aware
    * outlier detector that catches points "far from their own cluster"
    * that the global Tukey fence (q_embed_outliers) and centroid-z
    * screens can't (a point equidistant from two clusters has healthy
    * global stats and LOF ≫ 1). Released: the topN highest-LOF vectors
    * with their k-distance.
    *
    * Exactness: distances stay in the exact integer d² domain end to
    * end (LOF on a monotone transform of the metric is the documented
    * variant; kNN sets and reach-dist maxima are IDENTICAL to the
    * metric's); lrd is frozen to the integer k·10¹² div Σreach, so the
    * only doubles are the final ratio.
    *
    * Scale posture: the corpus side broadcasts (codes are
    * dimension-class); the kNN window partitions BY POINT. LOF is a
    * local measure — at corpora past broadcast size, run it per IVF
    * list (the q_sim_topk_ivf partitioner) exactly as FAISS-style
    * pipelines shard their outlier sweeps.
    */
  def lofOutliers(emb: DataFrame, k: Int = 5, topN: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.CacheScope.TrackedDataset
    // spread before the n×n distance fan-out: the single-row-group scan
    // otherwise leaves the WHOLE crossJoin dot-product pass in one task
    // (stage profile on 32 cores: one 2.5 s single-task stage, 31 cores idle)
    val p = quantizeEmbeddings(emb
        .repartition(emb.sparkSession.sparkContext.defaultParallelism))
      .select(col("vec_id"), col("codes"),
        coalesce(intDot(col("codes"), col("codes")), lit(0L)).as("n2"))
      .persistTracked()
    val b = p.select(col("vec_id").as("ib"), col("codes").as("cb"),
      col("n2").as("n2b"))
    val d2 = p.crossJoin(broadcast(b))
      .filter(col("vec_id") =!= col("ib"))
      .select(col("vec_id").as("ia"), col("ib"),
        (col("n2") - lit(2L) * coalesce(intDot(col("codes"), col("cb")),
          lit(0L)) + col("n2b")).as("dd"))
    val w = Window.partitionBy("ia").orderBy(col("dd"), col("ib"))
    val knn = d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .persistTracked()
    val kdist = knn.groupBy(col("ia").as("i")).agg(max(col("dd")).as("kd"))
    val reach = knn
      .join(kdist.select(col("i").as("ib"), col("kd").as("kdb")),
        Seq("ib"))
      .select(col("ia"), greatest(col("kdb"), col("dd")).as("reach"))
    val lrd = reach.groupBy("ia")
      .agg(sum(col("reach")).as("sr"))
      .select(col("ia"),
        expr(s"CAST($k AS BIGINT) * 1000000000000 div greatest(sr, 1)")
          .as("lrd12"))
      .persistTracked()
    val lof = knn.select(col("ia"), col("ib"))
      .join(lrd.select(col("ia").as("ib"), col("lrd12").as("lrdb")),
        Seq("ib"))
      .groupBy("ia").agg(sum(col("lrdb")).as("slrdb"))
      .join(lrd, Seq("ia"))
      .join(kdist.select(col("i").as("ia"), col("kd")), Seq("ia"))
      .select(col("ia").as("vec_id"), col("kd").as("k_dist2"),
        when(col("lrd12") > 0,
          round(col("slrdb").cast("double") /
            (lit(k.toDouble) * col("lrd12").cast("double")), 4))
          .as("lof"))
    lof.orderBy(desc("lof"), col("vec_id")).limit(topN)
  }

  // ===== fastText-style quality classifier ================================

  // Shared Spark/DuckDB expression strings (the plattScaling idiom): every
  // float step is ONE identically spelled tree, rounded before each exact
  // DECIMAL fold, so both engines replay the fit bit-for-bit.
  private[operators] val lrSig = "(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))))"
  private[operators] val lrTerm = "CAST(round(x * wgt, 9) AS DECIMAL(28,9))"
  private[operators] val lrResid = s"round(CAST(y AS DOUBLE) - $lrSig, 9)"
  private[operators] val lrGrad = "CAST(round(r * x, 9) AS DECIMAL(28,9))"
  private[operators] def lrUpdate(eta: Double): String =
    s"round(wgt + $eta * CAST(g AS DOUBLE) / CAST(n AS DOUBLE), 6)"
  private[operators] val lrLoss =
    s"CAST(round(CAST(y AS DOUBLE) * ln($lrSig) + " +
      s"(1.0 - CAST(y AS DOUBLE)) * ln(1.0 - $lrSig), 6) AS DECIMAL(28,6))"

  /** DISTRIBUTED LOGISTIC-REGRESSION QUALITY CLASSIFIER (the
    * fastText-style companion of the KN perplexity filter — Joulin et al.
    * 2017; CCNet pairs exactly this supervised classifier with the LM
    * score, Wenzek et al. 2020): hashed signed word-unigram features
    * (the q_feature_hash trick: md5 bucket + ±1 sign so collisions cancel
    * in expectation), label = the curated-vs-crawl source split (even
    * source index = "curated" pool), fit by `iters` unrolled FULL-BATCH
    * gradient-descent rounds. Released: the per-bucket coefficients plus
    * the train AUC and log-loss — the artifact + health row a curation
    * run ships beside the filter.
    *
    * Determinism across engines (the q_gmm_daily/q_platt_scaling
    * contract): feature values are ONE exact division (signed count /
    * doc tokens); every margin/gradient term is rounded (9dp) before its
    * DECIMAL fold so float accumulation order can't matter; weights
    * round to 6dp per round. AUC uses the aucRank doubled-midrank
    * identity on a QUANTIZED margin spine (⌊m·1000⌋ — decimal floor,
    * exact): margins are near-unique per doc, so the raw spine would be
    * corpus-cardinality under one unpartitioned window; milli-margin
    * buckets keep the spine domain-bounded at any corpus size.
    *
    * Scale posture: one map-side-combined shuffle builds the (doc,
    * bucket) feature frame (≤ B+1 rows per doc — the fastText shape);
    * each GD round is a broadcast join with the B+1-row weight vector,
    * one doc-grain aggregate, one doc-grain join, and a bucket-grain
    * (B+1 rows) gradient aggregate. No all-pairs frame, no
    * data-cardinality window anywhere.
    */
  def qualityLr(docs: DataFrame, buckets: Int = 16, iters: Int = 3,
                eta: Double = 2.0, holdout: Boolean = false): DataFrame = {
    import graft.CacheScope.TrackedDataset
    // holdout = true fits on the ~4/5 NOT held out by the md5 split (the
    // q_adversarial_valid definition) and scores AUC/log-loss on the 1/5
    // held-out docs only — the GENERALIZATION readout beside the train
    // fit. Eval docs always keep their bias row, so a held-out doc with
    // no train-vocabulary overlap still scores (at the bias margin)
    // rather than silently dropping from the AUC.
    val held = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 5 === 0
    val base = docs
      // single-row-group local table: spread so the tokenize cache build
      // and the token-hash explode run on every core
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), held.as("held"),
        // try_cast (r11 ADVICE): a non-numeric source suffix degrades to
        // null → y=0 identically in BOTH engines (the oracle's bare CAST
        // would abort where Spark's null-guarded when() falls through),
        // and the bounded substring keeps >10-digit suffixes in parity
        when(expr("try_cast(substring(source, 4, 10) AS bigint)") % 2 === 0,
          1L)
          .otherwise(0L).as("y"),
        TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("held"), col("y"),
        size(col("toks")).cast("long").as("nt"), col("toks"))
      .persistTracked()
    val hash = conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long")
    val sgn = when(conv(substring(md5(col("tok")), 5, 1), 16, 10)
      .cast("long") % 2 === 0, 1L).otherwise(-1L)
    val fx = base
      .select(col("doc_id"), col("held"), col("y"), col("nt"),
        explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("held"), col("y"), col("nt"),
        (hash % buckets).as("bucket"), sgn.as("sign"))
      .groupBy("doc_id", "held", "y", "nt", "bucket")
      .agg(sum(col("sign")).as("net"))
      .select(col("doc_id"), col("held"), col("y"), col("bucket"),
        (col("net").cast("double") / col("nt").cast("double")).as("x"))
      .unionByName(base.select(col("doc_id"), col("held"), col("y"),
        lit(-1L).as("bucket"), lit(1.0).as("x")))
      .persistTracked()
    val trainFx = if (holdout) fx.filter(!col("held")) else fx
    val evalFx = if (holdout) fx.filter(col("held")) else fx
    val nn = (if (holdout) base.filter(!col("held")) else base)
      .agg(count(lit(1)).as("n"))
    val spark = docs.sparkSession
    import spark.implicits._
    // the weight vector is B+1-row DRIVER state (the kmeans-centroid /
    // BPE-merge-table precedent): collecting it each round truncates the
    // GD lineage — left lazy, round k's plan re-executes rounds 1..k-1
    // for every consumer (O(k²) jobs; measured 14.6 s -> the collect
    // keeps each round ONE job over the persisted feature frame). The
    // collected doubles re-embed as plan literals bit-identically.
    var w = trainFx.select(col("bucket")).distinct()
      .select(col("bucket"), lit(0.0).as("wgt"))
    for (_ <- 1 to iters) {
      val m = trainFx.join(broadcast(w), Seq("bucket"))
        .groupBy("doc_id", "y").agg(sum(expr(lrTerm)).as("m"))
      val r = m.select(col("doc_id"), expr(lrResid).as("r"))
      val g = trainFx.join(r, Seq("doc_id"))
        .groupBy("bucket").agg(sum(expr(lrGrad)).as("g"))
      val rows = w.join(g, Seq("bucket")).crossJoin(broadcast(nn))
        .select(col("bucket"), expr(lrUpdate(eta)).as("wgt"))
        .collect().map(x => (x.getLong(0), x.getDouble(1)))
        .sortBy(_._1).toSeq
      w = rows.toDF("bucket", "wgt")
    }
    val mf = evalFx.join(broadcast(w), Seq("bucket"))
      .groupBy("doc_id", "y").agg(sum(expr(lrTerm)).as("m"))
      .persistTracked()
    // margin quantization stays in DECIMAL (exact floor, no float
    // boundary): narrow to (18,9) first — ×1000 on the full (38,9) sum
    // type would exceed DuckDB's width-38 cap even though the VALUE is
    // tiny (|m| ≤ Σ|x·w| ≈ 1e2)
    val cg = mf.select(
        expr("CAST(floor(CAST(m AS DECIMAL(18,9)) * 1000) AS BIGINT)")
          .as("v"),
        col("y"))
      .groupBy("v").agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val wd = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dnp = col("np").cast("double")
    val au = cg.withColumn("cum", sum(col("c")).over(wd))
      .agg(sum(col("c")).as("n"), sum(col("p")).as("np"),
        sum(col("p").cast(DecimalType(18, 0)) *
          (lit(2L) * col("cum") - col("c") + lit(1L))
            .cast(DecimalType(18, 0))).as("rp2"))
      .select(col("n").as("n_docs"), col("np").as("n_pos"),
        when(col("np") > 0 && col("n") > col("np"),
          round((col("rp2").cast("double") - dnp * (dnp + 1)) /
            (lit(2.0) * dnp * (col("n") - col("np")).cast("double")), 6))
          .as("auc"))
    val ll = mf.agg(sum(expr(lrLoss)).as("sll"), count(lit(1)).as("nd"))
      .select(round(-col("sll").cast("double") /
        col("nd").cast("double"), 6).as("log_loss"))
    w.crossJoin(broadcast(au)).crossJoin(broadcast(ll))
      .select(col("bucket"), round(col("wgt"), 6).as("weight"),
        col("n_docs"), col("n_pos"), col("auc"), col("log_loss"))
      .orderBy("bucket")
  }

  // ===== DuckDB oracles =====

  private val tokensSql =
    """len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))"""

  private def scaleSql(e: String) =
    s"coalesce(list_max(list_transform($e, v -> abs(CAST(v AS DOUBLE)))), 0.0)"

  private def codesSql(e: String, scale: String) =
    s"list_transform($e, v -> CASE WHEN $scale = 0 THEN 0 " +
      s"ELSE CAST(round(CAST(v AS DOUBLE) / $scale * 127, 0) AS BIGINT) END)"

  private def intDotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  /** One DuckDB Bradley–Terry round (replays the Spark fixed-point
    * update exactly: BIGINT-valued floors; `//` = integer division).
    */
  private def btIterSql(t: Int): String = {
    val prev = s"p${t - 1}"
    s"""p$t AS (
       | SELECT w.i AS s,
       |  greatest((w.tw * 1000000000000) // t.dd, 1) AS p
       | FROM wins w JOIN (
       |  SELECT d.i, sum((d.n * 1000000000000) // (pi.p + pj.p)) AS dd
       |  FROM dir d JOIN $prev pi ON d.i = pi.s
       |   JOIN $prev pj ON d.j = pj.s
       |  GROUP BY 1) t ON w.i = t.i)""".stripMargin
  }

  // Unrolled GD-round CTE for the q_quality_lr oracle: identical margin /
  // residual / gradient / update trees (lrTerm/lrResid/lrGrad/lrUpdate).
  private def lrIterSql(t: Int, eta: Double): String = {
    val prev = s"w${t - 1}"
    s"""m$t AS (
       | SELECT doc_id, y, sum($lrTerm) AS m
       | FROM fxt JOIN $prev USING (bucket) GROUP BY 1, 2),
       |r$t AS (SELECT doc_id, $lrResid AS r FROM m$t),
       |g$t AS (
       | SELECT bucket, sum($lrGrad) AS g
       | FROM fxt JOIN r$t USING (doc_id) GROUP BY 1),
       |w$t AS (
       | SELECT bucket, ${lrUpdate(eta)} AS wgt
       | FROM $prev JOIN g$t USING (bucket) CROSS JOIN nn)""".stripMargin
  }

  /** Shared q_quality_lr / q_quality_lr_holdout oracle builder: the fit
    * CTEs run over fxt (train filter), the released AUC/loss over fxe
    * (eval filter); the base variant passes TRUE for both.
    */
  private def qualityLrSql(trainWhere: String, evalWhere: String): String = {
    val iters = 3
    s"""WITH base AS (
       | SELECT doc_id,
       |  (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
       |    AS BIGINT) % 5 = 0) AS held,
       |  CASE WHEN TRY_CAST(substr(source, 4, 10) AS BIGINT) % 2 = 0
       |   THEN 1 ELSE 0 END AS y,
       |  ${TextAnalysis.tokensSql("lower(text)")} AS toks
       | FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
       |b2 AS (
       | SELECT doc_id, held, y, CAST(len(toks) AS BIGINT) AS nt, toks
       | FROM base WHERE len(toks) >= 1),
       |tok AS (SELECT doc_id, held, y, nt, unnest(toks) AS tok FROM b2),
       |fh AS (
       | SELECT doc_id, held, y, nt,
       |  CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % 16 AS bucket,
       |  CASE WHEN CAST(('0x' || substr(md5(tok), 5, 1)) AS BIGINT) % 2 = 0
       |   THEN 1 ELSE -1 END AS sign
       | FROM tok),
       |fx AS (
       | SELECT doc_id, held, y, bucket,
       |  CAST(sum(sign) AS DOUBLE) / CAST(max(nt) AS DOUBLE) AS x
       | FROM fh GROUP BY doc_id, held, y, bucket
       | UNION ALL
       | SELECT doc_id, held, y, CAST(-1 AS BIGINT) AS bucket, 1.0 AS x
       | FROM b2),
       |fxt AS (SELECT * FROM fx WHERE $trainWhere),
       |fxe AS (SELECT * FROM fx WHERE $evalWhere),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b2
       |       WHERE $trainWhere),
       |w0 AS (SELECT DISTINCT bucket, 0.0 AS wgt FROM fxt),
       |${(1 to iters).map(lrIterSql(_, 2.0)).mkString(",\n")},
       |mf AS (
       | SELECT doc_id, y, sum($lrTerm) AS m
       | FROM fxe JOIN w$iters USING (bucket) GROUP BY 1, 2),
       |cg AS (
       | SELECT CAST(floor(CAST(m AS DECIMAL(18,9)) * 1000) AS BIGINT)
       |   AS v,
       |  count(*) AS c, CAST(sum(y) AS BIGINT) AS p
       | FROM mf GROUP BY 1),
       |cc AS (SELECT v, c, p,
       |  sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       | FROM cg),
       |au AS (
       | SELECT CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(sum(p) AS BIGINT) AS n_pos,
       |  CASE WHEN CAST(sum(p) AS BIGINT) > 0
       |    AND CAST(sum(c) AS BIGINT) > CAST(sum(p) AS BIGINT) THEN
       |   round((CAST(sum(CAST(p AS DECIMAL(18,0))
       |      * CAST(2 * cum - c + 1 AS DECIMAL(18,0))) AS DOUBLE)
       |     - CAST(sum(p) AS DOUBLE) * (CAST(sum(p) AS DOUBLE) + 1))
       |    / (2.0 * CAST(sum(p) AS DOUBLE)
       |       * CAST(sum(c) - sum(p) AS DOUBLE)), 6) END AS auc
       | FROM cc),
       |ll AS (
       | SELECT round(-CAST(sum($lrLoss) AS DOUBLE)
       |   / CAST(count(*) AS DOUBLE), 6) AS log_loss
       | FROM mf)
       |SELECT bucket, round(wgt, 6) AS weight, n_docs, n_pos, auc,
       | log_loss
       |FROM w$iters, au, ll ORDER BY bucket""".stripMargin
  }

  def entries: Seq[Q] = Seq(
    // fastText-style LR quality classifier: hashed signed unigram
    // features, curated-vs-crawl label, 3 unrolled full-batch GD rounds.
    // same md5 bucket/sign hashing, same exact x = net/nt division, same
    // unrolled GD rounds (9dp folds, 6dp weights), same quantized-margin
    // aucRank identity and 6dp loss fold
    Q("q_quality_lr", { (s, d) => qualityLr(Tables.documents(s, d)) },
      qualityLrSql("TRUE", "TRUE")),
    // Generalization readout: same fit on the NOT-held 4/5, AUC/log-loss
    // scored on the md5 held-out 1/5 only.
    // same fit restricted to the NOT-held 4/5, AUC/log-loss over the
    // held 1/5 only (the generalization readout)
    Q("q_quality_lr_holdout", { (s, d) =>
      qualityLr(Tables.documents(s, d), holdout = true) },
      qualityLrSql("NOT held", "held")),
    // Density-aware embedding outliers: top-10 LOF on exact int8 d²,
    // over ONE index list (vec_id < 500, the q_ivf_append base-slice
    // convention) — LOF is local, so production shards it per IVF list
    // and this query IS one such shard: its pair frame is list²-bounded
    // at EVERY sf (the full-corpus variant was the suite's slowest
    // query at sf0.1 — 2000² HOF dot products for identical top-10s).
    // same int8 codes, same integer d² kNN (dd, ib tie-break), same
    // integer k·10¹²-scaled lrd, same final ratio
    Q("q_lof_outliers", { (s, d) =>
      lofOutliers(Tables.embeddings(s, d).filter(col("vec_id") < 500)) },
      s"""WITH p AS (
         | SELECT vec_id, codes,
         |  CAST(coalesce(${intDotSql("codes", "codes")}, 0) AS BIGINT)
         |   AS n2
         | FROM (SELECT vec_id,
         |   ${codesSql("embedding", scaleSql("embedding"))} AS codes
         |  FROM embeddings WHERE vec_id < 500)),
         |d2 AS (
         | SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  a.n2 - 2 * CAST(coalesce(${intDotSql("a.codes", "b.codes")},
         |    0) AS BIGINT) + b.n2 AS dd
         | FROM p a JOIN p b ON a.vec_id <> b.vec_id),
         |knn AS (
         | SELECT ia, ib, dd FROM (
         |  SELECT ia, ib, dd,
         |   row_number() OVER (PARTITION BY ia ORDER BY dd, ib) AS rn
         |  FROM d2) WHERE rn <= 5),
         |kdist AS (SELECT ia AS i, CAST(max(dd) AS BIGINT) AS kd
         |  FROM knn GROUP BY 1),
         |reach AS (
         | SELECT k.ia, greatest(kb.kd, k.dd) AS reach
         | FROM knn k JOIN kdist kb ON k.ib = kb.i),
         |lrd AS (
         | SELECT ia, CAST(5 * 1000000000000
         |   // greatest(CAST(sum(reach) AS BIGINT), 1) AS BIGINT)
         |  AS lrd12
         | FROM reach GROUP BY 1),
         |lf AS (
         | SELECT k.ia, CAST(sum(lb.lrd12) AS BIGINT) AS slrdb
         | FROM knn k JOIN lrd lb ON k.ib = lb.ia GROUP BY 1)
         |SELECT l.ia AS vec_id, kd.kd AS k_dist2,
         | CASE WHEN ld.lrd12 > 0 THEN
         |  round(CAST(l.slrdb AS DOUBLE)
         |   / (5.0 * CAST(ld.lrd12 AS DOUBLE)), 4) END AS lof
         |FROM lf l JOIN lrd ld ON l.ia = ld.ia
         | JOIN kdist kd ON l.ia = kd.i
         |ORDER BY lof DESC, vec_id LIMIT 10""".stripMargin),
    // Geometry-preservation readout of the int8 quantization (linear CKA).
    // same ⌊v·1024⌋ / int8 views, same n·Σxy − ΣxΣy centered moments in
    // HUGEINT, same final ratio-of-norms double
    Q("q_cka_quant", { (s, d) => ckaQuant(Tables.embeddings(s, d)) },
      s"""WITH bo AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * 1024) AS BIGINT)) AS xq,
         |  ${codesSql("embedding", scaleSql("embedding"))} AS codes
         | FROM embeddings),
         |dims AS (SELECT unnest(range(1, 65)) AS i),
         |pr AS (
         | SELECT d1.i AS a, d2.i AS b,
         |  xq[d1.i] AS xa, codes[d1.i] AS ya,
         |  xq[d2.i] AS xb, codes[d2.i] AS yb
         | FROM bo, dims d1, dims d2),
         |mom AS (
         | SELECT a, b, CAST(count(*) AS HUGEINT) AS n,
         |  CAST(sum(xa * xb) AS HUGEINT) AS sxx,
         |  CAST(sum(xa * yb) AS HUGEINT) AS sxy,
         |  CAST(sum(ya * yb) AS HUGEINT) AS syy,
         |  CAST(sum(xa) AS HUGEINT) AS sxa, CAST(sum(xb) AS HUGEINT) AS sxb,
         |  CAST(sum(ya) AS HUGEINT) AS sya, CAST(sum(yb) AS HUGEINT) AS syb
         | FROM pr GROUP BY 1, 2),
         |cent AS (
         | SELECT n * sxx - sxa * sxb AS mxx,
         |  n * sxy - sxa * syb AS mxy,
         |  n * syy - sya * syb AS myy
         | FROM mom),
         |h AS (SELECT sum(mxy * mxy) AS hxy, sum(mxx * mxx) AS hxx,
         |  sum(myy * myy) AS hyy FROM cent),
         |meta AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(max(len(xq)) AS BIGINT) AS dims FROM bo)
         |SELECT n_vecs, dims,
         | CASE WHEN hxx > 0 AND hyy > 0 THEN
         |  round(CAST(hxy AS DOUBLE) /
         |   sqrt(CAST(hxx AS DOUBLE) * CAST(hyy AS DOUBLE)), 6) END AS cka
         |FROM h, meta""".stripMargin),
    // One ALS half-step: per-user ridge solve against seeded item factors.
    // same seeded item factors, same fixed-scale Gram folds, same 2×2
    // Cramer/residual double trees
    Q("q_als_step", { (s, d) =>
      alsStep(Tables.orders(s, d), Tables.lineitem(s, d)) },
      """WITH edges AS (
        | SELECT o_custkey AS c, l_suppkey AS s, count(*) AS r
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | GROUP BY 1, 2),
        |qe AS (
        | SELECT c, s, r,
        |  (CAST(CAST('0x' || substr(md5('alsq1:' || CAST(s AS VARCHAR)),
        |     1, 13) AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS q1,
        |  (CAST(CAST('0x' || substr(md5('alsq2:' || CAST(s AS VARCHAR)),
        |     1, 13) AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS q2
        | FROM edges),
        |pu AS (
        | SELECT c, count(*) AS n_items,
        |  CAST(sum(CAST(round(q1 * q1, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |   AS a11,
        |  CAST(sum(CAST(round(q1 * q2, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |   AS a12,
        |  CAST(sum(CAST(round(q2 * q2, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |   AS a22,
        |  CAST(sum(CAST(round(q1 * CAST(r AS DOUBLE), 6) AS DECIMAL(28,6)))
        |   AS DOUBLE) AS b1,
        |  CAST(sum(CAST(round(q2 * CAST(r AS DOUBLE), 6) AS DECIMAL(28,6)))
        |   AS DOUBLE) AS b2
        | FROM qe GROUP BY 1),
        |sol AS (
        | SELECT c, n_items,
        |  ((a22 + 0.1) * b1 - a12 * b2)
        |   / ((a11 + 0.1) * (a22 + 0.1) - a12 * a12) AS p1,
        |  ((a11 + 0.1) * b2 - a12 * b1)
        |   / ((a11 + 0.1) * (a22 + 0.1) - a12 * a12) AS p2
        | FROM pu),
        |gfit AS (
        | SELECT count(*) AS n_edges,
        |  CAST(sum(CAST(round((CAST(r AS DOUBLE) - (p1 * q1 + p2 * q2))
        |    * (CAST(r AS DOUBLE) - (p1 * q1 + p2 * q2)), 6)
        |   AS DECIMAL(28,6))) AS DOUBLE) AS sse,
        |  CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) AS srr
        | FROM qe JOIN sol USING (c))
        |SELECT c AS custkey, n_items,
        | round(p1, 6) AS p1, round(p2, 6) AS p2, n_edges,
        | round(sqrt(sse / CAST(n_edges AS DOUBLE)), 6) AS rmse,
        | round(sqrt(srr / CAST(n_edges AS DOUBLE)), 6) AS rms_zero
        |FROM sol CROSS JOIN gfit
        |ORDER BY p1 * p1 + p2 * p2 DESC, c LIMIT 10""".stripMargin),
    // Farthest-first k-center coreset over int8 codes (exact integer d²).
    // same int8 codes, same integer d², greedy rounds unrolled
    Q("q_kcenter_coreset", { (s, d) =>
      kCenterCoreset(Tables.embeddings(s, d)) }, {
      def roundSql(t: Int) =
        s"""c$t AS (
           | SELECT vec_id AS cid, codes AS ccodes, n2 AS n2c,
           |  d2min AS dsel
           | FROM md${t - 1} ORDER BY d2min DESC, vec_id LIMIT 1),
           |md$t AS (
           | SELECT m.vec_id, m.codes, m.n2,
           |  least(m.d2min, m.n2
           |   - 2 * CAST(coalesce(${intDotSql("m.codes", "ccodes")}, 0)
           |      AS BIGINT) + n2c) AS d2min
           | FROM md${t - 1} m CROSS JOIN c$t)""".stripMargin
      s"""WITH pts AS (
         | SELECT vec_id, codes,
         |  CAST(coalesce(${intDotSql("codes", "codes")}, 0) AS BIGINT)
         |   AS n2
         | FROM (SELECT vec_id,
         |   ${codesSql("embedding", scaleSql("embedding"))} AS codes
         |  FROM embeddings)),
         |c1 AS (SELECT vec_id AS cid, codes AS ccodes, n2 AS n2c
         |       FROM pts ORDER BY vec_id LIMIT 1),
         |md1 AS (
         | SELECT p.vec_id, p.codes, p.n2,
         |  p.n2 - 2 * CAST(coalesce(${intDotSql("p.codes", "ccodes")}, 0)
         |     AS BIGINT) + n2c AS d2min
         | FROM pts p CROSS JOIN c1),
         |${(2 to 5).map(roundSql).mkString(",\n")},
         |rad AS (SELECT CAST(max(d2min) AS BIGINT) AS radius_d2 FROM md5),
         |ctr AS (
         | SELECT 1 AS step, cid AS center_id,
         |  CAST(NULL AS BIGINT) AS d2_selected FROM c1
         | ${(2 to 5).map(t =>
            s"UNION ALL SELECT $t, cid, CAST(dsel AS BIGINT) FROM c$t")
            .mkString("\n ")})
         |SELECT CAST(step AS INTEGER) AS step, center_id, d2_selected,
         | radius_d2
         |FROM ctr CROSS JOIN rad ORDER BY step""".stripMargin
    }),
    // Source-decorrelation audit of the epoch-shuffle training order.
    Q("q_shuffle_quality", { (s, d) =>
      shuffleQuality(Tables.documents(s, d)) },
      """WITH x AS (
        | SELECT d.doc_id, d.source, e.epoch,
        |  md5(concat_ws(':', e.epoch, d.doc_id)) AS h
        | FROM documents d CROSS JOIN range(1, 3) e(epoch)),
        |y AS (
        | SELECT doc_id, source, epoch,
        |  CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 8 AS shard, h
        | FROM x),
        |adj AS (
        | SELECT epoch, source,
        |  lag(source) OVER (PARTITION BY epoch, shard ORDER BY h, doc_id)
        |   AS prev_src
        | FROM y),
        |pe AS (
        | SELECT epoch, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN prev_src IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN prev_src = source THEN 1 ELSE 0 END)
        |   AS BIGINT) AS same_src_pairs
        | FROM adj GROUP BY 1),
        |er AS (
        | SELECT CAST(sum(CAST(ns AS HUGEINT) * (ns - 1)) AS DOUBLE)
        |   / CAST(CAST(sum(ns) AS HUGEINT) * (sum(ns) - 1) AS DOUBLE) AS er
        | FROM (SELECT count(*) AS ns FROM documents GROUP BY source))
        |SELECT epoch, n_docs, n_pairs, same_src_pairs,
        | round(CAST(same_src_pairs AS DOUBLE) / n_pairs, 6) AS obs_rate,
        | round(er, 6) AS exp_rate,
        | round(CAST(same_src_pairs AS DOUBLE) / n_pairs / er, 6) AS mix_ratio
        |FROM pe CROSS JOIN er ORDER BY epoch""".stripMargin),
    Q("q_woe_iv", { (s, d) => woeIv(Tables.documents(s, d)) },
      """WITH b AS (
        | SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(p) + 1 AS BIGINT) AS g,
        |  CAST(count(*) - sum(p) + 1 AS BIGINT) AS bd
        | FROM (SELECT CAST(n_chars AS BIGINT) // 64 AS bin,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
        |       FROM documents
        |       WHERE lang IS NOT NULL AND n_chars IS NOT NULL)
        | GROUP BY 1),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS gg,
        |        CAST(sum(bd) AS BIGINT) AS bb FROM b),
        |terms AS (
        | SELECT bin, n AS n_docs, g - 1 AS n_pos, bd - 1 AS n_neg,
        |  round(ln((CAST(g AS DOUBLE) / CAST(gg AS DOUBLE))
        |    / (CAST(bd AS DOUBLE) / CAST(bb AS DOUBLE))), 6) AS woe,
        |  CAST(round((CAST(g AS DOUBLE) / CAST(gg AS DOUBLE)
        |     - CAST(bd AS DOUBLE) / CAST(bb AS DOUBLE))
        |    * ln((CAST(g AS DOUBLE) / CAST(gg AS DOUBLE))
        |      / (CAST(bd AS DOUBLE) / CAST(bb AS DOUBLE))), 6)
        |   AS DECIMAL(18,6)) AS iv_term
        | FROM b CROSS JOIN tot),
        |iv AS (SELECT CAST(sum(iv_term) AS DOUBLE) AS iv_total FROM terms)
        |SELECT bin, n_docs, n_pos, n_neg, woe,
        | CAST(iv_term AS DOUBLE) AS iv_term, round(iv_total, 6) AS iv_total
        |FROM terms CROSS JOIN iv ORDER BY bin""".stripMargin),
    // Bradley–Terry source-strength tournament over rank-matched duels.
    Q("q_bt_strength", { (s, d) => btStrength(Tables.documents(s, d)) }, {
      val iters = (1 to 3).map(btIterSql).mkString(",\n")
      s"""WITH ranked AS (
         | SELECT lang, source, n_chars,
         |  row_number() OVER (PARTITION BY lang, source ORDER BY doc_id)
         |   AS rn
         | FROM documents),
         |duel AS (
         | SELECT a.source AS si, b.source AS sj,
         |  CASE WHEN a.n_chars >= b.n_chars THEN 1 ELSE 0 END AS wa
         | FROM ranked a JOIN ranked b
         |  ON a.lang = b.lang AND a.rn = b.rn AND a.source < b.source),
         |agg AS (
         | SELECT si, sj, count(*) AS n, sum(wa) AS w FROM duel
         | GROUP BY 1, 2),
         |dir AS (
         | SELECT si AS i, sj AS j, n, w FROM agg
         | UNION ALL SELECT sj, si, n, n - w FROM agg),
         |wins AS (SELECT i, sum(w) AS tw, sum(n) AS tn FROM dir GROUP BY 1),
         |p0 AS (SELECT i AS s, CAST(1000000 AS BIGINT) AS p FROM wins),
         |$iters
         |SELECT w.i AS source, CAST(w.tn AS BIGINT) AS duels,
         | CAST(w.tw AS BIGINT) AS wins, CAST(p.p AS BIGINT) AS strength
         |FROM wins w JOIN p3 p ON w.i = p.s
         |ORDER BY strength DESC, source""".stripMargin
    }),
    // Integer-exact per-label embedding outliers (Tukey fence on d²).
    Q("q_embed_outliers", { (s, d) =>
      embedOutliers(Tables.embeddings(s, d))
    },
      s"""WITH q AS (
         | SELECT vec_id, label,
         |  ${codesSql("embedding", scaleSql("embedding"))} AS codes
         | FROM embeddings),
         |ex AS (
         | SELECT vec_id, label, t.i - 1 AS pos, codes[t.i] AS c
         | FROM q CROSS JOIN unnest(range(1, len(codes) + 1)) AS t(i)),
         |cent AS (
         | SELECT label, pos, (sum(c + 127) // count(*)) - 127 AS m
         | FROM ex GROUP BY 1, 2),
         |d2 AS (
         | SELECT e.vec_id, e.label, sum((e.c - c.m) * (e.c - c.m)) AS d2
         | FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
         | GROUP BY 1, 2),
         |fen AS (
         | SELECT label,
         |  quantile_cont(d2, 0.75)
         |   + 1.5 * (quantile_cont(d2, 0.75) - quantile_cont(d2, 0.25))
         |   AS fence
         | FROM d2 GROUP BY 1)
         |SELECT d.label, d.vec_id, CAST(d.d2 AS BIGINT) AS d2,
         | round(f.fence, 6) AS fence
         |FROM d2 d JOIN fen f ON d.label = f.label
         |WHERE CAST(d.d2 AS DOUBLE) > f.fence
         |ORDER BY d.label, d.vec_id""".stripMargin),
    // Concat-and-chunk packing of the documents table: 512-token budget,
    // 8 shards. Returns the per-pack contract rows.
    Q("q_pack_sequences", { (s, d) =>
      packSummary(Tables.documents(s, d)).orderBy("pack_id")
    },
      s"""WITH toks AS (
         | SELECT doc_id, $tokensSql AS n_tokens, doc_id % 8 AS shard
         | FROM documents),
         |assigned AS (
         | SELECT doc_id, n_tokens,
         |  shard * 1000000 + CAST(floor(coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
         |   AS BIGINT) AS pack_id
         | FROM toks)
         |SELECT pack_id, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM assigned GROUP BY pack_id ORDER BY pack_id""".stripMargin),
    // Per-vector int8 quantization artifacts: scale + integer code sums
    // (codes themselves are list-typed; the sums are the cross-engine
    // checkable projection of them).
    Q("q_embed_quant", { (s, d) =>
      // single-row-group local table: spread before the per-vector
      // quantize + two 64-term folds, which otherwise run in ONE task
      // (stage profile: the whole query was 2 sequential single-task
      // stages, ~3 s of single-threaded CPU). At cluster scale the scan
      // is already many-partition; the raw-row shuffle is noise.
      quantizeEmbeddings(Tables.embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism))
        .select(col("vec_id"), col("scale"),
          aggregate(col("codes"), lit(0L), (a, v) => a + v).as("code_sum"),
          intDot(col("codes"), col("codes")).as("code_norm2"))
        .orderBy("vec_id")
    },
      s"""WITH q AS (
         | SELECT vec_id, ${scaleSql("embedding")} AS sc,
         |  ${codesSql("embedding", scaleSql("embedding"))} AS codes
         | FROM embeddings)
         |SELECT vec_id, round(sc, 6) AS scale,
         | CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS code_sum,
         | CAST(coalesce(${intDotSql("codes", "codes")}, 0) AS BIGINT) AS code_norm2
         |FROM q ORDER BY vec_id""".stripMargin),
    // Sequence-length bucket report: 16-wide capacity buckets (sized to
    // this corpus' 10-99-token docs; production would use 128) with
    // per-bucket padding efficiency.
    Q("q_length_buckets", { (s, d) =>
      lengthBuckets(Tables.documents(s, d))
    },
      s"""WITH t AS (
         | SELECT greatest(CAST($tokensSql AS BIGINT), 1) AS t FROM documents),
         |b AS (
         | SELECT (CAST(floor((t - 1) / 16) AS BIGINT) + 1) * 16 AS capacity, t
         | FROM t)
         |SELECT capacity, count(*) AS n_docs,
         | CAST(sum(t) AS BIGINT) AS total_tokens,
         | round(CAST(sum(t) AS DOUBLE) /
         |   CAST(count(*) * capacity AS DOUBLE), 6) AS pad_efficiency
         |FROM b GROUP BY capacity ORDER BY capacity""".stripMargin),
    // Quantized retrieval: the same 5 queries as the float top-k suite,
    // ranked by exact integer dot product.
    Q("q_sim_topk_quant", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      quantizedTopK(emb.filter(col("vec_id") < 5), emb, 5)
        .orderBy("query_id", "rank")
    },
      s"""WITH z AS (
         | SELECT vec_id, codes,
         |  CAST(coalesce(${intDotSql("codes", "codes")}, 0) AS BIGINT) AS n2
         | FROM (SELECT vec_id,
         |   ${codesSql("embedding", scaleSql("embedding"))} AS codes
         |  FROM embeddings)),
         |q AS (SELECT vec_id AS query_id, codes AS q_codes, n2 AS q_n2
         |      FROM z WHERE vec_id < 5),
         |scored AS (
         | SELECT query_id, c.vec_id AS corpus_id,
         |  round(CASE WHEN q_n2 = 0 OR c.n2 = 0 THEN 0.0
         |   ELSE CAST(${intDotSql("q_codes", "c.codes")} AS BIGINT) /
         |    (sqrt(q_n2) * sqrt(c.n2)) END, 6) AS qsim
         | FROM z c CROSS JOIN q),
         |ranked AS (
         | SELECT query_id, corpus_id, qsim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id) AS INTEGER) AS rank
         | FROM scored)
         |SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // PACK BOUNDARY MAP — what the dataloader actually consumes beside
    // the pack summary: per pack, the ordered (doc_id@start_token) list
    // marking where each document begins, i.e. the attention-boundary /
    // loss-mask offsets for concat-and-chunk training. Emitted as a
    // canonical ';'-joined string (the q_collect_ops array idiom) so the
    // oracle hash is order-stable. Same shard-partitioned windows as
    // q_pack_sequences — no global sort.
    Q("q_pack_boundaries", { (s, d) =>
      packAssignments(Tables.documents(s, d), 512, 8)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("start_tok")))),
            e => concat_ws("@", e.getField("doc_id"), e.getField("start_tok"))),
            ";").as("boundaries"))
        .orderBy("pack_id")
    },
      s"""WITH toks AS (
         | SELECT doc_id, $tokensSql AS n_tokens, doc_id % 8 AS shard
         | FROM documents),
         |a AS (
         | SELECT doc_id, n_tokens, shard,
         |  CAST(coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) AS cb
         | FROM toks),
         |p AS (
         | SELECT doc_id, n_tokens,
         |  shard * 1000000 + CAST(floor(cb / 512.0) AS BIGINT) AS pack_id,
         |  cb % 512 AS start_tok
         | FROM a)
         |SELECT pack_id, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | array_to_string(list(doc_id || '@' || start_tok ORDER BY doc_id),
         |  ';') AS boundaries
         |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin),

    // FEATURE-HASHING COLLISION AUDIT (the hashing trick, Weinberger et
    // al. 2009): categorical features hash into a fixed D=64 bucket
    // space with a ±1 sign bit. Before training on hashed features, a
    // pipeline audits the space: per bucket, how many DISTINCT raw
    // features collided there, the row mass, and the net signed mass
    // (the sign trick makes colliding features cancel in expectation —
    // net ≈ 0 on balanced collisions is the property being bought).
    // Plan: feature extraction is a map-side explode of 3 pure-column
    // expressions; the audit aggregates at feature cardinality then
    // bucket cardinality (64 rows) — two map-side-combined shuffles of
    // dictionary-class frames, never row-cardinality state.
    Q("q_feature_hash", { (s, d) =>
      val feats = Tables.events(s, d).select(explode(array(
          concat(lit("type:"), col("event_type")),
          concat(lit("dow:"), weekday(col("ts")) + 1),
          concat(lit("hour:"), hour(col("ts"))))).as("feat"))
        .groupBy("feat").agg(count(lit(1)).as("n"))
        .select(col("feat"), col("n"),
          (conv(substring(md5(col("feat")), 1, 4), 16, 10)
            .cast("long") % 64).as("bucket"),
          when(conv(substring(md5(col("feat")), 5, 1), 16, 10)
            .cast("long") % 2 === 0, 1L).otherwise(-1L).as("sign"))
      feats.groupBy("bucket")
        .agg(count(lit(1)).as("n_features"),
          sum(col("n")).as("n_rows"),
          sum(col("sign") * col("n")).as("net_signed"))
        .withColumn("has_collision", col("n_features") > 1)
        .orderBy("bucket")
    },
      """WITH f AS (
        | SELECT unnest(['type:' || event_type,
        |   'dow:' || CAST(isodow(ts) AS INTEGER),
        |   'hour:' || CAST(hour(ts) AS INTEGER)]) AS feat
        | FROM events),
        |fc AS (SELECT feat, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
        |h AS (
        | SELECT feat, n,
        |  CAST(('0x' || substr(md5(feat), 1, 4)) AS BIGINT) % 64 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(feat), 5, 1)) AS BIGINT) % 2 = 0
        |   THEN 1 ELSE -1 END AS sign
        | FROM fc)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_features,
        | CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(sum(sign * n) AS BIGINT) AS net_signed,
        | count(*) > 1 AS has_collision
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin),

    // LEAVE-ONE-OUT TARGET ENCODING with smoothing (Micci-Barreca 2001)
    // — the leakage-safe categorical feature: each row's encoding is the
    // smoothed mean of its category's target EXCLUDING the row itself
    // (in-fold mean would leak the label; the m=10 prior shrinks rare
    // categories toward the global mean). Exact-integer rational:
    // te = ((sc_t − own)·N + m·S) / ((n_t − 1 + m)·N), one double
    // division at the end — bit-stable cross-engine. Scale: per-row map
    // over the fact with a category-cardinality broadcast and a scalar
    // broadcast; output capped to event_id < 2000 (stats come from the
    // FULL table — the cap only bounds the verify frame).
    Q("q_target_encode", { (s, d) =>
      val m = 10L
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
      val byT = ev.groupBy("event_type")
        .agg(count(lit(1)).as("nt"), sum(col("cents")).as("sc"))
      val tot = ev.agg(count(lit(1)).as("nn"), sum(col("cents")).as("ss"))
      ev.join(broadcast(byT), Seq("event_type")).crossJoin(broadcast(tot))
        .filter(col("event_id") < 2000)
        .select(col("event_id"), col("event_type"),
          round(col("cents").cast("double") / 100.0, 2).as("value"),
          round(((col("sc") - col("cents")) * col("nn") +
              lit(m) * col("ss")).cast("double") /
            ((col("nt") - 1 + m) * col("nn")).cast("double") / 100.0, 6)
            .as("te_loo"))
        .orderBy("event_id")
    },
      """WITH ev AS (
        | SELECT event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nt,
        |      CAST(sum(cents) AS BIGINT) AS sc FROM ev GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |      CAST(sum(cents) AS BIGINT) AS ss FROM ev)
        |SELECT event_id, ev.event_type,
        | round(CAST(cents AS DOUBLE) / 100.0, 2) AS value,
        | round(CAST((sc - cents) * nn + 10 * ss AS DOUBLE)
        |   / CAST((nt - 1 + 10) * nn AS DOUBLE) / 100.0, 6) AS te_loo
        |FROM ev JOIN t USING (event_type) CROSS JOIN g
        |WHERE event_id < 2000 ORDER BY event_id""".stripMargin),

    // PER-EPOCH DETERMINISTIC SHUFFLE + SHARD PLAN — pretraining wants a
    // different global-looking data order every epoch, reproducible
    // across reruns and resumable mid-epoch. A true global shuffle is a
    // total ORDER BY (single-partition window at 100 TB — a non-starter);
    // the scalable form is hash-shard-then-local-rank: shard =
    // md5(epoch:doc) bucket, rank = row_number WITHIN (epoch, shard) by
    // the same hash. Each worker streams its shard in rank order; the
    // composition is epoch-keyed, so epoch 2's shards and orders are
    // uncorrelated with epoch 1's. Every window is shard-local —
    // partitioned, parallel, no global sort anywhere.
    Q("q_epoch_shuffle", { (s, d) =>
      val h = md5(concat_ws(":", col("epoch"), col("doc_id")))
      Tables.documents(s, d).select(col("doc_id"))
        .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("epoch"))
        .select(col("doc_id"), col("epoch").cast("long").as("epoch"), h.as("h"))
        .withColumn("shard",
          conv(substring(col("h"), 1, 4), 16, 10).cast("long") % 8)
        .withColumn("rank_in_shard", row_number().over(
          Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")))
        .select(col("epoch"), col("shard"), col("doc_id"), col("rank_in_shard"))
        .orderBy("epoch", "shard", "rank_in_shard")
    },
      """WITH x AS (
        | SELECT d.doc_id, e.epoch,
        |  md5(concat_ws(':', e.epoch, d.doc_id)) AS h
        | FROM documents d CROSS JOIN range(1, 3) e(epoch)),
        |y AS (
        | SELECT doc_id, epoch,
        |  CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 8 AS shard, h
        | FROM x)
        |SELECT epoch, shard, doc_id,
        | CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id)
        |  AS INTEGER) AS rank_in_shard
        |FROM y ORDER BY epoch, shard, rank_in_shard""".stripMargin)
  )
}
