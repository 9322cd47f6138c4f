package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.{ScoredId, TopKPairAggregator}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (builder brief): brute-force
  * cosine top-k as the exact baseline, and a sign-LSH bucketed variant as
  * the scale path.
  *
  * Scale posture: the query set is broadcast (queries ≪ corpus), so
  * brute-force is one map-side pass over the corpus — no shuffle until the
  * per-query top-k aggregation, which is the k-bounded TopKPairAggregator
  * (at most k (sim, id) pairs per query per task through the shuffle;
  * nothing fully sorted — the r02 row_number window shuffled every scored
  * candidate into #queries partitions, skew-by-construction). The LSH
  * variant prunes the scan itself: corpus and queries are bucketed by
  * sign-bit keys and joined per bucket, an IVF-style inverted index. Dot
  * products run through `zip_with`+`aggregate` (sequential fold →
  * deterministic, codegen'd, no UDF).
  */
object Similarity extends QueryModule {

  /** The family's fixed-point scale: a coordinate x is the Long ⌊x·2^20⌋,
    * so sums, dot products and squared distances are exact 64-bit integer
    * arithmetic on both engines (each oracle spells the same floor).
    */
  private val FixedScale = 1048576

  /** ⌊x·2^20⌋ of one coordinate. */
  private def quant(x: Column): Column =
    floor(x.cast("double") * FixedScale).cast("long")

  /** [[quant]] over every coordinate of an embedding array. */
  private def quantArr(emb: Column): Column = transform(emb, quant(_))

  /** Exact squared L2 distance of two fixed-point (Long) vectors. */
  private def sqDistL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Id of the centroid nearest to the fixed-point vector `q` (squared
    * integer distance; ties to the lower id by struct order). The
    * centroids ride the plan as literals.
    */
  private def nearestCentroid(q: Column, cents: Seq[(Int, Array[Long])]): Column =
    array_min(array(cents.map { case (cid, c) =>
      struct(sqDistL(q, array(c.map(lit).toIndexedSeq: _*)).as("d2"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** The one readout of [[TopKPairAggregator]]: per `key`, the k rows of
    * `scored` with the highest `score` (ties to the lower `id`), as
    * (key, id, score, rank) with rank 1..k, id a LONG and score a DOUBLE.
    * The shuffle carries at most k pairs per key per task and no scored
    * row is ever sorted (no window over the scored set).
    */
  private[operators] def topKPerQuery(scored: DataFrame, key: String,
                                      score: String, id: String,
                                      k: Int): DataFrame = {
    val topk = udaf(new TopKPairAggregator(k), Encoders.product[ScoredId])
    scored.groupBy(key)
      .agg(topk(col(score).cast("double"), col(id).cast("long")).as("tops"))
      .select(col(key), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col(key), col("t.id").as(id), col("t.sim").as(score),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** G·v with ascending-index sums: the fold order the oracles replay. */
  private[operators] def matVec(g: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val w = new Array[Double](v.length)
    var i = 0
    while (i < v.length) {
      var acc = 0.0; var j = 0
      while (j < v.length) { acc += g(i)(j) * v(j); j += 1 }
      w(i) = acc; i += 1
    }
    w
  }

  /** Rank-2 ORTHOGONAL ITERATION (block power method with per-step
    * Gram–Schmidt; Golub & Van Loan §8.2) on the symmetric matrix `g`,
    * from the fixed start block v1 = 1…1, v2 = +1/−1 alternating (never
    * data-dependent): (v1, v2, λ1, λ2) with λ = vᵀ·g·v. Every float op is
    * a fixed-order fold (ascending-index dots, one sqrt, one divide per
    * element, Gram–Schmidt in q1 → q2 order), which the DuckDB oracles of
    * q_pca_subspace, q_pca_project and q_ppmi_svd replay bit for bit: the
    * op order is part of the contract.
    */
  private[operators] def orthIter2(g: Array[Array[Double]], iters: Int)
      : (Array[Double], Array[Double], Double, Double) = {
    val dim = g.length
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var j = 0
      while (j < dim) { acc += a(j) * b(j); j += 1 }
      acc
    }
    var v1 = Array.fill(dim)(1.0)
    var v2 = Array.tabulate(dim)(j => if (j % 2 == 0) 1.0 else -1.0)
    var k = 0
    while (k < iters) {
      val w1 = matVec(g, v1); val w2 = matVec(g, v2)
      val n1 = math.sqrt(dotD(w1, w1))
      val q1 = w1.map(_ / n1)
      val c = dotD(q1, w2)
      val w2p = new Array[Double](dim)
      var j = 0
      while (j < dim) { w2p(j) = w2(j) - c * q1(j); j += 1 }
      val n2 = math.sqrt(dotD(w2p, w2p))
      v1 = q1; v2 = w2p.map(_ / n2)
      k += 1
    }
    (v1, v2, dotD(v1, matVec(g, v1)), dotD(v2, matVec(g, v2)))
  }

  /** The uncentered Gram matrix of the fixed-point embeddings, in ONE
    * corpus pass: each row explodes its d(d+1)/2 upper-triangle products
    * map-side and the shuffle carries (i, j) partial sums, exact Longs,
    * so partial-aggregation order cannot drift a bit. The d×d result
    * collects to the driver (dimension-class state). Overflow bound:
    * |q| ≤ |x|·2^20, so Gram terms stay under 2^53-double exactness and
    * the Long sums under 2^63 up to ~10^7 rows at |x| ≤ 3; beyond that,
    * switch the pair sums to DECIMAL(38,0) — same plan.
    */
  private def fixedGram(emb: DataFrame): Array[Array[Double]] = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // single-row-group local table: spread before the dim²/2 pair
    // explode (the Gram build's whole cost — measured 3.3 s in one task)
    val quant = emb
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(quantArr(col("embedding")).as("q"))
    val pairsArr = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
          (element_at(col("q"), i + 1) * element_at(col("q"), j + 1)).as("p")))))
    val g = Array.ofDim[Double](dim, dim)
    quant.select(explode(pairsArr).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.p")).as("g"))
      .collect()
      .foreach { r =>
        val i = r.getInt(0); val j = r.getInt(1); val v = r.getLong(2).toDouble
        g(i)(j) = v; g(j)(i) = v
      }
    g
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (i, j) is
    * the parity of the first md5 byte of "jl:i:j". Computed once on the
    * driver and embedded as literals — the projection itself is then pure
    * codegen'd arithmetic with zero per-row hashing.
    */
  def jlSigns(kOut: Int, d: Int): IndexedSeq[IndexedSeq[Int]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    (0 until kOut).map(i => (0 until d).map { j =>
      if ((mdig.digest(s"jl:$i:$j".getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
    })
  }

  /** Johnson–Lindenstrauss random-projection distortion audit: project
    * the first `nProbe` embeddings from d=64 to `kOut` dims with a ±1
    * sign matrix (Achlioptas 2003 — database-friendly JL), then measure
    * ‖Px−Py‖² / (kOut·‖x−y‖²) over all probe pairs. E[ratio] = 1; the
    * spread quantifies how safely ANN shortlists can run in the reduced
    * space (the dimensionality-reduction scale path next to MRL
    * truncation, q_sim_topk_mrl).
    *
    * Determinism: embeddings quantize to fixed-point Longs (q = ⌊x·2^20⌋,
    * the q_pca_top/q_kmeans trick), so every signed sum and squared
    * distance is EXACT 64-bit integer arithmetic — order-independent on
    * both engines. (A DECIMAL expression-tree fold is NOT safe here:
    * Spark grows decimal precision by 1 per add node, caps it at 38
    * mid-fold, and `allowPrecisionLoss` then silently drops scale —
    * the r07 red gate.) Overflow bound at |x| ≤ 3: |q| ≤ 3.2e6, a
    * projected coordinate ≤ 64·|q| ≈ 2e8, its squared pair-diff ≤
    * 1.7e17, ×kOut ≤ 1.4e18 < 2^63 — safe under ANSI overflow checks.
    * The only doubles are the final per-pair ratio (identical IEEE
    * Long→double conversion on both engines) and the decimal-summed
    * mean. Pairs with dOrig = 0 (identical probe vectors) are excluded
    * — the ratio is undefined there. Scale: the projection is a
    * map-side expression over the corpus (here the probe set); the
    * audit pairs frame is nProbe²-bounded.
    */
  def jlDistortionAudit(emb: DataFrame, kOut: Int = 8, d: Int = 64,
                        nProbe: Int = 20): DataFrame = {
    val signs = jlSigns(kOut, d)
    val e = emb.filter(col("vec_id") < nProbe && size(col("embedding")) === d)
      .select(col("vec_id"), quantArr(col("embedding")).as("e"))
    // HOF folds instead of unrolled 512-term (proj) / 64-term (dOrig)
    // expression trees: the unrolled form blew the generated
    // doAggregateWithoutKey method past janino's 64 KB limit and the whole
    // fused stage fell back to INTERPRETED execution (the one codegen
    // failure in the r13 baseline bench log). Same Long arithmetic, same
    // left-to-right fold order (Long + is associative anyway) — values
    // identical; x·s with s ∈ {+1,−1} ≡ the old sign-conditional negate.
    val proj = e.select(col("vec_id"), col("e"),
      array((0 until kOut).map { i =>
        Training.intDot(col("e"), typedLit(signs(i).map(_.toLong)))
      }: _*).as("p"))
    val a = proj.select(col("vec_id").as("ida"), col("e").as("ea"),
      col("p").as("pa"))
    val b = proj.select(col("vec_id").as("idb"), col("e").as("eb"),
      col("p").as("pb"))
    val dOrig = sqDistL(col("ea"), col("eb"))
    val dProj = sqDistL(col("pa"), col("pb"))
    a.join(b, col("ida") < col("idb")) // nProbe²/2 rows — audit-bounded
      .select(dOrig.as("d_orig"), dProj.as("d_proj"))
      .filter(col("d_orig") > 0) // identical probes: ratio undefined
      .select(round(col("d_proj").cast("double") /
        (lit(kOut) * col("d_orig").cast("double")), 6).as("ratio"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("ratio").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("mean_ratio"),
        round(min(col("ratio")), 6).as("min_ratio"),
        round(max(col("ratio")), 6).as("max_ratio"))
  }

  /** Cosine similarity of two float vectors, computed in double with a
    * fixed (sequential) summation order.
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** Exact top-k by cosine per query: broadcast queries × corpus scan,
    * ranked by the k-bounded aggregator. Ties broken by corpus id for
    * determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     cosineFn: (Column, Column) => Column = cosine): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("c_emb"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        round(cosineFn(col("q_emb"), col("c_emb")), 6).as("sim"))
    topKPerQuery(scored, "query_id", "sim", "corpus_id", k)
  }

  /** Sign-LSH bucket key: the sign bits of `nBits` fixed coordinates
    * starting at `offset` — deterministic axis-aligned hyperplanes (no
    * RNG, run-stable). At scale this is the IVF coarse quantizer: corpus
    * partitioned by bucket, queries probe only their own bucket. The
    * `offset` selects a disjoint coordinate slice per hash table for
    * OR-banding (see [[embeddingNearDups]]).
    */
  def signBucket(emb: Column, nBits: Int = 8, offset: Int = 0): Column =
    (0 until nBits).map { i =>
      when(element_at(emb, offset + i + 1) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Bucket width that tracks corpus size: ~`corpusRows / targetBucket`
    * buckets, i.e. bits = ⌈log₂(rows / targetBucket)⌉ clamped to
    * [8, dim]. The r03 fixed 8-bit key (256 buckets) made bucket
    * population — and therefore the within-bucket self-join — grow
    * LINEARLY with corpus size, degrading toward quadratic; with this,
    * expected occupancy stays ~targetBucket at any scale (1e9 rows →
    * 25 bits → ~32/bucket). The recall trade (same as the simhash chunk
    * width, Dedup.simhashChunkLayout doc): each added bit halves bucket
    * size but adds a coordinate on which a true near-dup pair may
    * disagree — compensate by OR-banding over `nTables` disjoint
    * coordinate slices, which multiplies candidate tables but turns
    * miss probability from p into pⁿ.
    */
  def adaptiveSignBits(corpusRows: Long, dim: Int, targetBucket: Long = 32L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, corpusRows.toDouble / targetBucket)) /
        math.log(2.0)).toInt
    math.min(math.max(needed, 8), dim)
  }

  /** Embedding-cosine near-dup pairs (sim ≥ threshold) via sign-bucket
    * LSH: candidates are generated WITHIN buckets only, id-only through
    * the band shuffles (the Dedup candidate pattern — embedding arrays
    * join back only for the deduped candidate pairs, a measured-in-Dedup
    * ~50× shuffle-volume cut vs carrying both arrays through the
    * self-join). `nTables` > 1 ORs candidates from disjoint coordinate
    * slices (requires nTables·nBits ≤ dim): recall against sign-flips
    * rises as 1−pⁿ while cost stays linear in tables.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.95,
                        nBits: Int = 8, nTables: Int = 1,
                        cosineFn: (Column, Column) => Column = cosine): DataFrame = {
    val keyed = emb.select(col("vec_id"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("band"),
          signBucket(col("embedding"), nBits, t * nBits).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.key"))
    val l = keyed.select(col("band"), col("key"), col("vec_id").as("id_a"))
    val r = keyed.select(col("band"), col("key"), col("vec_id").as("id_b"))
    val cands = l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val ea = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val eb = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    cands.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFn(col("e_a"), col("e_b")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Deterministic near-dup embedding corpus (the Dedup.plantedCorpus
    * pattern lifted to vectors): the embeddings table plus copies of the
    * first `nPlanted` vectors (vec_id + 10^7) with the LAST coordinate
    * negated. The flip leaves the sign bucket intact — [[signBucket]] reads
    * the FIRST `nBits` coordinates — so every planted pair is a guaranteed
    * LSH candidate, while cosine drops to 1 − 2·x_d²/‖x‖² ≈ 0.97 for the
    * near-isotropic test vectors: genuinely "near", not exact. The r06
    * gate compared 0 rows to 0 rows (the corpus has no natural embedding
    * near-dups at the gated SFs); this makes the oracle hash cover real
    * pairs at every SF.
    */
  def plantedEmbeddings(emb: DataFrame, nPlanted: Int = 20): DataFrame = {
    val n = size(col("embedding"))
    val planted = emb.filter(col("vec_id") < nPlanted)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        concat(slice(col("embedding"), lit(1), n - 1),
          array(negate(element_at(col("embedding"), n)))).as("embedding"))
    emb.select("vec_id", "embedding").unionByName(planted)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus, search for near-duplicate pairs WITHIN clusters
    * only, keep the lowest-id member of each similar group. Three stages,
    * each one shuffle class:
    *   1. centroids: exact-decimal per-label means (the IVF build);
    *   2. assignment: one Lloyd step — every vector to its nearest
    *      centroid by cosine (broadcast argmax over k centroids, ties to
    *      the smaller label; map-side, no shuffle);
    *   3. prune: within-cluster pairwise cosine ≥ threshold, drop any
    *      vector that has a LOWER-id neighbor above threshold (the
    *      deterministic, transitivity-free survivor rule), and report
    *      `dup_of` = its earliest such neighbor.
    * Scale: stage 3 is O(Σ cluster²) — at 100 TB cluster counts are sized
    * so clusters stay bounded (k ≈ n/target), and a storm cluster falls
    * back to sign-LSH sub-bucketing within the cluster (compose
    * [[embeddingNearDups]] per cluster), exactly the band-key pattern the
    * dedup family uses. The audit output is corpus-sized: one row per
    * vector with (cluster, kept, dup_of).
    */
  def semanticDedup(corpus: DataFrame, labeled: DataFrame, threshold: Double,
                    cosineFn: (Column, Column) => Column = cosine): DataFrame = {
    val cents = centroids(labeled)
    // assignment scores via the HOF cosine: centroids are double arrays
    // (exact-decimal means), the native expr is float-only by design
    val scored = corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("centroid")), 6).as("csim"),
        col("label"))
    val assigned = topKPerQuery(scored, "vec_id", "csim", "label", 1)
      .select(col("vec_id"), col("label").cast("int").as("cluster"))
    val withEmb = assigned.join(corpus, Seq("vec_id"))
    val a = withEmb.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"))
    val b = withEmb.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineFn(col("e_a"), col("e_b")), 6) >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** Top principal component of the embedding corpus — distributed
    * linear algebra in the engine's deterministic idiom:
    *   1. ONE corpus pass accumulates the uncentered Gram matrix in
    *      FIXED-POINT ([[fixedGram]]): exact Long pair sums.
    *   2. The d×d matrix (2080 rows — DIMENSION-sized, the same
    *      driver-state class as the BPE argmax) collects to the driver
    *      and runs `iters` power-iteration steps with max-abs
    *      renormalization. Every float op is a fixed-order fold —
    *      sequential dot products, one max, one divide — which the
    *      DuckDB oracle replays bit-for-bit (verified: 10 iterations
    *      match at 6dp through ~1e17-magnitude intermediates).
    * Output: (dim, loading) of the dominant eigenvector, scaled to
    * max-abs 1 (sign fixed by the all-ones start vector).
    */
  def pcaTopComponent(emb: DataFrame, iters: Int = 10): DataFrame = {
    val s = emb.sparkSession
    val g = fixedGram(emb)
    val dim = g.length
    val v = Array.fill(dim)(1.0)
    var k = 0
    while (k < iters) {
      val w = matVec(g, v)
      var m = 0.0; var i = 0
      while (i < dim) { val a = math.abs(w(i)); if (a > m) m = a; i += 1 }
      i = 0
      while (i < dim) { v(i) = w(i) / m; i += 1 }
      k += 1
    }
    import s.implicits._
    v.toSeq.zipWithIndex.map { case (x, i) => (i, x) }.toDF("dim", "raw")
      .select(col("dim"), round(col("raw"), 6).as("loading"))
      .orderBy("dim")
  }

  /** r = 2 PCA SUBSPACE by ORTHOGONAL ITERATION (block power method with
    * per-step Gram–Schmidt QR; Golub & Van Loan §8.2) on the SAME
    * fixed-point Gram matrix as [[pcaTopComponent]] — the low-rank
    * projection/whitening step the embedding ops lacked (q_pca_top stops
    * at one component). Released: unit-L2 loadings of the top-2
    * components plus each component's UNCENTERED variance share
    * (Rayleigh quotient / trace — the q_pca_top second-moment
    * convention).
    *
    * Determinism: the Gram matrix is exact integer (⌊x·2^20⌋ products,
    * one corpus pass); the iteration runs on the DRIVER over the d×d
    * frame (dimension-class state, same as q_pca_top) with every float
    * op a fixed-order fold — ascending-index dot products, one sqrt, one
    * divide per element, Gram–Schmidt in a fixed q1→q2 order — which the
    * DuckDB oracle replays bit-for-bit with left-to-right list_sum folds
    * (the proven q_pca_top replay idiom). Start block: v1 = 1…1,
    * v2 = +1/−1 alternating (fixed, never data-dependent).
    *
    * Scale posture: identical to q_pca_top — the only corpus pass is the
    * map-side Gram explode (d(d+1)/2 partial sums shuffled at dimension
    * cardinality); everything after is d×r driver state. r and d are
    * model constants, never data-scaled.
    */
  def pcaSubspace(emb: DataFrame, iters: Int = 10): DataFrame = {
    val s = emb.sparkSession
    val (v1, v2, share1, share2) = pcaSubspaceVecs(emb, iters)
    import s.implicits._
    (v1.toSeq.zipWithIndex.map { case (x, i) => (1, i, x, share1) } ++
      v2.toSeq.zipWithIndex.map { case (x, i) => (2, i, x, share2) })
      .toDF("pc", "dim", "raw", "rawshare")
      .select(col("pc"), col("dim"), round(col("raw"), 6).as("loading"),
        round(col("rawshare"), 6).as("var_share"))
      .orderBy("pc", "dim")
  }

  /** The orthogonal iteration behind [[pcaSubspace]] and [[pcaProject]]
    * on the fixed-point Gram matrix: (v1, v2, share1, share2), each share
    * the Rayleigh quotient over the trace.
    */
  private def pcaSubspaceVecs(emb: DataFrame, iters: Int)
      : (Array[Double], Array[Double], Double, Double) = {
    val g = fixedGram(emb)
    val (v1, v2, l1, l2) = orthIter2(g, iters)
    val tr = g.indices.foldLeft(0.0)((acc, i) => acc + g(i)(i))
    (v1, v2, l1 / tr, l2 / tr)
  }

  /** LOW-RANK PROJECTION onto the [[pcaSubspace]] components — the
    * whitening/compression step itself: each embedding's (pc1, pc2)
    * coordinates, for the audit slice vec_id < `topN` (the q_sim_topk
    * bounded-release convention; production writes the full projected
    * column). The 2-D view a curation dashboard scatters to eyeball
    * cluster structure before committing to the subspace.
    *
    * Exactness: the loadings freeze to ⌊v·10⁶ + 0.5⌋ integers via an
    * IDENTICALLY SPELLED floor expression on identical doubles (so the
    * convention cannot diverge cross-engine even at .5 boundaries);
    * coordinates are the usual ⌊x·2^20⌋ Longs; each projection is an
    * exact integer dot product (≤ 3·2^26·d per term — Long-safe), and
    * the only double is the final 6dp descale.
    *
    * Scale posture: one corpus pass for the Gram (shared with
    * pcaSubspace), then projection is a pure map over the released
    * slice (production: over the corpus) with the 2×d loading matrix as
    * plan literals — no join, no shuffle.
    */
  def pcaProject(emb: DataFrame, iters: Int = 10, topN: Int = 20): DataFrame = {
    val (v1, v2, _, _) = pcaSubspaceVecs(emb, iters)
    def fp(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(x * 1000000 + 0.5).toLong)
    val l1 = array(fp(v1).map(lit(_)): _*)
    val l2 = array(fp(v2).map(lit(_)): _*)
    val q = quantArr(col("embedding"))
    def proj(l: Column) = round(Training.intDot(q, l).cast("double") /
      FixedScale.toDouble / 1000000.0, 6)
    emb.filter(col("vec_id") < topN)
      .select(col("vec_id"), proj(l1).as("proj1"), proj(l2).as("proj2"))
      .orderBy("vec_id")
  }

  /** LINEAR-KERNEL MMD² between embedding label groups (Gretton et al.
    * 2012 §2.2 with k(x,y) = ⟨x,y⟩, where MMD² reduces to the squared
    * distance of the group means): the embedding-distribution drift
    * detector — "did source/shard A's embedding distribution move away
    * from B's?" — complementing the scalar-feature drift ops (q_psi_drift,
    * q_wasserstein_drift) with a multivariate one-number readout per
    * group pair.
    *
    * Exactness: ||μa − μb||² = Σ_d (sa_d·nb − sb_d·na)² / (na·nb)² over
    * fixed-point coordinate sums (⌊x·2^20⌋ Longs) — the numerator is an
    * EXACT integer (no per-dim mean division, no float fold), and the
    * only double work is one shared division tree rounded 6dp.
    *
    * Scale posture: one map-side posexplode pass to the (label, dim) sum
    * frame (label·dim rows — dimension-class); the pair build is a
    * self-join of that bounded frame. Nothing pairwise ever touches
    * corpus rows (the quadratic-kernel variant would; linear MMD is the
    * 100 TB-honest member of the family).
    */
  def embedMmd(emb: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val q = emb.select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), quant(col("x")).as("qv"))
      .groupBy("label", "dim").agg(sum(col("qv")).as("s"))
    val n = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val m = q.join(n, Seq("label")).persistTracked()
    val a = m.select(col("label").as("label_a"), col("dim"),
      col("s").as("sa"), col("n").as("na"))
    val b = m.select(col("label").as("label_b"), col("dim"),
      col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("na"), col("nb"),
        ((dec(col("sa")) * dec(col("nb")) - dec(col("sb")) * dec(col("na"))) *
          (dec(col("sa")) * dec(col("nb")) - dec(col("sb")) * dec(col("na"))))
          .as("d2"))
      .groupBy("label_a", "label_b", "na", "nb")
      .agg(sum(col("d2")).as("num"))
      .select(col("label_a"), col("label_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        expr("round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * " +
          "CAST(nb AS DOUBLE) * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) " +
          "/ 1099511627776.0, 6)").as("mmd2"))
      .orderBy("label_a", "label_b")
  }

  /** Simplified (centroid-based) silhouette of the `label` clustering:
    * per vector, margin = cos(v, own centroid) − max over other
    * centroids of cos(v, centroid); per label, the count and average
    * margin. The cluster-quality report a clustering rollout checks
    * before trusting assignments (positive margin = vectors sit closer
    * to their own centroid than to any rival).
    *
    * Scale posture: the k-centroid frame broadcasts; scoring is one
    * map-side pass (k cosines per row, codegen HOFs), then a per-vector
    * k-row collapse and a label-sized aggregate. Per-row margins round
    * to 6dp and fold as DECIMAL so the average is order-independent
    * (the q_lm_score decimal-fold trick).
    */
  def silhouette(emb: DataFrame): DataFrame = {
    val cents = centroids(emb)
      .select(col("label").as("clabel"), col("centroid"))
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(cosine(col("embedding"), col("centroid")), 6).as("csim"))
    scored.groupBy("vec_id", "label")
      .agg(max(when(col("clabel") === col("label"), col("csim"))).as("a_sim"),
        max(when(col("clabel") =!= col("label"), col("csim"))).as("b_sim"))
      .select(col("label"),
        round(col("a_sim") - col("b_sim"), 6)
          .cast(DecimalType(12, 6)).as("m"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(col("m")).cast("double") / count(lit(1)), 6).as("avg_margin"))
      .orderBy("label")
  }

  /** Distributed Lloyd k-means over the embedding corpus, made exactly
    * replayable: coordinates quantize to fixed-point longs (q = ⌊x·2^20⌋,
    * the q_pca_top trick), centroids init from the first `k` vectors by
    * id, and each update stores ⌊Σq/n⌋ (double-floor division — exact
    * below 2^53) — so every iteration is pure integer state and the
    * DuckDB oracle replays all `iters` rounds bit-for-bit. Assignment
    * argmin breaks ties to the lower cluster id via struct ordering; a
    * cluster that loses every member keeps its previous centroid.
    *
    * Scale posture: the classic Spark k-means shape — centroids live on
    * the DRIVER (k·dim longs), ship as broadcast literals, and each
    * iteration is ONE corpus pass: map-side argmin against k in-register
    * centroids, then a map-side-combined (cid, dim) aggregation whose
    * result is k·dim rows. Nothing corpus-sized ever shuffles; iteration
    * count bounds total cost at iters scans. The per-row argmin stays in
    * whole-stage codegen (transform + aggregate HOFs, no UDF).
    */
  def kmeans(emb: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    val s = emb.sparkSession
    import graft.CacheScope.TrackedDataset
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val q = emb.select(col("vec_id"), quantArr(col("embedding")).as("q"))
      .persistTracked()
    val (cents, sizes) = intKmeansCentroids(q, k, iters, dim)
    import s.implicits._
    cents.flatMap { case (cid, c) =>
      c.zipWithIndex.map { case (v, i) =>
        (cid, i + 1, v, sizes.getOrElse(cid, 0L))
      }
    }.toDF("cluster_id", "di", "c", "n")
      .orderBy("cluster_id", "di")
  }

  /** ANN top-k: exact cosine, but only within the query's sign bucket. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 8,
              cosineFn: (Column, Column) => Column = cosine): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), signBucket(col("embedding"), nBits).as("bucket"))
    val c = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), signBucket(col("embedding"), nBits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("query_id"), col("corpus_id"),
        round(cosineFn(col("q_emb"), col("c_emb")), 6).as("sim"))
    topKPerQuery(scored, "query_id", "sim", "corpus_id", k)
  }

  /** IVF coarse index: per-cluster centroids as position-wise exact means
    * (DECIMAL sums cast to double — partial-agg order can't drift the
    * oracle). The `label` column plays the cluster assignment a k-means
    * pass would produce; at scale the corpus is stored partitioned by
    * cluster id and a query probes only its nearest centroid's partition.
    */
  def centroids(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(col("v").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), transform(col("pc"), p => p.getField("c")).as("centroid"))
  }

  /** IVF top-k: assign each query to its `nprobe` nearest centroids
    * (cosine desc, label-ordered tie-break), then exact cosine only within
    * those clusters' inverted lists. `nprobe` is the standard IVF recall
    * knob: 1 = fastest/coarsest; raising it widens the probed fraction of
    * the corpus toward brute-force recall (ScaleSpec asserts ≥ 0.95 recall
    * vs brute force at nprobe = 2 on the clustered test corpus).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nprobe: Int = 1): DataFrame = {
    val cents = centroids(corpus)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val assigned = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("label"),
        round(cosine(col("q_emb"), col("centroid")), 6).as("csim"))
    // nprobe nearest centroids per query via the same bounded aggregator
    // (centroid count is small, but the pattern stays k-bounded at any
    // query cardinality — no per-query window sort)
    val probe = topKPerQuery(assigned, "query_id", "csim", "label", nprobe)
      .select(col("query_id"), col("label").cast("int").as("label"))
      .join(broadcast(q), Seq("query_id"))
    val c = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), col("label"))
    val scored = c.join(broadcast(probe), Seq("label"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("q_emb"), col("c_emb")), 6).as("sim"))
    topKPerQuery(scored, "query_id", "sim", "corpus_id", k)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): the
    * diversity pass between retrieval and the context window — greedily
    * pick k of each query's `shortlist` candidates maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked. At λ = 1/2
    * the argmax is equivalent to maximizing `rel − maxSim` (×2,
    * monotone), and with vectors quantized to ⌊x·2^20⌋ Longs BOTH terms
    * are exact 64-bit integers — the selection (including every
    * tie-break: score desc, candidate id asc) replays bit-for-bit in
    * DuckDB's unrolled k-step twin. Rank-1 has no picked set; its
    * penalty is defined 0.
    *
    * Scale posture: relevance is the brute-force path (queries broadcast
    * over one corpus scan), the shortlist is the k-bounded
    * TopKPairAggregator (never a per-query window sort), and candidate
    * vectors re-attach via an AQE-broadcast join of the
    * (nQ·shortlist)-row frame. The greedy selection itself runs in
    * `flatMapGroups` — the documented (d)-tier escape hatch, justified
    * here because each step's scores depend on the previous picks
    * (an inherently sequential argmax chain; the relational encoding is
    * k self-joins of the whole frame). Per-group state is
    * shortlist-bounded (20 rows × 64 dims), NOT corpus-bounded, and
    * groups are query-parallel.
    */
  def mmrRerank(emb: DataFrame, nQ: Int = 5, shortlist: Int = 20,
                k: Int = 5): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val base = emb.filter(size(col("embedding")) === 64)
    val q = base.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), quantArr(col("embedding")).as("qe"))
    val c = base.filter(col("vec_id") >= nQ)
      .select(col("vec_id").as("cid"), quantArr(col("embedding")).as("ce"))
    val rel = c.crossJoin(broadcast(q))
      .select(col("qid"), col("cid"),
        Training.intDot(col("qe"), col("ce")).as("rel"))
    // |rel| ≤ 64·(3.2e6)² ≈ 6.5e14 < 2^53 — exact through the double-typed
    // aggregator, cast back lossless
    val short = topKPerQuery(rel, "qid", "rel", "cid", shortlist)
      .select(col("qid"), col("cid"), col("rel").cast("long").as("rel"))
    val cand = short.join(c, Seq("cid"))
      .select(col("qid"), col("cid"), col("rel"), col("ce"))
      .as[(Long, Long, Long, Seq[Long])]
    cand.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Seq[Long])]) =>
        val cands = it.map { case (_, cid, r, ce) =>
          val arr = ce.toArray
          // the penalty dot below is raw JVM Long arithmetic (wraps
          // silently); its safety rests on |x| ≤ 3·2^20 per quantized
          // component (dims ≤ 64 ⇒ Σ|a·b| ≤ 64·(3·2^20)² ≈ 6.3e14 ≪
          // 2^63). Validate the bound HERE so a corrupt embedding fails
          // loudly instead of wrapping the ranking (ADVICE r8).
          var i = 0
          while (i < arr.length) {
            require(math.abs(arr(i)) <= (3L << 20),
              s"quantized embedding out of range (cid=$cid dim=$i: ${arr(i)})")
            i += 1
          }
          (cid, r, arr)
        }.toArray.sortBy(t => (t._1)) // canonical order; argmax scans all
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        val used = scala.collection.mutable.HashSet.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
        var r = 1
        while (r <= k && used.size < cands.length) {
          var bestCid = -1L; var bestScore = Long.MinValue
          var bestVec: Array[Long] = null
          for ((cid, rl, ce) <- cands if !used(cid)) {
            var pen = Long.MinValue
            for (sv <- chosen) {
              var dot = 0L; var i = 0
              while (i < ce.length) { dot += ce(i) * sv(i); i += 1 }
              if (dot > pen) pen = dot
            }
            val score = rl - (if (chosen.isEmpty) 0L else pen)
            if (score > bestScore || (score == bestScore && cid < bestCid)) {
              bestScore = score; bestCid = cid; bestVec = ce
            }
          }
          out += ((qid, r, bestCid, bestScore))
          used += bestCid; chosen += bestVec; r += 1
        }
        out.iterator
      }
      .toDF("qid", "rank", "cid", "mmr_score")
      .orderBy("qid", "rank")
  }

  /** Late-interaction (MaxSim) retrieval, the ColBERT scoring shape
    * (Khattab & Zaharia 2020): documents and queries are BAGS of vectors
    * (here: consecutive groups of `groupSize` embedding rows stand in
    * for per-token embeddings); score(Q, D) = Σ_{q∈Q} max_{d∈D} q·d.
    * Captures token-level matching that single-vector retrieval
    * averages away.
    *
    * Exact replayability: dots are ⌊x·2^20⌋-quantized integer products
    * (the q_mmr_rerank arithmetic), so per-pair max and per-doc sum are
    * pure BIGINT ops with deterministic ties.
    *
    * Scale posture: the query bag (nQ docs × groupSize vectors) rides a
    * broadcast; the corpus scan is one pass producing (qdoc, qvec, ddoc)
    * maxes via map-side-combined aggregation — the per-vector max and
    * per-doc sum are the same two-level aggregate every Σmax plan wants.
    * At web scale the doc side would be pre-shortlisted by a
    * single-vector ANN pass (q_sim_topk_ivf) before MaxSim rescoring —
    * exactly ColBERT's candidate-generation + rerank split; the final
    * top-k per query is the k-bounded aggregator, never a global sort.
    */
  def lateInteractionTopK(emb: DataFrame, nQ: Int = 2, groupSize: Int = 8,
                          k: Int = 10): DataFrame = {
    val base = emb.filter(size(col("embedding")) === 64)
      .select((col("vec_id") / groupSize).cast("long").as("doc"),
        col("vec_id").as("vid"), quantArr(col("embedding")).as("e"))
    val qs = base.filter(col("doc") < nQ)
      .select(col("doc").as("qdoc"), col("vid").as("qvid"), col("e").as("qe"))
    val ds = base.filter(col("doc") >= nQ)
    val dots = ds.crossJoin(broadcast(qs))
      .select(col("qdoc"), col("qvid"), col("doc"),
        Training.intDot(col("qe"), col("e")).as("dot"))
    val maxes = dots.groupBy("qdoc", "qvid", "doc")
      .agg(max(col("dot")).as("mx"))
    val scored = maxes.groupBy("qdoc", "doc")
      .agg(sum(col("mx")).as("score"))
    // |score| ≤ groupSize·64·(3.2e6)² ≈ 5e15 < 2^53 — exact in double
    topKPerQuery(scored, "qdoc", "score", "doc", k)
      .select(col("qdoc"), col("doc"), col("score").cast("long").as("score"),
        col("rank"))
      .orderBy("qdoc", "rank")
  }

  /** The one integer Lloyd loop, over a pre-quantized (vec_id, q) frame:
    * [[kmeans]] and every PQ subspace run it. Centroids init from the
    * first `k` vectors by id and are driver state (k·dim Longs, dimension
    * class); every update stores ⌊Σq/n⌋ so the DuckDB twin replays each
    * round bit-for-bit; a cluster that loses every member keeps its
    * previous centroid; assignment ties break to the lower cid. Returns
    * the centroids and the last round's cluster sizes.
    */
  private def intKmeansCentroids(q: DataFrame, k: Int, iters: Int, dim: Int)
      : (Seq[(Int, Array[Long])], Map[Int, Long]) = {
    var cents: Seq[(Int, Array[Long])] = q.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray)).toSeq
    var sizes: Map[Int, Long] = Map.empty
    for (_ <- 1 to iters) {
      // two-step select: combining getField with posexplode in ONE
      // select makes Spark's Generate analysis drop the struct field
      // names (FIELD_NOT_FOUND col1/col2 — reproduced in PlansSpec-era
      // probing); the split is load-bearing
      val agg = q
        .select(nearestCentroid(col("q"), cents).as("cid"), col("q"))
        .select(col("cid"), posexplode(col("q")))
        .groupBy("cid", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      sizes = agg.groupBy(_.getInt(0))
        .map { case (cid, rs) => cid -> rs.head.getLong(3) }
      val updated = agg.groupBy(_.getInt(0)).map { case (cid, rs) =>
        val c = new Array[Long](dim)
        rs.foreach { r =>
          c(r.getInt(1)) =
            math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
        }
        cid -> c
      }
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    (cents, sizes)
  }

  /** PRODUCT QUANTIZATION + ADC retrieval (Jégou et al. 2011 — the
    * memory-compression workhorse of billion-scale ANN): the 64-dim
    * space splits into m=4 16-dim subspaces, each with its own
    * 16-centroid codebook (integer Lloyd, trained on the full corpus);
    * a document compresses to 4 code nibbles (32× smaller than the
    * int-quantized vector), and a query scores documents WITHOUT
    * decompression via Asymmetric Distance Computation — per subspace a
    * 16-entry distance table from the query to the codebook, then
    * score(doc) = Σ_m dtable[m][code_m(doc)] (one table lookup per
    * subspace per doc).
    *
    * Exactness: vectors quantize to ⌊x·2^20⌋ Longs, codebooks follow the
    * [[kmeans]] integer-replay recipe per subspace, distance tables are
    * exact integer sums, and ADC totals stay < 2^53 (4 subspaces ×
    * 16 dims × (2·3.2e6)² ≈ 2.6e15) — the DuckDB twin replays training,
    * coding and scoring bit-for-bit.
    *
    * The output is the DEPLOYED PQ shape: ADC ranks a cheap SHORTLIST
    * (top-`shortlist` per query over codes only), then the exact
    * quantized L2 rescores just those candidates — compression prunes
    * the scan, exactness decides the final ranking (measured in
    * PqRecallSpec: ADC alone recalls ~0.3 of the exact top-10 at these
    * codebook sizes; the rescored shortlist recovers it).
    *
    * Scale posture: codebooks are driver state (m·16·16 Longs —
    * dimension class) shipped as literals; coding is ONE map-side pass
    * over the corpus; the scored frame carries (qid, doc, dist) with the
    * query distance tables as a broadcast (nQ rows); both ranking stages
    * are the k-bounded aggregator, and the exact rescore touches only
    * nQ·shortlist vectors. At deployment the coded table (4 bytes/doc)
    * is what persists — the point of PQ at 100 TB is that the scan reads
    * codes, not vectors.
    */
  def pqTopK(emb: DataFrame, nQ: Int = 5, k: Int = 10,
             iters: Int = 2, shortlist: Int = 50): DataFrame = {
    val m = 4; val subDim = 16; val kCent = 16
    val s = emb.sparkSession
    import graft.CacheScope.TrackedDataset
    // EAGER cache (r13 finding 2) + CONCURRENT subspace training (guide
    // §2.6): the 4 codebooks are independent Lloyd loops over disjoint
    // slices of the same cached frame — trained sequentially they cost
    // 4 × (seed collect + iters collect jobs) of driver-blocking latency
    // while the box idles; submitted as futures the collects interleave.
    // Results are unchanged by construction: no arithmetic crosses
    // subspaces, each future only reads the materialized cache.
    val q = emb.filter(size(col("embedding")) === m * subDim)
      .select(col("vec_id"), quantArr(col("embedding")).as("qv"))
      .eagerTracked()
    val books: Seq[Seq[(Int, Array[Long])]] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      (0 until m).map { sub =>
        Future(intKmeansCentroids(
          q.select(col("vec_id"),
            slice(col("qv"), sub * subDim + 1, subDim).as("q")),
          kCent, iters, subDim)._1)
      }.map(Await.result(_, Duration.Inf))
    }
    val codeCols = (0 until m).map { sub =>
      nearestCentroid(slice(col("qv"), sub * subDim + 1, subDim), books(sub))
        .as(s"code$sub")
    }
    val coded = q.filter(col("vec_id") >= nQ)
      .select((col("vec_id").as("doc_id") +: codeCols): _*)
    // nQ query vectors collect to the driver (scalar-guard class) to
    // build the ADC tables as broadcast literals
    val qvecs = q.filter(col("vec_id") < nQ).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    import s.implicits._
    val dtRows = qvecs.map { case (qid, v) =>
      val dts = (0 until m).map { sub =>
        books(sub).sortBy(_._1).map { case (_, c) =>
          var acc = 0L; var i = 0
          while (i < subDim) {
            val d = v(sub * subDim + i) - c(i); acc += d * d; i += 1
          }
          acc
        }.toArray
      }
      (qid, dts(0), dts(1), dts(2), dts(3))
    }.toSeq.toDF("qid", "dt0", "dt1", "dt2", "dt3")
    // both stages rank by NEGATED distance: nearest first
    val scored = coded.crossJoin(broadcast(dtRows))
      .select(col("qid"), col("doc_id"),
        (-(0 until m).map(sub =>
          element_at(col(s"dt$sub"), col(s"code$sub") + 1)).reduce(_ + _))
          .as("neg_adc"))
    val short = topKPerQuery(scored, "qid", "neg_adc", "doc_id", shortlist)
      .select(col("qid"), col("doc_id"))
    // exact rescore of the shortlist only: query vectors ride a broadcast
    val qdf = qvecs.toSeq.map { case (qid, v) => (qid, v.toSeq) }
      .toDF("qid", "qe")
    val resc = short
      .join(q.select(col("vec_id").as("doc_id"), col("qv")), Seq("doc_id"))
      .join(broadcast(qdf), Seq("qid"))
      .select(col("qid"), col("doc_id"),
        (-sqDistL(col("qe"), col("qv"))).as("neg_l2"))
    topKPerQuery(resc, "qid", "neg_l2", "doc_id", k)
      .select(col("qid"), col("doc_id"),
        (-col("neg_l2")).cast("long").as("l2_dist"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** HARD-NEGATIVE MINING for contrastive training (the embedding twin
    * of q_negative_sample's md5-random negatives): for each query
    * vector, the single most-similar vector with a DIFFERENT label —
    * maximally confusable, which is exactly what a contrastive loss
    * wants beside its positives (random negatives quickly become too
    * easy). Scored with the native single-pass cosine expression, top-1
    * via a max_by argmax with id tie-break (no window). Scale posture:
    * queries broadcast against the corpus scan (the q_sim_topk_brute
    * shape); at 100 TB the scan side swaps for the IVF/PQ candidate
    * stream — the scorer and argmax are unchanged.
    */
  def hardNegatives(emb: DataFrame, nQ: Int = 10): DataFrame = {
    val s = emb.sparkSession
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val c = emb.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), col("label").as("c_label"))
    c.crossJoin(broadcast(q))
      .filter(col("q_label") =!= col("c_label"))
      .select(col("query_id"), col("q_label"), col("corpus_id"),
        col("c_label"),
        round(graft.functions.NativeExpressions
          .cosineSim(s, col("q_emb"), col("c_emb")), 6).as("sim"))
      .groupBy("query_id", "q_label")
      .agg(max_by(struct(col("corpus_id"), col("c_label"), col("sim")),
        struct(col("sim"), negate(col("corpus_id")))).as("m"))
      .select(col("query_id"), col("q_label"),
        col("m.corpus_id").as("neg_id"), col("m.c_label").as("neg_label"),
        col("m.sim").as("sim"))
      .orderBy("query_id")
  }

  /** 1-NN LABEL-CONSISTENCY EVAL — the embedding-quality number behind
    * "do these vectors respect the labels?": for each probe vector, the
    * nearest OTHER vector's label is the prediction; accuracy per label
    * + overall ppm. The leave-one-out cousin of q_silhouette (that one
    * scores geometry; this one scores the decision rule a retrieval
    * classifier would actually run). Probes = vec_id < nQ broadcast
    * against the corpus scan (the q_sim_topk_brute shape — IVF/PQ
    * candidate streams swap in at 100 TB); argmax via max_by, ties to
    * the smaller id.
    */
  def knnAccuracy(emb: DataFrame, nQ: Int = 50): DataFrame = {
    val s = emb.sparkSession
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val c = emb.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), col("label").as("c_label"))
    val pred = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("q_label"), col("corpus_id"),
        col("c_label"),
        round(graft.functions.NativeExpressions
          .cosineSim(s, col("q_emb"), col("c_emb")), 6).as("sim"))
      .groupBy("query_id", "q_label")
      .agg(max_by(col("c_label"),
        struct(col("sim"), negate(col("corpus_id")))).as("pred"))
    pred.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        sum((col("pred") === col("q_label")).cast("long")).as("n_correct"))
      .select(col("label"), col("n_probes"), col("n_correct"),
        expr("n_correct * 1000000 div n_probes").as("accuracy_ppm"))
      .orderBy("label")
  }

  /** MAXIMUM MEAN DISCREPANCY, linear kernel (Gretton et al. 2012 §2.2)
    * — the two-sample test for EMBEDDING drift: with k(x,y) = ⟨x,y⟩,
    * MMD² = ‖μ_X − μ_Y‖², the squared distance between the two samples'
    * mean embeddings. Zero iff the means coincide; the standard cheap
    * first-order check that a new corpus snapshot's embedding
    * distribution still matches the reference before retraining an index
    * (RBF-kernel MMD catches higher moments but needs random features —
    * the linear statistic is the one that folds to d numbers per group).
    * Groups here: label < 5 (reference) vs ≥ 5 (candidate); any group
    * predicate slots in.
    *
    * Scale posture: ONE pass — posexplode is map-side, the only shuffle
    * carries d groups (d = dim count), each an exact DECIMAL(18,9) sum
    * (order-independent; a raw double Σ would drift with partial-agg
    * order). The d-row frame folds to one row; per-dim terms round to
    * 6dp DECIMAL before the final exact sum so both engines replay the
    * fold bit-for-bit.
    */
  def mmdDrift(emb: DataFrame, refPred: Column): DataFrame = {
    val terms = emb
      .select(refPred.as("ref"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(when(col("ref"), col("x").cast(DecimalType(18, 9)))).as("sx"),
        sum(when(col("ref"), 1L).otherwise(0L)).as("nx"),
        sum(when(!col("ref"), col("x").cast(DecimalType(18, 9)))).as("sy"),
        sum(when(!col("ref"), 1L).otherwise(0L)).as("ny"))
      .select(col("nx"), col("ny"),
        round(pow(col("sx").cast("double") / col("nx") -
          col("sy").cast("double") / col("ny"), 2), 6)
          .cast(DecimalType(18, 6)).as("term"))
    terms.agg(max(col("nx")).as("n_ref"), max(col("ny")).as("n_cur"),
        count(lit(1)).as("n_dims"), sum(col("term")).as("mmd2d"))
      .select(col("n_ref"), col("n_cur"), col("n_dims"),
        col("mmd2d").cast("double").as("mmd2"),
        // n_eff·MMD² — the scale on which the asymptotic null lives
        // (Gretton et al. 2012 thm 12): grows with evidence if the
        // means truly differ, stays O(1) under the null.
        round((col("n_ref") * col("n_cur")).cast("double") /
          (col("n_ref") + col("n_cur")).cast("double") *
          col("mmd2d").cast("double"), 6).as("stat_neff"))
  }

  /** CALINSKI–HARABASZ INDEX (Calinski & Harabasz 1974) of the label
    * partition — the cluster-quality number you can actually afford at
    * corpus scale: between-/within-cluster variance ratio from GROUP
    * MOMENTS only (O(N·d) map + a (k·d)-group shuffle), where
    * silhouette's pairwise distances are O(N²). Uses the sums-of-squares
    * identity (W = Σ ss − s²/n per (label,dim); B = total SS − W), so no
    * centroid frame is ever materialized.
    *
    * Exactness: the q_embed_centroids fixed-point recipe — q =
    * ⌊x·2^20⌋ Longs, q² sums in DECIMAL(38,0) — keeps every moment an
    * exact integer; the per-group variance terms are single double
    * expressions of those integers, rounded 6dp into an exact DECIMAL
    * fold, so both engines replay W, B and the index bit-for-bit.
    */
  def calinskiHarabasz(emb: DataFrame): DataFrame = {
    val g = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), quant(col("x")).as("q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum((col("q") * col("q")).cast(DecimalType(38, 0))).as("ss"))
    def d(c: Column) = c.cast("double")
    val terms = g.select(col("dim"), col("n"), col("s"),
      round(d(col("ss")) - d(col("s")) * d(col("s")) / d(col("n")), 6)
        .cast(DecimalType(38, 6)).as("w_t"),
      round(d(col("s")) * d(col("s")) / d(col("n")), 6)
        .cast(DecimalType(38, 6)).as("cb_t"))
    val perDim = terms.groupBy("dim")
      .agg(sum(col("w_t")).as("w_d"), sum(col("cb_t")).as("cb_d"),
        sum(col("n")).as("nd"), sum(col("s")).as("st"))
    val kf = g.select("label").distinct().agg(count(lit(1)).as("k"))
    val fin = perDim
      .select(col("w_d"),
        round(d(col("cb_d")) - d(col("st")) * d(col("st")) / d(col("nd")), 6)
          .cast(DecimalType(38, 6)).as("b_d"),
        col("nd"))
      .agg(sum(col("w_d")).cast("double").as("w"),
        sum(col("b_d")).cast("double").as("b"),
        max(col("nd")).as("n"))
      .crossJoin(broadcast(kf))
    // /2^40 converts q² units back to x² units for the reported SS;
    // the index itself is scale-invariant
    fin.select(col("k"), col("n").as("n_rows"),
      round(col("w") / 1.099511627776e12, 6).as("w_ss"),
      round(col("b") / 1.099511627776e12, 6).as("b_ss"),
      round((col("b") / d(col("k") - 1)) /
        (col("w") / d(col("n") - col("k"))), 6).as("ch_index"))
  }

  /** COORDINATE-WISE MEDIAN EMBEDDING — the robust centroid (the
    * aggregation rule of coordinate-median federated/Byzantine-robust
    * aggregation, Yin et al. 2018): unlike the mean (q_embed_centroids),
    * a handful of corrupted or outlier vectors cannot drag any
    * coordinate, so this is the center to anchor outlier fences and
    * drift baselines on when the corpus may contain junk embeddings.
    * Reports the mean alongside so the per-dimension skew (median−mean)
    * is read directly.
    *
    * Exactness: values quantize to ⌊x·2^20⌋ Longs (the
    * q_embed_centroids recipe); the type-1 median per dimension comes
    * from (dim, q) value counts + a dim-PARTITIONED cumulative (bounded
    * by per-dim distinct values) — integer comparisons only, no float
    * percentile.
    */
  def embedMedian(emb: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val qv = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), quant(col("x")).as("q"))
      .groupBy("dim", "q").agg(count(lit(1)).as("c"))
      .persistTracked()
    val tot = qv.groupBy("dim")
      .agg(sum(col("c")).as("n"), sum(col("q") * col("c")).as("sq"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("dim").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = qv.withColumn("cum", sum(col("c")).over(w))
      .join(tot, Seq("dim"))
      .filter(col("cum") * 2L >= col("n")) // cum ≥ ceil(n/2)
      .groupBy("dim")
      .agg(min(col("q")).as("mq"))
    med.join(tot, Seq("dim"))
      .select(col("dim").cast("long").as("dim"), col("n").as("n_vectors"),
        round(col("mq").cast("double") / FixedScale.toDouble, 6)
          .as("median_coord"),
        round(col("sq").cast("double") / col("n") / FixedScale.toDouble, 6)
          .as("mean_coord"))
      .orderBy("dim")
  }

  /** NDCG position discounts 1/log2(p+1), 9dp reciprocal ranks, and the
    * flat-gain IDCG@10 (gains 10..1) — Scala doubles computed once at
    * plan build and embedded as IDENTICAL literals in both engines (the
    * q_rbo weight idiom), so no in-engine log/pow can drift.
    */
  private[operators] val ndcgDisc: Map[Int, Double] =
    (1 to 10).map(p => p -> 1.0 / (math.log(p + 1.0) / math.log(2.0))).toMap
  private[operators] val ndcgRr: Map[Int, Double] =
    (1 to 10).map(p => p -> BigDecimal(1.0 / p)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
  private[operators] val ndcgIdcg: Double =
    (1 to 10).map(p => BigDecimal((11 - p).toDouble * ndcgDisc(p))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  /** NDCG@10 + MRR of the sign-LSH index against the exact brute
    * ranking — the GRADED companion of q_ann_recall (set overlap) and
    * q_rbo (order agreement): relevance = 11 − ideal rank (integer
    * gains off the brute top-10), so a candidate list that surfaces the
    * right ids but buries the best ones scores low; MRR tracks where
    * the single best document lands. Determinism: discounts,
    * reciprocals, and the constant flat-gain IDCG@10 are the
    * [[ndcgDisc]]/[[ndcgRr]]/[[ndcgIdcg]] literals (identical in both
    * engines); each DCG term rounds to 9dp DECIMAL before the per-query
    * fold. Scale: both rankings are k-bounded per query and the
    * relevance join is on (query, corpus) ids — nothing beyond the
    * retrievals' own cost.
    */
  def ndcgEval(s: SparkSession, emb: DataFrame): DataFrame = {
    val cosF = graft.functions.NativeExpressions
      .cosineSim(s, _: Column, _: Column)
    val q = emb.filter(col("vec_id") < 5)
    val ideal = bruteForceTopK(q, emb, 10, cosF)
      .select(col("query_id"), col("corpus_id"),
        (lit(11) - col("rank")).cast("long").as("gain"))
    val cand = lshTopK(q, emb, 10, cosineFn = cosF)
      .select(col("query_id"), col("corpus_id"), col("rank").as("pos"))
    val discCol = (2 to 10).foldLeft(
      when(col("pos") === 1, lit(ndcgDisc(1)))) { (acc, p) =>
      acc.when(col("pos") === p, lit(ndcgDisc(p)))
    }
    val rrCol = (2 to 10).foldLeft(
      when(col("pos") === 1, lit(ndcgRr(1)))) { (acc, p) =>
      acc.when(col("pos") === p, lit(ndcgRr(p)))
    }
    val terms = cand
      .join(ideal, Seq("query_id", "corpus_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("gain"), lit(0L)).cast("double") * discCol, 9)
          .cast(DecimalType(18, 9)).as("term"),
        when(col("gain") === 10L, rrCol).otherwise(lit(0.0)).as("rr"),
        when(col("gain").isNotNull, 1L).otherwise(0L).as("hit"))
    terms.groupBy("query_id")
      .agg(sum(col("hit")).as("n_hits"),
        round(sum(col("term")).cast("double"), 6).as("dcg"),
        round(sum(col("term")).cast("double") / ndcgIdcg, 6)
          .as("ndcg_at_10"),
        round(max(col("rr")), 6).as("mrr"))
      .orderBy("query_id")
  }

  /** DuckDB oracles replicate the double-precision cosine explicitly
    * (list_transform to DOUBLE + list_sum), matching Spark's fold.
    */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""CASE WHEN sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}) = 0 THEN 0.0
       | ELSE ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) END""".stripMargin
  }

  private def bucketSql(e: String, nBits: Int = 8): String =
    (0 until nBits).map { i =>
      s"CASE WHEN $e[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** One unrolled Lloyd round for the [[kmeans]] oracle: argmin
    * assignment (d2 asc, cid asc), per-(cid, dim) integer sums, floored
    * mean, empty-cluster carry-over.
    */
  private def kmeansIterSql(it: Int, dim: Int): String = {
    val prev = s"c${it - 1}"
    s"""d$it AS (
       | SELECT e.vec_id, e.q, c.cid,
       |  list_sum(list_transform(range(1, ${dim + 1}),
       |    i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d2
       | FROM emb e, $prev c),
       |a$it AS (
       | SELECT vec_id, q, cid FROM (
       |  SELECT vec_id, q, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d$it) WHERE rn = 1),
       |s$it AS (
       | SELECT a.cid, t.i AS di, sum(a.q[t.i]) AS s, count(*) AS n
       | FROM a$it a CROSS JOIN range(1, ${dim + 1}) t(i) GROUP BY 1, 2),
       |g$it AS (
       | SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
       |   ORDER BY di) AS c
       | FROM s$it GROUP BY cid),
       |c$it AS (
       | SELECT p.cid, COALESCE(g.c, p.c) AS c
       | FROM $prev p LEFT JOIN g$it g USING (cid))""".stripMargin
  }

  /** DuckDB twin of [[pqTopK]]: per subspace, the same integer Lloyd
    * rounds (the kmeansIterSql shape parameterized by subspace), final
    * assignments as codes, query distance tables, ADC sum, ranked.
    */
  private def pqOracleSql(m: Int = 4, subDim: Int = 16, iters: Int = 2,
                          nQ: Int = 5, k: Int = 10,
                          shortlist: Int = 50): String = {
    val dp1 = subDim + 1
    def subCtes(sub: Int): String = {
      val lo = sub * subDim + 1; val hi = (sub + 1) * subDim
      val init =
        s"""sub$sub AS (
           | SELECT vec_id, list_slice(e, $lo, $hi) AS q FROM base),
           |c${sub}_0 AS (
           | SELECT CAST(vec_id AS BIGINT) AS cid, q AS c FROM sub$sub
           | WHERE vec_id < 16)""".stripMargin
      val rounds = (1 to iters).map { t =>
        s"""d${sub}_$t AS (
           | SELECT e.vec_id, e.q, c.cid,
           |  list_sum(list_transform(range(1, $dp1),
           |    i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d2
           | FROM sub$sub e, c${sub}_${t - 1} c),
           |a${sub}_$t AS (
           | SELECT vec_id, q, cid FROM (
           |  SELECT vec_id, q, cid,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           |  FROM d${sub}_$t) WHERE rn = 1),
           |s${sub}_$t AS (
           | SELECT a.cid, t.i AS di, sum(a.q[t.i]) AS sv, count(*) AS n
           | FROM a${sub}_$t a CROSS JOIN range(1, $dp1) t(i) GROUP BY 1, 2),
           |g${sub}_$t AS (
           | SELECT cid, list(CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT)
           |   ORDER BY di) AS c
           | FROM s${sub}_$t GROUP BY cid),
           |c${sub}_$t AS (
           | SELECT p.cid, COALESCE(g.c, p.c) AS c
           | FROM c${sub}_${t - 1} p LEFT JOIN g${sub}_$t g USING (cid))""".stripMargin
      }.mkString(",\n")
      val fin =
        s"""f$sub AS (
           | SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |    list_sum(list_transform(range(1, $dp1),
           |      i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))), c.cid) AS rn
           |  FROM sub$sub e, c${sub}_$iters c) WHERE rn = 1),
           |dt$sub AS (
           | SELECT q.vec_id AS qid, c.cid,
           |  list_sum(list_transform(range(1, $dp1),
           |    i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS d
           | FROM sub$sub q, c${sub}_$iters c WHERE q.vec_id < $nQ)""".stripMargin
      Seq(init, rounds, fin).mkString(",\n")
    }
    val dtJoins = (1 until m).map(sub =>
      s" JOIN f$sub ON f$sub.vec_id = f0.vec_id" +
        s" JOIN dt$sub ON dt$sub.qid = dt0.qid AND dt$sub.cid = f$sub.cid")
      .mkString("\n")
    val dSum = (0 until m).map(sub => s"dt$sub.d").mkString(" + ")
    s"""WITH base AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS e
       | FROM embeddings WHERE len(embedding) = ${m * subDim}),
       |${(0 until m).map(subCtes).mkString(",\n")},
       |sc AS (
       | SELECT dt0.qid, f0.vec_id AS doc_id,
       |  CAST($dSum AS BIGINT) AS adc_dist
       | FROM f0
       | JOIN dt0 ON dt0.cid = f0.cid
       |$dtJoins
       | WHERE f0.vec_id >= $nQ),
       |short AS (
       | SELECT qid, doc_id FROM (
       |  SELECT qid, doc_id,
       |   row_number() OVER (PARTITION BY qid
       |     ORDER BY adc_dist, doc_id) AS rn
       |  FROM sc) WHERE rn <= $shortlist),
       |resc AS (
       | SELECT s.qid, s.doc_id,
       |  CAST(list_sum(list_transform(range(1, ${m * subDim + 1}),
       |    i -> (qb.e[i] - db.e[i]) * (qb.e[i] - db.e[i]))) AS BIGINT)
       |   AS l2_dist
       | FROM short s
       | JOIN base qb ON qb.vec_id = s.qid
       | JOIN base db ON db.vec_id = s.doc_id)
       |SELECT qid, doc_id, l2_dist, rank FROM (
       | SELECT qid, doc_id, l2_dist,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY l2_dist, doc_id) AS INTEGER) AS rank
       | FROM resc) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Shared DuckDB CTE prefix replaying [[pcaSubspaceVecs]]: fixed-point
    * Gram (q/gl/gfull/grows/trc), fixed start block v0, and `iters`
    * orthogonal-iteration rounds ending at v`iters` (columns v1, v2).
    */
  private def pcaSubspaceCtesSql(iters: Int): String = {
    val itCtes = (1 to iters).map { k =>
      val prev = s"v${k - 1}"
      s"""w$k AS (
         | SELECT i,
         |  list_sum(list_transform(list_zip(row, v1), p -> p[1] * p[2])) AS w1,
         |  list_sum(list_transform(list_zip(row, v2), p -> p[1] * p[2])) AS w2
         | FROM grows CROSS JOIN $prev),
         |wl$k AS (SELECT list(w1 ORDER BY i) AS w1,
         |  list(w2 ORDER BY i) AS w2 FROM w$k),
         |a$k AS (SELECT list_transform(w1,
         |   x -> x / sqrt(list_sum(list_transform(w1, y -> y * y)))) AS v1,
         |  w2 FROM wl$k),
         |b$k AS (SELECT v1, w2,
         |  list_sum(list_transform(list_zip(v1, w2), p -> p[1] * p[2])) AS c
         | FROM a$k),
         |c$k AS (SELECT v1,
         |  list_transform(list_zip(w2, v1), p -> p[1] - c * p[2]) AS w2p
         | FROM b$k),
         |v$k AS (SELECT v1, list_transform(w2p,
         |   x -> x / sqrt(list_sum(list_transform(w2p, y -> y * y)))) AS v2
         | FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
       | SELECT list_transform(embedding,
       |  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
       | FROM embeddings),
       |gl AS (
       | SELECT t.i AS i, t2.j AS j, sum(q[t.i + 1] * q[t2.j + 1]) AS g
       | FROM q CROSS JOIN unnest(range(0, 64)) AS t(i)
       |        CROSS JOIN unnest(range(t.i, 64)) AS t2(j)
       | GROUP BY 1, 2),
       |gfull AS (
       | SELECT i, j, g FROM gl
       | UNION ALL
       | SELECT j, i, g FROM gl WHERE i < j),
       |grows AS (SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS row
       |          FROM gfull GROUP BY i),
       |trc AS (SELECT list_sum(list(CAST(g AS DOUBLE) ORDER BY i)) AS tr
       |        FROM gl WHERE i = j),
       |v0 AS (SELECT list_transform(range(0, 64), x -> 1.0) AS v1,
       |  list_transform(range(0, 64),
       |   x -> CASE WHEN x % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v2),
       |$itCtes""".stripMargin
  }

  def entries: Seq[Q] = Seq(
    // Robust (coordinate-median) centroid beside the mean, per dim.
    Q("q_embed_median", { (s, d) => embedMedian(Tables.embeddings(s, d)) },
      """WITH qv AS (
        | SELECT i - 1 AS dim,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
        |   AS q,
        |  count(*) AS c
        | FROM embeddings
        |  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS r(i)
        | GROUP BY 1, 2),
        |tot AS (
        | SELECT dim, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(q * c) AS BIGINT) AS sq
        | FROM qv GROUP BY 1),
        |cum AS (
        | SELECT dim, q, CAST(sum(c) OVER (PARTITION BY dim ORDER BY q
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM qv),
        |med AS (
        | SELECT dim, min(q) AS mq
        | FROM cum JOIN tot USING (dim)
        | WHERE cum * 2 >= n GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, n AS n_vectors,
        | round(CAST(mq AS DOUBLE) / 1048576.0, 6) AS median_coord,
        | round(CAST(sq AS DOUBLE) / n / 1048576.0, 6) AS mean_coord
        |FROM med JOIN tot USING (dim) ORDER BY dim""".stripMargin),
    // Between/within variance ratio of the label partition (the
    // O(N·d) cluster-quality companion to the pairwise silhouette).
    Q("q_calinski_harabasz", { (s, d) =>
      calinskiHarabasz(Tables.embeddings(s, d)) },
      """WITH g AS (
        | SELECT label, i - 1 AS dim, count(*) AS n,
        |  CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576)
        |    AS BIGINT)) AS BIGINT) AS s,
        |  sum(CAST(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576)
        |    AS BIGINT) * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576)
        |    AS BIGINT) AS HUGEINT)) AS ss
        | FROM embeddings
        |  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS r(i)
        | GROUP BY 1, 2),
        |terms AS (
        | SELECT dim, n, s,
        |  CAST(round(CAST(ss AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |   AS DECIMAL(38,6)) AS w_t,
        |  CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |    / CAST(n AS DOUBLE), 6) AS DECIMAL(38,6)) AS cb_t
        | FROM g),
        |pd AS (
        | SELECT dim, sum(w_t) AS w_d, sum(cb_t) AS cb_d,
        |  CAST(sum(n) AS BIGINT) AS nd, CAST(sum(s) AS BIGINT) AS st
        | FROM terms GROUP BY 1),
        |kf AS (SELECT count(DISTINCT label) AS k FROM g),
        |fin AS (
        | SELECT CAST(sum(w_d) AS DOUBLE) AS w,
        |  CAST(sum(CAST(round(CAST(cb_d AS DOUBLE)
        |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nd AS DOUBLE),
        |    6) AS DECIMAL(38,6))) AS DOUBLE) AS b,
        |  max(nd) AS n
        | FROM pd)
        |SELECT k, n AS n_rows,
        | round(w / 1.099511627776e12, 6) AS w_ss,
        | round(b / 1.099511627776e12, 6) AS b_ss,
        | round((b / CAST(k - 1 AS DOUBLE))
        |   / (w / CAST(n - k AS DOUBLE)), 6) AS ch_index
        |FROM fin CROSS JOIN kf""".stripMargin),
    // Linear-kernel MMD² between the label<5 and label≥5 embedding
    // populations — mean-embedding drift in one d-group pass.
    Q("q_mmd_drift", { (s, d) =>
      mmdDrift(Tables.embeddings(s, d), col("label") < 5) },
      """WITH t AS (
        | SELECT i - 1 AS dim,
        |  sum(CASE WHEN label < 5
        |   THEN CAST(embedding[i] AS DECIMAL(18,9)) END) AS sx,
        |  CAST(sum(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
        |  sum(CASE WHEN label >= 5
        |   THEN CAST(embedding[i] AS DECIMAL(18,9)) END) AS sy,
        |  CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS ny
        | FROM embeddings
        |  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS r(i)
        | GROUP BY 1),
        |terms AS (
        | SELECT nx, ny,
        |  CAST(round(pow(CAST(sx AS DOUBLE) / nx
        |    - CAST(sy AS DOUBLE) / ny, 2), 6) AS DECIMAL(18,6)) AS term
        | FROM t),
        |agg AS (
        | SELECT max(nx) AS n_ref, max(ny) AS n_cur,
        |  count(*) AS n_dims, sum(term) AS mmd2d
        | FROM terms)
        |SELECT n_ref, n_cur, n_dims, CAST(mmd2d AS DOUBLE) AS mmd2,
        | round(CAST(n_ref * n_cur AS DOUBLE)
        |   / CAST(n_ref + n_cur AS DOUBLE) * CAST(mmd2d AS DOUBLE), 6)
        |  AS stat_neff
        |FROM agg""".stripMargin),
    // 1-NN eval: same cosine, argmax by (sim desc, id asc), per-label
    Q("q_knn_accuracy", { (s, d) =>
      knnAccuracy(Tables.embeddings(s, d)) },
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
         | FROM embeddings WHERE vec_id < 50),
         |sc AS (
         | SELECT query_id, q_label, c.vec_id AS corpus_id,
         |  c.label AS c_label,
         |  round(${cosSql("q_emb", "c.embedding")}, 6) AS sim
         | FROM embeddings c CROSS JOIN q
         | WHERE query_id <> c.vec_id),
         |r AS (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, corpus_id ASC) AS rn
         | FROM sc),
         |pred AS (SELECT query_id, q_label, c_label AS pred
         |         FROM r WHERE rn = 1)
         |SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_probes,
         | CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_correct,
         | CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END)
         |  * 1000000 // count(*) AS BIGINT) AS accuracy_ppm
         |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin),
    // hard negatives: same cosine, argmax by (sim desc, id asc)
    Q("q_hard_negatives", { (s, d) =>
      hardNegatives(Tables.embeddings(s, d)) },
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
         | FROM embeddings WHERE vec_id < 10),
         |sc AS (
         | SELECT query_id, q_label, c.vec_id AS corpus_id,
         |  c.label AS c_label,
         |  round(${cosSql("q_emb", "c.embedding")}, 6) AS sim
         | FROM embeddings c CROSS JOIN q
         | WHERE q.q_label <> c.label),
         |r AS (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, corpus_id ASC) AS rn
         | FROM sc)
         |SELECT query_id, q_label, corpus_id AS neg_id,
         | c_label AS neg_label, sim
         |FROM r WHERE rn = 1 ORDER BY query_id""".stripMargin),
    // PQ-compressed ADC retrieval (the billion-scale ANN memory path).
    // PQ/ADC twin: 4 × (integer Lloyd replay) + coding + table scoring
    Q("q_pq_adc", { (s, d) => pqTopK(Tables.embeddings(s, d)) }, pqOracleSql()),
    // ColBERT-style MaxSim over multi-vector docs.
    // MaxSim twin: same quantized integer dots, max-then-sum, ranked
    Q("q_late_interaction", { (s, d) =>
      lateInteractionTopK(Tables.embeddings(s, d))
    },
      """WITH base AS (
        | SELECT vec_id // 8 AS doc, vec_id AS vid,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS e
        | FROM embeddings WHERE len(embedding) = 64),
        |q AS (SELECT doc AS qdoc, vid AS qvid, e AS qe FROM base WHERE doc < 2),
        |d AS (SELECT doc, vid, e FROM base WHERE doc >= 2),
        |dots AS (
        | SELECT q.qdoc, q.qvid, d.doc,
        |  CAST(list_sum(list_transform(range(1, 65), i -> q.qe[i] * d.e[i]))
        |    AS BIGINT) AS dot
        | FROM d, q),
        |mx AS (SELECT qdoc, qvid, doc, max(dot) AS mx FROM dots GROUP BY 1, 2, 3),
        |sc AS (SELECT qdoc, doc, CAST(sum(mx) AS BIGINT) AS score
        |       FROM mx GROUP BY 1, 2)
        |SELECT qdoc, doc, score, rank FROM (
        | SELECT qdoc, doc, score,
        |  CAST(row_number() OVER (PARTITION BY qdoc ORDER BY score DESC, doc)
        |   AS INTEGER) AS rank
        | FROM sc) WHERE rank <= 10 ORDER BY qdoc, rank""".stripMargin),
    // MMR diversity rerank over the ANN shortlist.
    // MMR twin: k greedy steps unrolled as CTEs; every score is an exact
    // BIGINT (quantized dots), so argmax + tie-breaks replay bit-for-bit
    Q("q_mmr_rerank", { (s, d) => mmrRerank(Tables.embeddings(s, d)) }, {
      val k = 5
      def stepSql(t: Int): String =
        s"""cand$t AS (
           | SELECT s.qid, s.cid, s.rel - p.pen AS score
           | FROM short s
           | JOIN (
           |  SELECT si.qid, si.a AS cid, max(si.d) AS pen
           |  FROM sims si JOIN cum${t - 1} u
           |   ON si.qid = u.qid AND si.b = u.cid
           |  GROUP BY 1, 2) p ON p.qid = s.qid AND p.cid = s.cid
           | WHERE NOT EXISTS (SELECT 1 FROM cum${t - 1} x
           |   WHERE x.qid = s.qid AND x.cid = s.cid)),
           |sel$t AS (
           | SELECT qid, $t AS rank, cid, score FROM (
           |  SELECT qid, cid, score,
           |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
           |    AS rn
           |  FROM cand$t) WHERE rn = 1),
           |cum$t AS (
           | SELECT qid, cid FROM cum${t - 1}
           | UNION ALL SELECT qid, cid FROM sel$t)""".stripMargin
      val steps = (2 to k).map(stepSql).mkString(",\n")
      val unions = (2 to k).map(t => s"UNION ALL SELECT * FROM sel$t")
        .mkString(" ")
      s"""WITH base AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS e
         | FROM embeddings WHERE len(embedding) = 64),
         |q AS (SELECT vec_id AS qid, e FROM base WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cid, e FROM base WHERE vec_id >= 5),
         |rel AS (
         | SELECT q.qid, c.cid,
         |  CAST(list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i]))
         |    AS BIGINT) AS rel
         | FROM q, c),
         |short AS (
         | SELECT qid, cid, rel FROM (
         |  SELECT qid, cid, rel,
         |   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
         |  FROM rel) WHERE rn <= 20),
         |sims AS (
         | SELECT a.qid, a.cid AS a, b.cid AS b,
         |  CAST(list_sum(list_transform(range(1, 65), i -> ea.e[i] * eb.e[i]))
         |    AS BIGINT) AS d
         | FROM short a JOIN short b ON a.qid = b.qid AND a.cid <> b.cid
         | JOIN base ea ON ea.vec_id = a.cid
         | JOIN base eb ON eb.vec_id = b.cid),
         |sel1 AS (
         | SELECT qid, 1 AS rank, cid, rel AS score FROM (
         |  SELECT qid, cid, rel,
         |   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
         |  FROM short) WHERE rn = 1),
         |cum1 AS (SELECT qid, cid FROM sel1),
         |$steps
         |SELECT qid, rank, cid, score AS mmr_score
         |FROM (SELECT * FROM sel1 $unions)
         |ORDER BY qid, rank""".stripMargin
    }),
    // JL ±1 projection 64→8: the distance-preservation audit for the
    // reduced-space ANN path.
    // JL twin: the SAME driver-computed ±1 literals, exact Long sums
    Q("q_jl_projection", { (s, d) =>
      jlDistortionAudit(Tables.embeddings(s, d))
    }, {
      val signs = jlSigns(8, 64)
      def projExpr(i: Int): String =
        "(CAST(0 AS BIGINT) " + (0 until 64).map { j =>
          s"${if (signs(i)(j) > 0) "+" else "-"} e[${j + 1}]"
        }.mkString(" ") + ")"
      val dOrig = (0 until 64).map { j =>
        val dd = s"(a.e[${j + 1}] - b.e[${j + 1}])"
        s"$dd * $dd"
      }.mkString(" + ")
      val dProj = (0 until 8).map { i =>
        val dd = s"(a.p[${i + 1}] - b.p[${i + 1}])"
        s"$dd * $dd"
      }.mkString(" + ")
      s"""WITH e AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS e
         | FROM embeddings WHERE vec_id < 20 AND len(embedding) = 64),
         |p AS (
         | SELECT vec_id, e,
         |  [${(0 until 8).map(projExpr).mkString(", ")}] AS p
         | FROM e),
         |pr AS (
         | SELECT round(CAST($dProj AS DOUBLE)
         |   / (8 * CAST($dOrig AS DOUBLE)), 6) AS ratio
         | FROM p a JOIN p b ON a.vec_id < b.vec_id
         | WHERE $dOrig > 0)
         |SELECT count(*) AS n_pairs,
         | round(CAST(sum(CAST(ratio AS DECIMAL(18,6))) AS DOUBLE)
         |   / count(*), 6) AS mean_ratio,
         | round(min(ratio), 6) AS min_ratio,
         | round(max(ratio), 6) AS max_ratio
         |FROM pr""".stripMargin
    }),
    // IVF scale path: centroid assignment + inverted-list probe.
    Q("q_sim_topk_ivf", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      ivfTopK(emb.filter(col("vec_id") < 5), emb, 5)
        .orderBy("query_id", "rank")
    },
      s"""WITH cents AS (
         | SELECT label, list(c ORDER BY i) AS centroid FROM (
         |  SELECT label, i,
         |   CAST(sum(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS c
         |  FROM embeddings CROSS JOIN unnest(range(1, len(embedding)+1)) AS t(i)
         |  GROUP BY label, i)
         | GROUP BY label),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |assigned AS (
         | SELECT query_id, q_emb, label, round(${cosSql("q_emb", "centroid")}, 6) AS csim
         | FROM q CROSS JOIN cents),
         |probe AS (
         | SELECT query_id, q_emb, label FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, label) AS rn
         |  FROM assigned) WHERE rn = 1),
         |scored AS (
         | SELECT query_id, corpus_id, round(${cosSql("q_emb", "c_emb")}, 6) AS sim
         | FROM (SELECT vec_id AS corpus_id, embedding AS c_emb, label FROM embeddings) c
         | JOIN probe USING (label)),
         |ranked AS (
         | SELECT query_id, corpus_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
         | FROM scored)
         |SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // Exact baseline: 5 query vectors vs full corpus, top-5 each.
    Q("q_sim_topk_brute", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 5,
          graft.functions.NativeExpressions.cosineSim(s, _, _))
        .orderBy("query_id", "rank")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb FROM embeddings),
         |scored AS (
         | SELECT query_id, corpus_id, round(${cosSql("q_emb", "c_emb")}, 6) AS sim
         | FROM c CROSS JOIN q),
         |ranked AS (
         | SELECT query_id, corpus_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
         | FROM scored)
         |SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // MATRYOSHKA (MRL) TRUNCATION RECALL — the modern embedding-cost
    // lever: retrieve with only the first 16 of 64 dims (4× less memory
    // and dot-product work; at 100 TB the truncated pass is the cheap
    // first stage, full-dim rescoring runs on its shortlist only) and
    // report recall@5 per query against the full-dim exact top-k. The
    // overlap count is an integer and both rankings tie-break on
    // corpus_id, so the gate is deterministic.
    Q("q_sim_topk_mrl", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dims = 16
      val cosN = graft.functions.NativeExpressions.cosineSim(s, _: Column, _: Column)
      val full = bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 5, cosN)
      val trunc = bruteForceTopK(
        emb.filter(col("vec_id") < 5)
          .withColumn("embedding", slice(col("embedding"), 1, dims)),
        emb.withColumn("embedding", slice(col("embedding"), 1, dims)), 5, cosN)
      val hits = full.select("query_id", "corpus_id")
        .intersect(trunc.select("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      full.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / 5.0, 2).as("recall"))
        .orderBy("query_id")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb FROM embeddings),
         |full_ranked AS (
         | SELECT query_id, corpus_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${cosSql("q_emb", "c_emb")}, 6) DESC, corpus_id) AS INTEGER) AS rank
         | FROM c CROSS JOIN q),
         |trunc_ranked AS (
         | SELECT query_id, corpus_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${cosSql("q_emb[1:16]", "c_emb[1:16]")}, 6) DESC, corpus_id) AS INTEGER) AS rank
         | FROM c CROSS JOIN q),
         |hits AS (
         | SELECT f.query_id, count(*) AS n_hit
         | FROM (SELECT query_id, corpus_id FROM full_ranked WHERE rank <= 5) f
         | JOIN (SELECT query_id, corpus_id FROM trunc_ranked WHERE rank <= 5) t
         |  USING (query_id, corpus_id)
         | GROUP BY 1)
         |SELECT q.query_id, coalesce(n_hit, 0) AS n_hit,
         | round(coalesce(n_hit, 0) / 5.0, 2) AS recall
         |FROM (SELECT DISTINCT query_id FROM q) q LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin),

    // The full two-stage pattern q_sim_topk_mrl motivates: a 25-wide
    // truncated-dim shortlist, then FULL-dim rescoring of shortlist pairs
    // only (25 per query, not the corpus), top-5 of the rescore. The
    // expensive full-dim scoring touches 5% of the corpus per query here
    // — at 100 TB that ratio is the whole point — while recall@5 recovers
    // most of what raw truncation loses (0.2–0.4 → see gate data).
    Q("q_sim_topk_mrl_rescore", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dims = 16
      val cosN = graft.functions.NativeExpressions.cosineSim(s, _: Column, _: Column)
      val exact = bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 5, cosN)
      val shortlist = bruteForceTopK(
        emb.filter(col("vec_id") < 5)
          .withColumn("embedding", slice(col("embedding"), 1, dims)),
        emb.withColumn("embedding", slice(col("embedding"), 1, dims)), 25, cosN)
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val cv = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("c_emb"))
      val rescored = shortlist.select("query_id", "corpus_id")
        .join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("corpus_id"))
        .select(col("query_id"), col("corpus_id"),
          round(cosN(col("q_emb"), col("c_emb")), 6).as("sim"))
      val hits = exact.select("query_id", "corpus_id")
        .intersect(topKPerQuery(rescored, "query_id", "sim", "corpus_id", 5)
          .select("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / 5.0, 2).as("recall"))
        .orderBy("query_id")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb FROM embeddings),
         |full_ranked AS (
         | SELECT query_id, corpus_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${cosSql("q_emb", "c_emb")}, 6) DESC, corpus_id) AS INTEGER) AS rank
         | FROM c CROSS JOIN q),
         |short_ranked AS (
         | SELECT query_id, corpus_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${cosSql("q_emb[1:16]", "c_emb[1:16]")}, 6) DESC, corpus_id) AS INTEGER) AS rank
         | FROM c CROSS JOIN q),
         |rescored AS (
         | SELECT s.query_id, s.corpus_id,
         |  CAST(row_number() OVER (PARTITION BY s.query_id
         |    ORDER BY round(${cosSql("q.q_emb", "c.c_emb")}, 6) DESC, s.corpus_id) AS INTEGER) AS rank
         | FROM (SELECT query_id, corpus_id FROM short_ranked WHERE rank <= 25) s
         | JOIN q USING (query_id) JOIN c USING (corpus_id)),
         |hits AS (
         | SELECT f.query_id, count(*) AS n_hit
         | FROM (SELECT query_id, corpus_id FROM full_ranked WHERE rank <= 5) f
         | JOIN (SELECT query_id, corpus_id FROM rescored WHERE rank <= 5) t
         |  USING (query_id, corpus_id)
         | GROUP BY 1)
         |SELECT q.query_id, coalesce(n_hit, 0) AS n_hit,
         | round(coalesce(n_hit, 0) / 5.0, 2) AS recall
         |FROM (SELECT DISTINCT query_id FROM q) q LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin),

    // Scale path: same queries, bucket-pruned search.
    Q("q_sim_topk_lsh", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      lshTopK(emb.filter(col("vec_id") < 5), emb, 5,
          cosineFn = graft.functions.NativeExpressions.cosineSim(s, _, _))
        .orderBy("query_id", "rank")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings),
         |scored AS (
         | SELECT query_id, corpus_id, round(${cosSql("q_emb", "c_emb")}, 6) AS sim
         | FROM c JOIN q USING (bucket)),
         |ranked AS (
         | SELECT query_id, corpus_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
         | FROM scored)
         |SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // Embedding-cosine near-dup: pairs above threshold within buckets,
    // over the PLANTED corpus (last-coordinate flips of the first 20
    // vectors) so the oracle compares real pairs at every SF. Bucket
    // width derives from corpus size (adaptiveSignBits) — one cheap
    // count job; at the gated scales (≤ 2020 rows) it resolves to the
    // 8-bit floor the static oracle encodes.
    Q("q_sim_near_dup", { (s, d) =>
      val emb = plantedEmbeddings(Tables.embeddings(s, d))
      val head = emb.agg(count(lit(1)), max(size(col("embedding")))).head()
      val bits = adaptiveSignBits(head.getLong(0), head.getInt(1))
      embeddingNearDups(emb, 0.95, bits,
          cosineFn = graft.functions.NativeExpressions.cosineSim(s, _, _))
        .orderBy("id_a", "id_b")
    },
      s"""WITH corpus AS (
         | SELECT vec_id, embedding FROM embeddings
         | UNION ALL
         | SELECT vec_id + 10000000 AS vec_id,
         |  list_append(embedding[1:len(embedding)-1],
         |              -embedding[len(embedding)]) AS embedding
         | FROM embeddings WHERE vec_id < 20),
         |b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM corpus)
         |SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
         | round(${cosSql("a.embedding", "bb.embedding")}, 6) AS sim
         |FROM b a JOIN b bb USING (bucket)
         |WHERE a.vec_id < bb.vec_id
         |  AND round(${cosSql("a.embedding", "bb.embedding")}, 6) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin),
    // Dominant principal direction of the embedding corpus (fixed-point
    // Gram + deterministic power iteration).
    Q("q_pca_top", { (s, d) =>
      pcaTopComponent(Tables.embeddings(s, d))
    }, {
      val iters = 10
      val itCtes = (1 to iters).map { k =>
        val prev = s"v${k - 1}"
        s"""w$k AS (
           | SELECT i, list_sum(list_transform(list_zip(row, v), p -> p[1] * p[2])) AS w
           | FROM grows CROSS JOIN $prev),
           |wl$k AS (SELECT list(w ORDER BY i) AS wv FROM w$k),
           |v$k AS (SELECT list_transform(wv,
           |  x -> x / list_max(list_transform(wv, y -> abs(y)))) AS v FROM wl$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
         | SELECT list_transform(embedding,
         |  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
         | FROM embeddings),
         |gl AS (
         | SELECT t.i AS i, t2.j AS j, sum(q[t.i + 1] * q[t2.j + 1]) AS g
         | FROM q CROSS JOIN unnest(range(0, 64)) AS t(i)
         |        CROSS JOIN unnest(range(t.i, 64)) AS t2(j)
         | GROUP BY 1, 2),
         |gfull AS (
         | SELECT i, j, g FROM gl
         | UNION ALL
         | SELECT j, i, g FROM gl WHERE i < j),
         |grows AS (SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS row
         |          FROM gfull GROUP BY i),
         |v0 AS (SELECT list_transform(range(0, 64), x -> 1.0) AS v),
         |$itCtes
         |SELECT CAST(t.i AS INTEGER) AS dim, round(v[t.i + 1], 6) AS loading
         |FROM v$iters CROSS JOIN unnest(range(0, 64)) AS t(i)
         |ORDER BY dim""".stripMargin
    }),
    // Top-2 PCA subspace by orthogonal iteration (Gram–Schmidt QR per
    // step) on the q_pca_top fixed-point Gram; unit-L2 loadings +
    // uncentered variance shares.
    // same fixed-point Gram, same left-to-right list_sum folds replaying
    // the driver's ascending-index loops, same q1->q2 Gram-Schmidt order
    Q("q_pca_subspace", { (s, d) =>
      pcaSubspace(Tables.embeddings(s, d))
    }, {
      val iters = 10
      s"""WITH ${pcaSubspaceCtesSql(iters)},
         |fw AS (
         | SELECT i,
         |  list_sum(list_transform(list_zip(row, v1), p -> p[1] * p[2])) AS f1,
         |  list_sum(list_transform(list_zip(row, v2), p -> p[1] * p[2])) AS f2
         | FROM grows CROSS JOIN v$iters),
         |fl AS (SELECT list(f1 ORDER BY i) AS f1,
         |  list(f2 ORDER BY i) AS f2 FROM fw),
         |sh AS (
         | SELECT
         |  list_sum(list_transform(list_zip(v1, f1), p -> p[1] * p[2])) / tr AS s1,
         |  list_sum(list_transform(list_zip(v2, f2), p -> p[1] * p[2])) / tr AS s2
         | FROM v$iters, fl, trc)
         |SELECT pc, dim, loading, var_share FROM (
         | SELECT CAST(1 AS INTEGER) AS pc, CAST(t.i AS INTEGER) AS dim,
         |  round(v1[t.i + 1], 6) AS loading, round(s1, 6) AS var_share
         | FROM v$iters CROSS JOIN sh CROSS JOIN unnest(range(0, 64)) AS t(i)
         | UNION ALL
         | SELECT CAST(2 AS INTEGER) AS pc, CAST(t.i AS INTEGER) AS dim,
         |  round(v2[t.i + 1], 6) AS loading, round(s2, 6) AS var_share
         | FROM v$iters CROSS JOIN sh CROSS JOIN unnest(range(0, 64)) AS t(i))
         |ORDER BY pc, dim""".stripMargin
    }),
    // Linear-kernel MMD² drift between every embedding label-group pair
    // (exact integer numerator, one shared division tree).
    // same fixed-point coordinate sums, same exact integer numerator
    // (HUGEINT stands in for Spark's DECIMAL(38,0) — identical values),
    // same shared division tree rounded 6dp
    Q("q_embed_mmd", { (s, d) => embedMmd(Tables.embeddings(s, d)) },
      """WITH q AS (
        | SELECT label, CAST(i - 1 AS INTEGER) AS dim,
        |  CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576)
        |   AS BIGINT)) AS BIGINT) AS s
        | FROM embeddings
        |  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS t(i)
        | GROUP BY 1, 2),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |      FROM embeddings GROUP BY 1),
        |m AS (SELECT q.label, dim, s, n FROM q JOIN n USING (label)),
        |pr AS (
        | SELECT a.label AS label_a, b.label AS label_b,
        |  a.n AS na, b.n AS nb,
        |  sum((CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)
        |    * (CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n))
        |   AS num
        | FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
        | GROUP BY 1, 2, 3, 4)
        |SELECT label_a, label_b, na AS n_a, nb AS n_b,
        | round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) *
        |  CAST(nb AS DOUBLE) * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |  / 1099511627776.0, 6) AS mmd2
        |FROM pr ORDER BY label_a, label_b""".stripMargin),
    // 2-D projection onto the pcaSubspace components (audit slice;
    // exact integer dot products against frozen loadings).
    // same subspace replay, same ⌊v·10⁶ + 0.5⌋ loading freeze (identical
    // floor spelling), same exact integer projection dot products
    Q("q_pca_project", { (s, d) => pcaProject(Tables.embeddings(s, d)) }, {
      val iters = 10
      s"""WITH ${pcaSubspaceCtesSql(iters)},
         |lq AS (SELECT
         |  list_transform(v1, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS l1,
         |  list_transform(v2, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS l2
         | FROM v$iters),
         |pv AS (
         | SELECT vec_id, list_transform(embedding,
         |  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
         | FROM embeddings WHERE vec_id < 20)
         |SELECT vec_id,
         | round(CAST(list_sum(list_transform(list_zip(qv, l1),
         |   p -> p[1] * p[2])) AS DOUBLE) / 1048576.0 / 1000000.0, 6)
         |  AS proj1,
         | round(CAST(list_sum(list_transform(list_zip(qv, l2),
         |   p -> p[1] * p[2])) AS DOUBLE) / 1048576.0 / 1000000.0, 6)
         |  AS proj2
         |FROM pv CROSS JOIN lq ORDER BY vec_id""".stripMargin
    }),
    // Full Lloyd k-means (3 rounds, k=4) in exact integer state — the
    // multi-iteration extension of the single Lloyd step q_semantic_dedup
    // runs; oracle replays every round.
    Q("q_kmeans", { (s, d) => kmeans(Tables.embeddings(s, d)) }, {
      val iters = (1 to 3).map(kmeansIterSql(_, 64)).mkString(",\n")
      s"""WITH emb AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
         | FROM embeddings),
         |c0 AS (
         | SELECT CAST(vec_id AS INT) AS cid, q AS c FROM emb WHERE vec_id < 4),
         |$iters,
         |sz AS (SELECT cid, count(*) AS n FROM a3 GROUP BY 1)
         |SELECT c3.cid AS cluster_id, CAST(t.i AS INT) AS di, c3.c[t.i] AS c,
         | COALESCE(sz.n, 0) AS n
         |FROM c3 CROSS JOIN range(1, 65) t(i)
         |LEFT JOIN sz ON c3.cid = sz.cid
         |ORDER BY cluster_id, di""".stripMargin
    }),
    // IVF INDEX APPEND — the maintenance path every deployed ANN index
    // lives on: new vectors (vec_id ≥ 400, the incoming batch) are
    // assigned to the FROZEN centroids trained on the base slice —
    // no recluster, no index rebuild, exactly how FAISS/ScaNN serve
    // appends between retrains. The per-list growth report
    // (n_new / n_base ppm) is the retrain trigger: a list growing far
    // faster than its peers means the incoming distribution drifted
    // off the trained quantizer (pairs with q_psi_drift on content).
    // Centroids are driver state (k·dim Longs — dimension-class, the
    // q_kmeans precedent); assignment is one codegen'd map pass over
    // the corpus; the rollup is k rows. Integer-exact end to end.
    Q("q_ivf_append", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val rep = kmeans(emb.filter(col("vec_id") < 400), k = 4, iters = 3)
        .collect()
      val cents: Seq[(Int, Array[Long])] = rep.groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray)
        }.toSeq.sortBy(_._1)
      emb.select(col("vec_id"), quantArr(col("embedding")).as("q"))
        .select(col("vec_id"), nearestCentroid(col("q"), cents).as("cid"))
        .groupBy("cid")
        .agg(sum(when(col("vec_id") < 400, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("vec_id") >= 400, 1L).otherwise(0L)).as("n_new"))
        .withColumn("growth_ppm",
          expr("n_new * 1000000 div greatest(n_base, 1L)"))
        .orderBy("cid")
    }, {
      val iters = (1 to 3).map(kmeansIterSql(_, 64)).mkString(",\n")
      s"""WITH emb AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
         | FROM embeddings WHERE vec_id < 400),
         |c0 AS (
         | SELECT CAST(vec_id AS INT) AS cid, q AS c FROM emb WHERE vec_id < 4),
         |$iters,
         |emball AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
         | FROM embeddings),
         |da AS (
         | SELECT e.vec_id, c.cid,
         |  list_sum(list_transform(range(1, 65),
         |    i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d2
         | FROM emball e, c3 c),
         |aa AS (
         | SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |  FROM da) WHERE rn = 1)
         |SELECT cid,
         | CAST(sum(CASE WHEN vec_id < 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         | CAST(sum(CASE WHEN vec_id >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         | CAST(sum(CASE WHEN vec_id >= 400 THEN 1 ELSE 0 END) AS BIGINT)
         |  * 1000000 // greatest(
         |   CAST(sum(CASE WHEN vec_id < 400 THEN 1 ELSE 0 END) AS BIGINT), 1)
         |  AS growth_ppm
         |FROM aa GROUP BY cid ORDER BY cid""".stripMargin
    }),
    // ANN QUALITY EVAL — recall@k of the sign-LSH index against the
    // exact brute-force ranking (the q_dedup_eval measurement applied to
    // retrieval: every index rollout reports this number before the
    // exact path is retired). Both sides are the gated operators
    // themselves; the eval is two k-row-per-query frames joined on
    // (query_id, corpus_id) — nothing beyond the retrievals' own cost.
    Q("q_ann_recall", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cosF = graft.functions.NativeExpressions.cosineSim(s, _: Column, _: Column)
      val q = emb.filter(col("vec_id") < 5)
      val brute = bruteForceTopK(q, emb, 5, cosF)
        .select(col("query_id"), col("corpus_id"))
      val lsh = lshTopK(q, emb, 5, cosineFn = cosF)
        .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
      brute.join(lsh, Seq("query_id", "corpus_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("hits"),
          round(count(col("hit")).cast("double") / 5, 6).as("recall_at_5"))
        .orderBy("query_id")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings),
         |brute AS (
         | SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY round(${cosSql("q_emb", "c_emb")}, 6) DESC, corpus_id) AS rank
         |  FROM c CROSS JOIN q) WHERE rank <= 5),
         |lsh AS (
         | SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY round(${cosSql("q_emb", "c_emb")}, 6) DESC, corpus_id) AS rank
         |  FROM c JOIN q USING (bucket)) WHERE rank <= 5)
         |SELECT b.query_id, count(l.corpus_id) AS hits,
         | round(CAST(count(l.corpus_id) AS DOUBLE) / 5, 6) AS recall_at_5
         |FROM brute b LEFT JOIN lsh l
         | ON b.query_id = l.query_id AND b.corpus_id = l.corpus_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin),
    // RANK-BIASED OVERLAP between the IVF ranking and the exact brute
    // ranking (Webber, Moffat & Zobel 2010) — recall@k (q_ann_recall)
    // says WHETHER the right ids surface; RBO says whether they surface
    // in the right ORDER, weighting agreement at rank 1 most (p = 0.9
    // geometric decay). Reported as the truncated-depth lower bound
    // (RBO_min at d = 5). Determinism: the p^(k−1) weights are Scala
    // doubles computed once at plan build and embedded as IDENTICAL
    // literals in both engines (never an in-engine pow); each depth
    // term rounds to 9dp DECIMAL before the per-query fold. Scale: both
    // rankings are k-bounded per query, the agreement join is on
    // (query, corpus) ids, and the depth explode is k× a k-bounded
    // frame.
    Q("q_rbo", { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cosF = graft.functions.NativeExpressions
        .cosineSim(s, _: Column, _: Column)
      val q = emb.filter(col("vec_id") < 5)
      val a = bruteForceTopK(q, emb, 5, cosF)
        .select(col("query_id"), col("corpus_id"), col("rank").as("ra"))
      val b = ivfTopK(q, emb, 5)
        .select(col("query_id"), col("corpus_id"), col("rank").as("rb"))
      val pairs = a.join(b, Seq("query_id", "corpus_id"))
        .select(col("query_id"), greatest(col("ra"), col("rb")).as("m"))
      val depths = 1 to 5
      val p = 0.9
      val wCol = depths.tail
        .foldLeft(when(col("k") === 1, lit(1.0))) { (acc, k) =>
          acc.when(col("k") === k, lit(math.pow(p, k - 1)))
        }
      val ov = pairs
        .select(col("query_id"),
          explode(array(depths.map(lit): _*)).as("k"), col("m"))
        .groupBy("query_id", "k")
        .agg(sum(when(col("m") <= col("k"), 1L).otherwise(0L)).as("ov"))
      val terms = ov
        .select(col("query_id"), col("k"), col("ov"),
          round(wCol * (col("ov").cast("double") / col("k").cast("double")),
            9).cast(DecimalType(18, 9)).as("term"))
        .groupBy("query_id")
        .agg(max(when(col("k") === 5, col("ov"))).as("ov5"),
          sum(col("term")).as("ts"))
      q.select(col("vec_id").as("query_id")).join(terms, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("ov5"), lit(0L)).as("overlap_at_5"),
          coalesce(round(lit(1.0 - p) * col("ts").cast("double"), 6),
            lit(0.0)).as("rbo_min"))
        .orderBy("query_id")
    }, {
      val p = 0.9
      val wCase = (1 to 5)
        .map(k => s"WHEN $k THEN ${math.pow(p, k - 1)}")
        .mkString("CASE k ", " ", " END")
      s"""WITH cents AS (
         | SELECT label, list(c ORDER BY i) AS centroid FROM (
         |  SELECT label, i,
         |   CAST(sum(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS c
         |  FROM embeddings CROSS JOIN unnest(range(1, len(embedding)+1)) AS t(i)
         |  GROUP BY label, i)
         | GROUP BY label),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb, label FROM embeddings),
         |bscored AS (
         | SELECT query_id, corpus_id, round(${cosSql("q_emb", "c_emb")}, 6) AS sim
         | FROM c CROSS JOIN q),
         |bt AS (SELECT query_id, corpus_id, ra FROM (
         |  SELECT query_id, corpus_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS ra
         |  FROM bscored) WHERE ra <= 5),
         |assigned AS (
         | SELECT query_id, q_emb, label, round(${cosSql("q_emb", "centroid")}, 6) AS csim
         | FROM q CROSS JOIN cents),
         |probe AS (
         | SELECT query_id, q_emb, label FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, label) AS rn
         |  FROM assigned) WHERE rn = 1),
         |iscored AS (
         | SELECT query_id, corpus_id, round(${cosSql("q_emb", "c_emb")}, 6) AS sim
         | FROM c JOIN probe USING (label)),
         |it AS (SELECT query_id, corpus_id, rb FROM (
         |  SELECT query_id, corpus_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rb
         |  FROM iscored) WHERE rb <= 5),
         |pairs AS (
         | SELECT query_id, greatest(ra, rb) AS m
         | FROM bt JOIN it USING (query_id, corpus_id)),
         |ks AS (SELECT CAST(unnest(range(1, 6)) AS INTEGER) AS k),
         |ov AS (
         | SELECT query_id, k,
         |  CAST(sum(CASE WHEN m <= k THEN 1 ELSE 0 END) AS BIGINT) AS ov
         | FROM pairs CROSS JOIN ks GROUP BY 1, 2),
         |terms AS (
         | SELECT query_id, max(CASE WHEN k = 5 THEN ov END) AS ov5,
         |  sum(CAST(round(($wCase) * (CAST(ov AS DOUBLE) / CAST(k AS DOUBLE)), 9)
         |   AS DECIMAL(18,9))) AS ts
         | FROM ov GROUP BY 1)
         |SELECT s.query_id, coalesce(ov5, 0) AS overlap_at_5,
         | coalesce(round(${1.0 - p} * CAST(ts AS DOUBLE), 6), 0.0) AS rbo_min
         |FROM (SELECT DISTINCT query_id FROM q) s LEFT JOIN terms USING (query_id)
         |ORDER BY s.query_id""".stripMargin
    }),

    // NDCG@10 + MRR of the sign-LSH index against the exact brute
    // ranking — the GRADED companion of q_ann_recall (set overlap) and
    // q_rbo (order agreement): relevance = 11 − ideal rank (integer
    // gains off the brute top-10), so a candidate list that surfaces
    // the right ids but buries the best ones scores low. Determinism:
    // the 1/log2(p+1) discounts, the 1/p reciprocals, and the constant
    // flat-gain IDCG@10 are Scala doubles computed once at plan build
    // and embedded as IDENTICAL literals in both engines (the q_rbo
    // weight idiom); each DCG term rounds to 9dp DECIMAL before the
    // per-query fold. Scale: both rankings are k-bounded per query and
    // the relevance join is on (query, corpus) ids.
    Q("q_ndcg", { (s, d) => ndcgEval(s, Tables.embeddings(s, d)) }, {
      def caseSql(m: Map[Int, Double]) = "(CASE cd.pos " +
        (1 to 10).map(p => s"WHEN $p THEN ${m(p)}").mkString(" ") +
        " ELSE 0.0 END)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS c_emb,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings),
         |ideal AS (
         | SELECT query_id, corpus_id, 11 - rank AS gain FROM (
         |  SELECT query_id, corpus_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY round(${cosSql("q_emb", "c_emb")}, 6) DESC, corpus_id) AS rank
         |  FROM c CROSS JOIN q) WHERE rank <= 10),
         |cand AS (
         | SELECT query_id, corpus_id, rank AS pos FROM (
         |  SELECT query_id, corpus_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY round(${cosSql("q_emb", "c_emb")}, 6) DESC, corpus_id) AS rank
         |  FROM c JOIN q USING (bucket)) WHERE rank <= 10),
         |terms AS (
         | SELECT cd.query_id,
         |  CAST(round(CAST(COALESCE(i.gain, 0) AS DOUBLE)
         |    * ${caseSql(ndcgDisc)}, 9) AS DECIMAL(18,9)) AS term,
         |  CASE WHEN i.gain = 10 THEN ${caseSql(ndcgRr)}
         |   ELSE 0.0 END AS rr,
         |  CASE WHEN i.gain IS NOT NULL THEN 1 ELSE 0 END AS hit
         | FROM cand cd LEFT JOIN ideal i USING (query_id, corpus_id))
         |SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hits,
         | round(CAST(sum(term) AS DOUBLE), 6) AS dcg,
         | round(CAST(sum(term) AS DOUBLE) / $ndcgIdcg, 6) AS ndcg_at_10,
         | round(max(rr), 6) AS mrr
         |FROM terms GROUP BY 1 ORDER BY query_id""".stripMargin
    }),

    // Centroid-silhouette quality report on the label clustering.
    Q("q_silhouette", { (s, d) => silhouette(Tables.embeddings(s, d)) },
      s"""WITH cents AS (
         | SELECT label AS clabel, list(c ORDER BY i) AS centroid FROM (
         |  SELECT label, i,
         |   CAST(sum(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS c
         |  FROM embeddings CROSS JOIN unnest(range(1, len(embedding)+1)) AS t(i)
         |  GROUP BY label, i)
         | GROUP BY label),
         |scored AS (
         | SELECT e.vec_id, e.label, c.clabel,
         |  round(${cosSql("e.embedding", "c.centroid")}, 6) AS csim
         | FROM embeddings e CROSS JOIN cents c),
         |pv AS (
         | SELECT vec_id, label,
         |  max(CASE WHEN clabel = label THEN csim END) AS a_sim,
         |  max(CASE WHEN clabel <> label THEN csim END) AS b_sim
         | FROM scored GROUP BY 1, 2)
         |SELECT label, count(*) AS n,
         | round(CAST(sum(CAST(round(a_sim - b_sim, 6) AS DECIMAL(12,6)))
         |   AS DOUBLE) / count(*), 6) AS avg_margin
         |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin),
    // EMBEDDING NORM AUDIT — the broken-vector detector every embedding
    // ingest runs (all-zero rows from failed encoders, exploding norms
    // from unnormalized checkpoints skew cosine math downstream).
    // Per-row norms are a map-side HOF fold (same parity basis as the
    // cosine everywhere else); per-label stats fold 6dp norms as
    // DECIMAL so the mean is aggregation-order-independent.
    Q("q_embed_norms", { (s, d) =>
      val norm6 = round(
        sqrt(aggregate(col("embedding"),
          lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))), 6)
      Tables.embeddings(s, d)
        .select(col("label"), norm6.as("norm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"),
          round(sum(col("norm").cast(DecimalType(12, 6))).cast("double") /
            count(lit(1)), 6).as("avg_norm"),
          sum(when(col("norm") < 0.01, 1L).otherwise(0L)).as("n_tiny"))
        .orderBy("label")
    },
      """WITH r AS (
        | SELECT label,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 6) AS norm
        | FROM embeddings)
        |SELECT label, count(*) AS n,
        | min(norm) AS min_norm, max(norm) AS max_norm,
        | round(CAST(sum(CAST(norm AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6)
        |  AS avg_norm,
        | CAST(sum(CASE WHEN norm < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_tiny
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    // SemDeDup: cluster-then-prune semantic dedup over the planted corpus
    // (assignment from the labeled corpus' centroids; planted flips land
    // in their original's cluster and prune against it at τ=0.95).
    Q("q_semantic_dedup", { (s, d) =>
      val labeled = Tables.embeddings(s, d)
      semanticDedup(plantedEmbeddings(labeled), labeled, 0.95,
        graft.functions.NativeExpressions.cosineSim(s, _, _))
    },
      s"""WITH cents AS (
         | SELECT label, list(c ORDER BY i) AS centroid FROM (
         |  SELECT label, i,
         |   CAST(sum(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS c
         |  FROM embeddings CROSS JOIN unnest(range(1, len(embedding)+1)) AS t(i)
         |  GROUP BY label, i)
         | GROUP BY label),
         |corpus AS (
         | SELECT vec_id, embedding FROM embeddings
         | UNION ALL
         | SELECT vec_id + 10000000 AS vec_id,
         |  list_append(embedding[1:len(embedding)-1],
         |              -embedding[len(embedding)]) AS embedding
         | FROM embeddings WHERE vec_id < 20),
         |assigned AS (
         | SELECT vec_id, embedding, label AS cluster FROM (
         |  SELECT corpus.vec_id, corpus.embedding, cents.label,
         |   row_number() OVER (PARTITION BY corpus.vec_id
         |     ORDER BY round(${cosSql("corpus.embedding", "cents.centroid")}, 6) DESC,
         |              cents.label) AS rn
         |  FROM corpus CROSS JOIN cents) WHERE rn = 1),
         |dups AS (
         | SELECT b.vec_id, CAST(min(a.vec_id) AS BIGINT) AS dup_of
         | FROM assigned a JOIN assigned b
         |   ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         | WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.95
         | GROUP BY b.vec_id)
         |SELECT assigned.vec_id, CAST(cluster AS INTEGER) AS cluster,
         | (dup_of IS NULL) AS kept, dup_of
         |FROM assigned LEFT JOIN dups USING (vec_id)
         |ORDER BY vec_id""".stripMargin),
    // IVF centroid-build primitive: per-label, per-dimension accumulation
    // in FIXED-POINT (floor(x·2^20) — a power-of-two scale is exact in
    // binary floating point, so the floor is tie-free and the Long sums
    // are order-independent: the cross-engine-deterministic way to reduce
    // float vectors; a raw double Σ would drift with partial-agg order).
    // posexplode is map-side; one shuffle on (label, dim) — k·d groups.
    // DuckDB lists are 1-based; Spark posexplode is 0-based — i-1 aligns
    Q("q_embed_centroids", { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .filter(col("dim") < 8)
        .select(col("label"), col("dim").cast("long").as("dim"),
          quant(col("x")).as("q"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("label", "dim")
    },
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
        | CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM embeddings CROSS JOIN unnest(range(1, len(embedding)+1)) AS t(i)
        |WHERE i <= 8
        |GROUP BY label, i ORDER BY label, dim""".stripMargin),
    // Inter-cluster similarity matrix: cosine between every pair of
    // per-label centroids — the "are these two clusters really distinct"
    // report after any clustering/labeling pass. The corpus collapses
    // map-side to label×dim exact-decimal sums (the q_sim_topk_ivf
    // centroid recipe); everything after is label²-sized, with the
    // ordered centroid arrays making the cosine fold order identical on
    // both engines.
    Q("q_centroid_sim", { (s, d) =>
      val cent = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") /
          count(lit(1))).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          e => e.getField("c")).as("centroid"))
      cent.select(col("label").as("label_a"), col("centroid").as("ea"))
        .crossJoin(broadcast(
          cent.select(col("label").as("label_b"), col("centroid").as("eb"))))
        .filter(col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(cosine(col("ea"), col("eb")), 6).as("csim"))
        .orderBy("label_a", "label_b")
    },
      s"""WITH cents AS (
         | SELECT label, list(c ORDER BY i) AS centroid FROM (
         |  SELECT label, i,
         |   CAST(sum(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS c
         |  FROM embeddings CROSS JOIN unnest(range(1, len(embedding)+1)) AS t(i)
         |  GROUP BY label, i)
         | GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         | round(${cosSql("a.centroid", "b.centroid")}, 6) AS csim
         |FROM cents a JOIN cents b ON a.label < b.label
         |ORDER BY 1, 2""".stripMargin)
  )
}
