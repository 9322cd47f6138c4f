package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Dedup + similarity semantics: known-value checks and planted-pair
  * recall (the near-dup pipelines have no SQL oracle — this is their
  * correctness gate).
  */
class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  test("jaccard known values") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(math.abs(df.collect()(0).getDouble(0) - 0.5) < 1e-12)
  }

  test("shingles of short and normal docs") {
    val out = Seq("one two three four", "hi").toDF("text")
      .select(graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      .select(Dedup.shingles(col("toks")).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(out(0) == Set("one two three", "two three four"))
    assert(out(1) == Set("hi"))
  }

  test("minhash LSH recovers planted near-dups with zero cross join") {
    val corpus = Dedup.plantedCorpus(Tables.documents(spark, sfDir), nPlanted = 10)
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text")
    // physical plan must not contain a cartesian/broadcast nested loop join
    val physical = pairs.queryExecution.executedPlan.toString
    assert(!physical.contains("Cartesian"), "all-pairs join in near-dup plan")
    val planted = pairs.filter(col("id_b") - col("id_a") === 10000000L).count()
    assert(planted == 10L)
  }

  test("embedding near-dup OR-banding recovers sign-flip pairs a single table misses") {
    // 20 planted near-dup pairs (cosine ≈ 0.99999): 10 flip the sign of
    // one NEAR-ZERO coordinate inside table 0's slice (coords 0..15) —
    // their table-0 buckets MUST differ, so a single 16-bit table cannot
    // find them; their table-1 slice (coords 16..31) is untouched, so
    // OR-banding over 2 tables must recover all 20.
    val rng = new scala.util.Random(11)
    val dim = 64
    def base(): Array[Float] =
      Array.fill(dim)(if (rng.nextBoolean()) 1f else -1f)
    val rows = (0 until 20).flatMap { i =>
      val a = base()
      a(40) = 1f // keep a stable coord so vectors aren't degenerate
      val b = a.clone()
      if (i < 10) { a(i) = 0.01f; b(i) = -0.01f } // flip inside slice 0
      Seq((i.toLong, a.toSeq), (i + 1000L, b.toSeq))
    } ++ (0 until 100).map(i => (i + 5000L, base().toSeq)) // background
    import spark.implicits._
    val emb = rows.toDF("vec_id", "embedding")
    def planted(nTables: Int): Long =
      Similarity.embeddingNearDups(emb, 0.95, nBits = 16, nTables = nTables)
        .filter(col("id_b") - col("id_a") === 1000L).count()
    assert(planted(1) == 10L, "single table should miss exactly the slice-0 flips")
    assert(planted(2) == 20L, "2-table OR-banding must recover every planted pair")
    // and the candidate path must stay bucketed — no all-pairs join
    val physical = Similarity.embeddingNearDups(emb, 0.95, 16, 2)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("Cartesian"), "all-pairs join in near-dup plan")
  }

  test("dedup clusters: chains and stars collapse to min-id components") {
    // component shapes that need real transitivity: a 4-chain (diameter 3,
    // multiple propagation rounds), a star, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),      // chain 1-2-3-4
      (10L, 11L), (10L, 12L), (10L, 13L), // star centered at 10
      (20L, 21L))                         // pair
      .toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 4L, 4L), (10L, 4L, 13L), (20L, 2L, 21L)))
  }

  test("pointer-jumping CC matches min-propagation on a deep chain") {
    // a 16-chain (diameter 15) — the jump variant must converge to the
    // identical min-id labels in O(log d) rounds, including the self-loop
    // singleton the grid-cluster caller feeds it
    val pairs = ((1L to 15L).map(i => (i, i + 1)) :+ ((30L, 30L)))
      .toDF("id_a", "id_b")
    val got = Dedup.componentLabelsJump(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (1L to 16L).map(i => (i, 1L)).toSet + ((30L, 30L))
    assert(got == want)
    // INT ids take the distributed pointer-jumping loop (the driver
    // union-find only serves LONG ids): same min-id labels
    val intPairs = pairs.select(col("id_a").cast("int").as("id_a"),
      col("id_b").cast("int").as("id_b"))
    val gotInt = Dedup.componentLabelsJump(intPairs).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSet
    assert(gotInt == want)
  }

  test("survivor policy keeps the longest doc, ties to the lower id") {
    val docs = Seq((1L, "short"), (2L, "a much longer text"),
      (3L, "same"), (4L, "samX")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.dedupSurvivors(docs, "doc_id", "text", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cluster 1: doc 2 is longer; cluster 3: equal lengths -> lower id 3
    assert(got == Set((1L, 2L, 1L), (3L, 3L, 1L)))
  }

  test("64-bit pigeonhole banding recovers every planted pair within hamming 6") {
    // literal 64-bit fingerprints: each base paired with a mutation of
    // 1..6 random bit flips — the pigeonhole guarantee says the d+1=7
    // chunk tables must recover ALL of them (deterministic, not
    // probabilistic: a pair differing in ≤6 chunks agrees exactly on ≥1)
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(20)(rng.nextLong()).zipWithIndex.flatMap { case (v, i) =>
      val flips = rng.shuffle((0 until 64).toList).take(1 + rng.nextInt(6))
      Seq((i.toLong, v), (i + 1000L, flips.foldLeft(v)((a, b) => a ^ (1L << b))))
    }
    val found = Dedup.simhashCandidates(rows.toDF("id", "sim"),
        bits = 64, maxHamming = 6)
      .filter(col("id_b") - col("id_a") === 1000L).count()
    assert(found == 20L)
  }

  test("identical docs have identical simhash; mutation stays close") {
    val df = Seq("spark line data table", "spark line data table",
      "spark line data boat").toDF("text")
      .select(Dedup.simhash(col("text")).as("s"))
    val sims = df.collect().map(_.getLong(0))
    assert(sims(0) == sims(1))
    val dfH = Seq((sims(0), sims(2))).toDF("a", "b")
      .select(Dedup.hamming(col("a"), col("b")).as("h"))
    assert(dfH.collect()(0).getInt(0) <= 16) // one token of four changed
  }

  test("native cosine_sim is bit-identical to the HOF cosine") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val pairs = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      .crossJoin(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")).limit(5))
    val cmp = pairs.select(
      Similarity.cosine(col("e_a"), col("e_b")).as("hof"),
      graft.functions.NativeExpressions.cosineSim(spark, col("e_a"), col("e_b")).as("native"))
    val diff = cmp.filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
  }

  test("native shingle_hashes is bit-identical to the HOF shingle+hash path") {
    val toks = Tables.documents(spark, sfDir).limit(100)
      .select(col("doc_id"), graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
    val cmp = toks.select(
      transform(Dedup.shingles(col("toks")), s => xxhash64(s)).as("hof"),
      graft.functions.NativeExpressions.shingleHashes(spark, col("toks")).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("native char_gram_hashes is bit-identical to the HOF substr+hash path") {
    val normed = Tables.documents(spark, sfDir).limit(100)
      .select(lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val cmp = normed.select(
      array_distinct(transform(
        sequence(lit(1), greatest(length(col("norm")) - 3, lit(1))),
        i => xxhash64(col("norm").substr(i, lit(4))))).as("hof"),
      graft.functions.NativeExpressions.charGramHashes(spark, col("norm")).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("native simhash is bit-identical to the HOF simhash") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val toks = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
    val cmp = toks.select(
      Dedup.simhashFromHashes(
        org.apache.spark.sql.functions.transform(col("toks"), t => xxhash64(t))).as("hof"),
      graft.functions.NativeExpressions.simhashNative(spark, col("toks")).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("native minhash_sigs is bit-identical to the per-seed HOF mix path") {
    val k = 12
    val base = Tables.documents(spark, sfDir).limit(100)
      .select(col("doc_id").as("id"),
        lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
      .select(col("id"),
        graft.functions.NativeExpressions.charGramHashes(spark, col("norm")).as("hs"))
    val cmp = base.select(
      (graft.functions.NativeExpressions.minHashSigs(spark, col("hs"), k).as("native")
        +: Dedup.minhashSignatures(col("hs"), k)): _*)
    val bad = cmp.filter(
      (0 until k).map(i => element_at(col("native"), i + 1) =!= col(s"mh_$i"))
        .reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("native simhash_from_hashes is bit-identical to the HOF vote (incl. negative hashes)") {
    val ths = Tables.documents(spark, sfDir).limit(100)
      .select(graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      .select(transform(col("toks"), t => xxhash64(t)).as("ths")) // negatives included
    val cmp = ths.select(
      Dedup.simhashFromHashes(col("ths")).as("hof"),
      graft.functions.NativeExpressions.simhashFromHashes(spark, col("ths")).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("native md5-family hashes are bit-identical to the Md5Hash expression formulations") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val toks = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
    val cmp1 = toks.select(
      transform(Dedup.shingles(col("toks")), s => Dedup.Md5Hash(s)).as("hof"),
      graft.functions.NativeExpressions.shingleHashesMd5(spark, col("toks")).as("native"))
    assert(cmp1.filter(col("hof") =!= col("native")).count() == 0)
    val normed = docs.select(lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val cmp2 = normed.select(
      array_distinct(transform(
        sequence(lit(1), greatest(length(col("norm")) - 3, lit(1))),
        i => Dedup.Md5Hash(col("norm").substr(i, lit(4))))).as("hof"),
      graft.functions.NativeExpressions.charGramHashesMd5(spark, col("norm")).as("native"))
    assert(cmp2.filter(col("hof") =!= col("native")).count() == 0)
    val cmp3 = toks.select(
      transform(col("toks"), t => Dedup.Md5Hash(t)).as("hof"),
      graft.functions.NativeExpressions.tokenHashesMd5(spark, col("toks")).as("native"))
    assert(cmp3.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("Md5Hash matches DuckDB's md5-derived 64-bit value") {
    // DuckDB: SELECT CAST('0x' || substr(md5('hello'),1,15) AS BIGINT)
    //         → 419982666956583591 (probed; the cross-engine contract)
    val v = Seq("hello").toDF("s")
      .select(Dedup.Md5Hash(col("s")).as("h")).collect()(0).getLong(0)
    assert(v == 419982666956583591L)
  }

  test("md5 hash family recovers the same planted near-dups as xxhash64") {
    val corpus = Dedup.plantedCorpus(Tables.documents(spark, sfDir), nPlanted = 10)
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text", hasher = Dedup.Md5Hash)
    val planted = pairs.filter(col("id_b") - col("id_a") === 10000000L).count()
    assert(planted == 10L)
  }

  test("ngram LSH recovers planted near-dups") {
    val corpus = Dedup.plantedCorpus(Tables.documents(spark, sfDir), nPlanted = 10)
    val pairs = Dedup.ngramJaccardNearDups(corpus, "doc_id", "text")
    val planted = pairs.filter(col("id_b") - col("id_a") === 10000000L).count()
    assert(planted == 10L)
  }

  test("ngram candidates stay bounded on boilerplate-prefix corpora") {
    // 100 docs sharing an identical 64-char opening (the web-corpus
    // boilerplate case): the r02 first-16-chars bucket degenerated to ONE
    // bucket → all 4950 pairs as candidates. Band keys over the gram
    // minhashes depend on the whole gram set, so low-Jaccard docs rarely
    // collide.
    val prefix = "<!DOCTYPE html><html><head><title>Site Page</title></head><body>"
    assert(prefix.length >= 64)
    val rng = new scala.util.Random(42)
    val docs = (0 until 100).map { i =>
      (i.toLong, prefix + " " + rng.alphanumeric.take(400).mkString)
    }.toDF("doc_id", "text")
    val normed = docs.select(col("doc_id").as("id"),
      lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val withGrams = normed.select(col("id"),
      graft.functions.NativeExpressions.charGramHashes(spark, col("norm")).as("grams"))
    val sig = withGrams.select(
      (col("id") +: Dedup.minhashSignatures(col("grams"), 16)): _*)
    val nCand = Dedup.bandedCandidates(sig, 16, 4).count()
    assert(nCand < 1000, s"prefix boilerplate blew up the candidate set: $nCand of 4950")
    // and the verified output is empty — the docs are NOT near-dups
    assert(Dedup.ngramJaccardNearDups(docs, "doc_id", "text").count() == 0)
  }

  test("pigeonhole simhash banding catches a planted d=4 pair the 2-half banding missed") {
    // bits 3 and 7 flipped in the low 16-bit half, 19 and 23 in the high
    // half: BOTH r02 bands differ, so the old banding had zero recall on
    // this pair despite d=4 <= maxHamming=6.
    val s1 = 0L
    val s2 = (1L << 3) | (1L << 7) | (1L << 19) | (1L << 23)
    assert((s1 & 0xFFFFL) != (s2 & 0xFFFFL) && (s1 >> 16) != (s2 >> 16))
    val sh = Seq((1L, s1), (2L, s2)).toDF("id", "sim")
    val out = Dedup.simhashCandidates(sh, bits = 32, maxHamming = 6).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Int]("hamming") == 4)
  }

  test("simhash md5 family agrees with the banding layout end-to-end") {
    val corpus = Dedup.plantedCorpus(Tables.documents(spark, sfDir), nPlanted = 5)
    val xx = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 6)
    // the md5 variant mirrors the gated query: 60-bit fingerprint
    val md = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 6,
      bits = 60, hasher = Dedup.Md5Hash)
    // different hash families/widths → different pair sets are expected;
    // both must recover the planted pairs (near-identical token multisets)
    for (pairs <- Seq(xx, md)) {
      val planted = pairs.filter(col("id_b") - col("id_a") === 10000000L).count()
      assert(planted == 5L)
    }
  }

  test("cosine known values and zero-vector guard") {
    val df = Seq(
        (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
        (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
        (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val out = df.collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
    assert(out(2) == 0.0)
  }

  test("brute-force top-1 is self for every query vector") {
    val emb = Tables.embeddings(spark, sfDir)
    val top1 = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 1)
    top1.collect().foreach { r =>
      assert(r.getAs[Long]("query_id") == r.getAs[Long]("corpus_id"))
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-6)
    }
  }

  test("LSH top-k results all share the query's bucket (subset of brute)") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 3)
    val lsh = Similarity.lshTopK(q, emb, 3).select("query_id", "corpus_id").collect()
    val buckets = emb.select(col("vec_id"),
        Similarity.signBucket(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lsh.foreach { r =>
      assert(buckets(r.getAs[Long]("query_id")) == buckets(r.getAs[Long]("corpus_id")))
    }
  }

  test("prefix-filter join is immune to shared boilerplate (df-ascending keys)") {
    // 60 docs with mutually disjoint content vocab + ONE identical
    // 12-token footer on every doc: the footer's shingles have df=60
    // (the corpus max) so they sort to the END of every doc's canonical
    // order and never enter a prefix — no candidate pairs at all. This
    // is the storm fixture that forces bucket caps / df pruning on the
    // BANDING detectors (q_dedup_minhash_capped); prefix filtering gets
    // the same immunity for free from its rare-first key choice.
    val footer = "subscribe to our newsletter for daily updates terms privacy contact us"
    val docs = (0L until 60L).map(i =>
        (i, ('a' to 'n').map(c => s"w$i$c").mkString(" ") + " " + footer))
      .toDF("doc_id", "text")
    val pairs = Dedup.prefixJaccardNearDups(docs, "doc_id", "text")
    assert(pairs.count() == 0L)
  }

  test("kmeans recovers three well-separated planted clusters") {
    // ids 0..2 are the three cluster centers (init = first k vectors), six
    // more vectors jitter ±0.1 around them → sizes 3/3/3 and centroids
    // within quantization of the per-cluster means
    val centers = Seq(
      Array(10.0f, 0.0f, 0.0f), Array(0.0f, 10.0f, 0.0f), Array(0.0f, 0.0f, 10.0f))
    val rows = (0 until 9).map { i =>
      val c = centers(i % 3)
      val jit = if (i < 3) 0.0f else if (i < 6) 0.1f else -0.1f
      (i.toLong, c.map(_ + jit).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.kmeans(emb, k = 3, iters = 2).collect()
    val sizes = out.map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(sizes == Map(0 -> 3L, 1 -> 3L, 2 -> 3L))
    // centroid of cluster 0 dim 1 ≈ mean(10.0, 10.1, 9.9) = 10.0
    val c0d1 = out.find(r => r.getInt(0) == 0 && r.getInt(1) == 1).get.getLong(2)
    assert(math.abs(c0d1 / 1048576.0 - 10.0) < 0.01)
  }

  test("prefix-filter Jaccard join: lossless recall on planted pairs, no cartesian") {
    val corpus = Dedup.plantedCorpus(Tables.documents(spark, sfDir), nPlanted = 10)
    val pairs = Dedup.prefixJaccardNearDups(corpus, "doc_id", "text")
    val physical = pairs.queryExecution.executedPlan.toString
    assert(!physical.contains("Cartesian"), "all-pairs join in prefix-filter plan")
    // prefix filtering is recall-LOSSLESS for exact Jaccard >= tau: every
    // planted mutation (one appended token) keeps J well above 0.5, so all
    // 10 planted pairs MUST surface — unlike minhash there is no S-curve
    val planted = pairs.filter(col("id_b") - col("id_a") === 10000000L).count()
    assert(planted == 10L)
  }

  test("prefix-filter verify is exact shingle Jaccard on a hand-built pair") {
    // shingle sets: doc1 {abc, bcd, cde} vs doc2 {abc, bcd, cdf} →
    // J = 2/4 = 0.5 (boundary: kept); doc3 disjoint → never a candidate
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.5)))
  }

  test("dedup eval: planted-truth precision/recall on a clean corpus is 1.0") {
    // 25 docs with mutually disjoint vocabularies: the only near-dups are
    // the planted copies, so the detector must score perfect P/R. Docs are
    // 12 tokens so the planted one-token append keeps shingle-Jaccard at
    // 10/11 ≈ 0.91 — above the 16-hash/8-band S-curve's reliable zone
    // (at J = 0.8 one of 20 pairs deterministically missed all 8 bands)
    val docs = (0L until 25L).map(i =>
        (i, ('a' to 'l').map(c => s"u$i$c").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.dedupEval(docs, nPlanted = 20).collect()(0)
    assert(r.getAs[Long]("n_truth") == 20L)
    assert(r.getAs[Long]("tp") == 20L)
    assert(r.getAs[Long]("fp") == 0L)
    assert(r.getAs[Double]("prec") == 1.0)
    assert(r.getAs[Double]("rec") == 1.0)
  }
}
