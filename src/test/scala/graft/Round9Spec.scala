package graft

import org.apache.spark.sql.functions._

/** Round-9 operator behavior on PLANTED data (the natural corpus is too
  * clean to exercise these paths — the r8 lesson).
  */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  private def doc(tokens: Seq[String]): String = tokens.mkString(" ")

  test("exactSubstrSpans merges overlapping dup windows into ONE maximal span") {
    // B embeds A's tokens 6..45 (a 40-token verbatim run) between unique
    // wrappers; w=10 → 31 duplicated window positions per side that must
    // merge to exactly one island each, span_tokens = 40.
    val aToks = (1 to 60).map(i => s"a$i")
    val shared = aToks.slice(5, 45) // tokens 6..45 of A
    val bToks = (1 to 5).map(i => s"x$i") ++ shared ++ (1 to 5).map(i => s"y$i")
    val cToks = (1 to 60).map(i => s"c$i")
    val docs = Seq((1L, doc(aToks)), (2L, doc(bToks)), (3L, doc(cToks)))
      .toDF("doc_id", "text")
    val spans = operators.Dedup.exactSubstrSpans(docs, "doc_id", "text", w = 10)
      .orderBy("doc_id").collect()
    assert(spans.length === 2) // one span per involved doc, none for C
    val byId = spans.map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(byId(1L) === ((6, 45, 40)))  // A: tokens 6..45
    assert(byId(2L) === ((6, 45, 40)))  // B: 5 wrapper tokens then the run
  }

  test("exactSubstrSpans finds nothing when the shared run is shorter than w") {
    val shared = (1 to 9).map(i => s"s$i") // 9 < w=10
    val docs = Seq(
      (1L, doc((1 to 20).map(i => s"a$i") ++ shared)),
      (2L, doc((1 to 20).map(i => s"b$i") ++ shared))).toDF("doc_id", "text")
    assert(operators.Dedup.exactSubstrSpans(docs, "doc_id", "text", w = 10)
      .count() === 0)
  }

  test("Kll: rank error within the deterministic H/(2k) bound; weight conserved") {
    val k = 128
    val n = 100000
    // a permuted-but-deterministic insertion order (worst case for a
    // sorted-stream shortcut; values are exactly 1..n)
    val vals = (0 until n).map(i => ((i.toLong * 48271) % n).toDouble)
    val st = vals.foldLeft(graft.functions.Kll.empty)(
      (s, v) => graft.functions.Kll.insert(s, v, k))
    val weight = st.zipWithIndex.map { case (b, h) => b.length.toLong << h }.sum
    assert(weight === n.toLong) // compaction conserves represented mass
    val h = st.count(_ != null) // levels present
    val eps = h.toDouble / (2 * k) + 1.0 / k // bound + discretization slack
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val est = graft.functions.Kll.quantile(st, q)
      val rank = vals.count(_ <= est).toDouble / n
      assert(math.abs(rank - q) <= eps,
        s"q=$q est=$est rank=$rank eps=$eps levels=$h")
    }
  }

  test("Kll: merging per-shard sketches honors the same rank contract") {
    val k = 128
    val n = 80000
    val vals = (0 until n).map(i => ((i.toLong * 16807) % n).toDouble)
    val shards = vals.grouped(n / 7 + 1).map(chunk =>
      chunk.foldLeft(graft.functions.Kll.empty)(
        (s, v) => graft.functions.Kll.insert(s, v, k))).toSeq
    val merged = shards.reduce((a, b) => graft.functions.Kll.merge(a, b, k))
    val weight = merged.zipWithIndex.map { case (b, h) => b.length.toLong << h }.sum
    assert(weight === n.toLong)
    val eps = merged.length.toDouble / (2 * k) + 1.0 / k
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = graft.functions.Kll.quantile(merged, q)
      val rank = vals.count(_ <= est).toDouble / n
      assert(math.abs(rank - q) <= eps, s"q=$q rank=$rank eps=$eps")
    }
  }

  test("JaroWinkler matches DuckDB's jaro_winkler_similarity on probe values") {
    // probed from duckdb 1.0 (10dp): the pins cover matching, window
    // exclusion (ab/ba), transpositions, the >0.7 boost threshold (the
    // 0.5556 cases stay UNboosted), prefix capping at 4, and empties
    val pins = Seq(
      ("martha", "marhta", 0.9611111111),
      ("dixon", "dicksonx", 0.8133333333),
      ("duane", "dwayne", 0.84),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("ab", "ba", 0.0),
      ("crane", "caren", 0.88),
      ("appel", "applet", 0.9144444444),
      ("abcdxx", "abyyyy", 0.5555555556),
      ("aaaaaa", "aabbbb", 0.5555555556),
      ("ab", "abcdefghij", 0.7866666667))
    pins.foreach { case (a, b, want) =>
      val got = graft.functions.NativeExpressions.JaroWinklerUtil.jwStr(a, b)
      assert(math.abs(got - want) < 1e-9, s"jw($a, $b) = $got, want $want")
    }
    // expression path (eval + codegen) agrees with the static core
    val df = pins.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(graft.functions.NativeExpressions
        .jaroWinkler(spark, col("a"), col("b")).as("jw"))
    assert(df.collect().map(_.getDouble(0)).toSeq ==
      pins.map { case (a, b, _) =>
        graft.functions.NativeExpressions.JaroWinklerUtil.jwStr(a, b) })
  }

  test("Kll boundaries give balanced equi-depth buckets on a skewed distribution") {
    val k = 256
    val nb = 16
    val n = 50000
    // heavy right skew: x = u^4 on a deterministic permutation of [0,1)
    val vals = (0 until n).map { i =>
      val u = ((i.toLong * 48271) % n).toDouble / n
      u * u * u * u
    }
    val st = vals.foldLeft(graft.functions.Kll.empty)(
      (s, v) => graft.functions.Kll.insert(s, v, k))
    val bs = (1 until nb).map(i =>
      graft.functions.Kll.quantile(st, i.toDouble / nb))
    assert(bs.zip(bs.tail).forall { case (a, b) => a <= b },
      "boundaries must be non-decreasing")
    val counts = new Array[Int](nb)
    vals.foreach { v => counts(bs.count(v >= _)) += 1 }
    val shares = counts.map(_.toDouble / n)
    assert(shares.forall(s => math.abs(s - 1.0 / nb) <= 0.02),
      s"bucket shares off: ${shares.mkString(",")}")
  }

  test("isotonicCalibrate repairs planted monotonicity violations (textbook PAVA)") {
    // rates by score: 0.2, 0.6, 0.4, 0.8 — the middle pair violates and
    // must pool to 0.5; the ends were monotone and must be untouched.
    val rows = Seq((1, 1), (2, 3), (3, 2), (4, 4)).flatMap { case (x, pos) =>
      (0 until 5).map(i => (x.toDouble, if (i < pos) 1 else 0))
    }
    val df = rows.toDF("q", "label")
    val out = operators.TextAnalysis.isotonicCalibrate(df, "q", "label")
      .orderBy("q").collect()
      .map(r => (r.getDouble(0), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1.0, 0.2, 0.2), (2.0, 0.6, 0.5), (3.0, 0.4, 0.5), (4.0, 0.8, 0.8)))
    // fitted is globally non-decreasing
    val fitted = out.map(_._3)
    assert(fitted.zip(fitted.tail).forall { case (a, b) => a <= b })
  }

  test("exactSubstrPairs caps boilerplate window groups; spans survive the cap") {
    // 10 docs all carry the same 10-token license block: the window group
    // has 10 members, so with maxGroup=4 NO pairs materialize (C(10,2)=45
    // suppressed), but the span inventory still reports every doc.
    val license = (1 to 10).map(i => s"lic$i")
    val docs = (1L to 10L).map(i =>
      (i, doc((1 to 20).map(j => s"u${i}_$j") ++ license))).toDF("doc_id", "text")
    val pairs = operators.Dedup
      .exactSubstrPairs(docs, "doc_id", "text", w = 10, maxGroup = 4)
    assert(pairs.count() === 0)
    val uncapped = operators.Dedup
      .exactSubstrPairs(docs, "doc_id", "text", w = 10, maxGroup = 64)
    assert(uncapped.count() === 45)
    val spans = operators.Dedup.exactSubstrSpans(docs, "doc_id", "text", w = 10)
    assert(spans.count() === 10)
    assert(spans.agg(min(col("span_tokens")), max(col("span_tokens")))
      .collect()(0) .toSeq === Seq(10, 10))
  }

  test("btStrength recovers the 3:1 closed-form ratio for two sources") {
    // a beats b in 3 of 4 rank-matched duels. Two-item Bradley–Terry has
    // the closed form π_a/π_b = W_a/W_b = 3, and the fixed point is
    // reached after one round (then stationary) — so the fixed-point
    // integer replay must land the ratio exactly.
    val docs = Seq(
      (1L, "en", "a", 100L), (2L, "en", "a", 100L),
      (3L, "en", "a", 100L), (4L, "en", "a", 10L),
      (11L, "en", "b", 50L), (12L, "en", "b", 50L),
      (13L, "en", "b", 50L), (14L, "en", "b", 50L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val r = operators.Training.btStrength(docs).collect()
    val byS = r.map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(byS("a") === 3L * byS("b"))
    assert(r.map(_.getString(0)).toSeq === Seq("a", "b")) // strength order
  }

  test("sortedNeighborhoodPairs emits exactly the global w-window pairs " +
      "across a bucket boundary") {
    // Buckets a (4 names) and b (3 names), w = 3: expected pairs are all
    // sort-order neighbors at distance 1 or 2, INCLUDING the two pairs
    // that straddle the a→b boundary (a3–b1, a3–b2, a4–b1, a4–b2 minus
    // those at distance ≥ 3). Global sort: a1 a2 a3 a4 b1 b2 b3.
    val names = Seq("a1", "a2", "a3", "a4", "b1", "b2", "b3").toDF("name")
    val got = operators.Dedup.sortedNeighborhoodPairs(names, w = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val order = Seq("a1", "a2", "a3", "a4", "b1", "b2", "b3")
    val want = (for {
      i <- order.indices; j <- order.indices
      if j > i && j - i < 3
    } yield (order(i), order(j))).toSet
    assert(got === want)
  }

  test("kcore peels a planted chain cascade to the exact stable core") {
    // Planted graph: a K4 clique (nodes 1-4, degree 3 each) plus a chain
    // 4-5-6-7 hanging off it. With k=2, peeling must cascade down the
    // chain one round at a time (7 goes first, exposing 6, then 5) and
    // converge to the clique, where every node has degree 3 ≥ 2 and the
    // stable flag is true — the bounded 4 rounds suffice for this depth.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val fin = operators.Graph.kcoreOnEdges(edges, k = 2, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(fin.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    assert(fin.map(_._2).toSet === Set(3L))
    assert(fin.forall(_._3)) // converged: every survivor stable
  }

  test("simpsonCheck flags the full reversal on the textbook planted mix") {
    // Segment A concentrates in the high-value stratum, B in the low-value
    // one. WITHIN both strata B's mean is higher (diff = -1), but pooled,
    // A's mean is ~98 vs B's ~7 — the full Simpson reversal: every stratum
    // row must carry opposes_pooled = true, the pooled row false.
    val orders =
      ((1 to 1).map(i => (100L + i, "LOW", 5.0)) ++        // A: 1 low @5
        (1 to 99).map(i => (200L + i, "LOW", 6.0)) ++      // B: 99 low @6
        (1 to 99).map(i => (300L + i, "HIGH", 99.0)) ++    // A: 99 high @99
        (1 to 1).map(i => (400L + i, "HIGH", 100.0)))      // B: 1 high @100
        .toDF("o_custkey", "o_orderpriority", "o_totalprice")
    val customer =
      ((1 to 1).map(i => (100L + i, "AUTOMOBILE")) ++
        (1 to 99).map(i => (200L + i, "BUILDING")) ++
        (1 to 99).map(i => (300L + i, "AUTOMOBILE")) ++
        (1 to 1).map(i => (400L + i, "BUILDING")))
        .toDF("c_custkey", "c_mktsegment")
    val r = operators.Analytics.simpsonCheck(orders, customer).collect()
    val byS = r.map(x => x.getString(0) ->
      (x.getDouble(5), x.getBoolean(6))).toMap
    assert(byS("LOW") === ((-1.0, true)))
    assert(byS("HIGH") === ((-1.0, true)))
    assert(byS("pooled")._1 > 0 && !byS("pooled")._2)
  }

  test("aaCheck flags a split-correlated metric on the biased salt only") {
    // Plant a broken assignment: the metric is 8+noise for salt-0's
    // arm-1 users and 1+noise for its arm-0 users, so salt 0 MUST flag
    // unhealthy while the re-randomized salts 1–4 (independent md5
    // splits of the same users) stay healthy.
    val arm0 = conv(substring(md5(concat(col("user_id").cast("string"),
      lit(":0"))), 1, 4), 16, 10).cast("long") % 2
    val users = spark.range(1, 401).toDF("user_id")
      .withColumn("k",
        when(arm0 === 1, 8L).otherwise(1L) + col("user_id") % 3)
    val events = users
      .select(col("user_id"),
        explode(sequence(lit(1L), col("k"))).as("i"))
      .select(col("user_id"), lit("purchase").as("event_type"))
    val r = operators.Analytics.aaCheck(events).collect()
    val bySalt = r.map(x => x.getInt(0) -> x.getBoolean(6)).toMap
    assert(!bySalt(0), "biased salt must flag unhealthy")
    assert((1 to 4).count(s => bySalt(s)) >= 3,
      "independent re-randomizations must stay (mostly) healthy")
  }

  test("disparateImpact fires the 4/5ths flag exactly at the EEOC boundary") {
    // majority keeps 10/10; minority keeps 8/10 = exactly 0.8 (NOT a
    // violation — the rule is strict-less-than) and edge keeps 7/10
    // (a violation). Exact integer cross-multiply, no float boundary.
    val rows =
      (1 to 10).map(i => ("majority", true)) ++
      (1 to 8).map(i => ("minority", true)) ++ (1 to 2).map(i => ("minority", false)) ++
      (1 to 7).map(i => ("edge", true)) ++ (1 to 3).map(i => ("edge", false))
    val r = operators.TextAnalysis
      .disparateImpact(rows.toDF("grp", "keep"), "grp", "keep").collect()
    val byG = r.map(x => (x.getString(0), (x.getLong(3), x.getBoolean(5)))).toMap
    assert(byG("majority") === ((1000000L, false)))
    assert(byG("minority") === ((800000L, false))) // exactly 4/5: no flag
    assert(byG("edge") === ((700000L, true)))
  }

  test("saxSymbolic walks the full a..d alphabet on a planted linear trend") {
    // 120 days ramping linearly: PAA segment means ramp with them, so
    // the 30 segments must sweep a → d monotonically and hit all four.
    val days = spark.range(0, 120)
      .select(date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          col("id").cast("int")).as("day"),
        (col("id") * 100L).as("c"))
    val r = operators.Analytics.saxSymbolic(days).collect()
    assert(r.length === 30)
    val syms = r.map(_.getString(3))
    assert(syms.toSet === Set("a", "b", "c", "d"))
    assert(syms.sameElements(syms.sorted), "trend must map monotonically")
  }

  test("waterfillMix protects small sources and caps whales at one level") {
    // avail (10, 20, 1000, 3000): total 4030, B = 2015. Waterfill must
    // keep the two small sources whole and cap both whales at the same
    // λ = (2015 − 30) div 2 = 992, with Σ alloc ∈ (B − n, B].
    val avail = Seq(("tiny", 10L), ("small", 20L),
      ("big", 1000L), ("whale", 3000L)).toDF("source", "avail")
    val r = operators.Curation.waterfillMix(avail).collect()
    val byS = r.map(x => x.getString(0) -> (x.getLong(2), x.getBoolean(4))).toMap
    assert(byS("tiny") === ((10L, false)))
    assert(byS("small") === ((20L, false)))
    assert(byS("big") === ((992L, true)))
    assert(byS("whale") === ((992L, true)))
    val alloc = r.map(_.getLong(2)).sum
    assert(alloc > 2015 - 4 && alloc <= 2015)
  }

  test("waterfillMix invariants hold across seeded random avail profiles") {
    // for ANY avail profile: Σ alloc ∈ (B − n, B] (the floor bound),
    // alloc ≤ avail everywhere, capped ⇔ avail > λ, and every capped
    // source gets EXACTLY λ (one common level — the defining property)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 8) {
      val n = 2 + rnd.nextInt(12)
      val avails = (1 to n).map(i => (s"s$i", 1L + rnd.nextInt(100000).toLong))
      val r = operators.Curation.waterfillMix(avails.toDF("source", "avail"))
        .collect()
      val b = avails.map(_._2).sum / 2
      val alloc = r.map(_.getLong(2)).sum
      assert(alloc <= b && alloc > b - n, s"alloc=$alloc B=$b n=$n")
      val lam = r.head.getLong(3)
      r.foreach { row =>
        assert(row.getLong(2) <= row.getLong(1))
        assert(row.getBoolean(4) === (row.getLong(1) > lam))
        if (row.getBoolean(4)) assert(row.getLong(2) === lam)
      }
    }
  }

  test("labelPropOnEdges resolves two planted cliques to two stable communities") {
    // two 4-cliques bridged by ONE edge: LPA must converge to exactly
    // two communities (the bridge can't outvote the cliques), each
    // labeled by its lexicographically-smallest member, all stable.
    def clique(ids: Seq[String]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) ++
      Seq(("a4", "b1"), ("b1", "a4"))).toDF("src", "dst")
    val r = operators.Graph.labelPropOnEdges(edges, rounds = 3).collect()
    val byNode = r.map(x => x.getString(0) -> (x.getString(1), x.getBoolean(2))).toMap
    assert(Seq("a1", "a2", "a3", "a4").forall(n => byNode(n)._1 == "a1"))
    assert(Seq("b1", "b2", "b3", "b4").forall(n => byNode(n)._1 == "b1"))
    assert(r.forall(_.getBoolean(2)), "all nodes must be stable")
  }

  test("hitsOnEdges ranks the planted hub-magnet supplier first") {
    // s1 is bought by all 6 customers, s2 by two, s3 by one — authority
    // order must be s1 > s2 > s3 at any round count.
    val cs = (1 to 6).map(i => s"c$i")
    val edges = (cs.map(c => (c, "s1")) ++
      Seq(("c1", "s2"), ("c2", "s2"), ("c3", "s3"))).toDF("src", "dst")
    val r = operators.Graph.hitsOnEdges(edges, rounds = 2, k = 3).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("s1", "s2", "s3"))
    assert(r(0).getLong(1) > r(1).getLong(1))
    assert(r(1).getLong(1) > r(2).getLong(1))
  }

  test("noveltyDecay reports zero novelty for a verbatim re-crawled batch") {
    // batch 1 (ids 100..109) is a byte-identical re-crawl of batch 0
    // (ids 0..9): its first-seen gram fraction must be exactly 0.
    val texts = (0 until 10).map(i =>
      (0 until 12).map(j => s"w${i}_$j").mkString(" "))
    val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      texts.zipWithIndex.map { case (t, i) => (i + 100L, t) })
      .toDF("doc_id", "text")
    val r = operators.Curation.noveltyDecay(docs, batchSize = 100L)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(0L) === 1000000L)
    assert(r(1L) === 0L)
  }

  test("cdcBatchMerge is arrival-order independent (tombstone retention)") {
    // the delete (seq 2) arrives BEFORE the insert (seq 0) and update
    // (seq 1): the tombstone must survive both later merges, and a key
    // whose update arrives before its insert must land on the update.
    import org.apache.spark.sql.types.DecimalType
    val store = Scratch.dir("cdc_spec_store")
    Scratch.clear(store)
    Scratch.clear(store + ".tmp")
    def wave(rows: Seq[(Long, String, java.math.BigDecimal, Long, String)]) =
      rows.toDF("k", "status", "price", "seq", "op")
        .withColumn("price", col("price").cast(DecimalType(18, 2)))
    def bd(v: String) = new java.math.BigDecimal(v)
    streaming.StreamOps.cdcBatchMerge(
      wave(Seq((1L, null, null, 2L, "D"), (2L, "U2", bd("2.50"), 1L, "U"))),
      store)
    streaming.StreamOps.cdcBatchMerge(
      wave(Seq((1L, "I1", bd("1.00"), 1L, "U"))), store)
    streaming.StreamOps.cdcBatchMerge(
      wave(Seq((1L, "I1", bd("1.00"), 0L, "I"), (2L, "I2", bd("2.00"), 0L, "I"))),
      store)
    val fin = spark.read.parquet(store).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(5))).toMap
    assert(fin(1L)._1 == "D", "tombstone must win over late lower-seq rows")
    assert(fin(1L)._2 == 3L)
    assert(fin(2L)._1 == "U", "update must win over its late insert")
  }

  test("btStrength clamps a shut-out source to strength 1, not 0/0") {
    // c loses every duel (tw = 0) → the raw update is 0; the clamp keeps
    // it at 1 so round-2 denominators π_i + π_c never divide by zero.
    val docs = Seq(
      (1L, "en", "a", 100L), (2L, "en", "a", 100L),
      (11L, "en", "b", 50L), (12L, "en", "b", 90L),
      (21L, "en", "c", 1L), (22L, "en", "c", 1L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val r = operators.Training.btStrength(docs).collect()
    val byS = r.map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(byS("c") === 1L)
    assert(byS("a") > byS("b") && byS("b") > byS("c"))
  }
}
