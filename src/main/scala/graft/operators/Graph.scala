package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics beyond degree/components: PageRank on the entity
  * interaction graph (Page et al. 1999; the Pregel/GraphX formulation
  * re-expressed as DataFrame joins — no GraphX dependency, the plan IS
  * the message-passing round).
  *
  * Exact replayability: ranks are fixed-point Longs (SCALE = 10^12 mass
  * units). Every per-iteration op — contribution `p div outdeg`, damped
  * update `teleport + (85·Σcontrib) div 100` — is integer division, so
  * DuckDB replays all rounds bit-for-bit (the q_kmeans/q_pca_top
  * pattern; a float PageRank would pin the fold order instead).
  * Σ mass drifts slightly below SCALE from the floors — fine, the
  * ORDER is the contract, and the floors are identical on both engines.
  *
  * Scale posture — the classic distributed PageRank shape:
  *   - edges build once from orders ⋈ lineitem (shuffle on orderkey),
  *     deduplicate, symmetrize, and persist; every node of the
  *     symmetrized graph has outdeg ≥ 1, so there is no dangling-mass
  *     correction term to carry.
  *   - each round is ONE shuffle: contributions map-side (edge ⋈ rank
  *     frame on src — rank frame is node-cardinality, broadcast-class
  *     next to edges), then a map-side-combined sum by dst. Nothing
  *     edge-cardinality persists across rounds.
  *   - the only driver value is the node count (one scalar); ranks stay
  *     distributed. Iteration count bounds total cost at `iters` edge
  *     passes; beyond ~8 rounds add localCheckpoint every 4 (the X12
  *     lineage rule) — at 3 rounds lineage is shallow.
  */
object Graph extends QueryModule {

  private val SCALE = 1000000000000L // 10^12 fixed-point mass units

  /** Bounded-driver-state threshold for the fixed-round integer loops
    * (PageRank/PPR/HITS/k-core/LPA): below this many edges the per-round
    * joins+aggregates pay ~1 s/job of pure local scheduling overhead
    * while the arithmetic itself is microseconds (cpu_wall ≈ 2-9 in the
    * r11 bench — the q_grid_clusters disease), so the rounds run as
    * DRIVER state with the IDENTICAL fixed-point Long scheme and the
    * distributed loop stays as the at-scale fallback. 4M string-pair
    * edges ≈ tens of MB of driver heap — the componentLabelsJump
    * precedent (Dedup.scala componentLabelsJump), one size up because
    * these edge frames are corpus-derived (sf0.1 interaction graph =
    * 1.17M edges), not grid-bounded. A 100 TB graph (billions of edges)
    * takes the distributed branch.
    */
  private[operators] val DriverEdgeLimit = 4000000

  /** Probe-or-persist: the single entry point of every bounded-driver
    * fast path. Collects all (src, dst) edges — `Right(IndexedEdges)` —
    * if the frame holds ≤ `limit` rows AND both columns are strings
    * (non-string node types take the distributed branch so both paths
    * release identical schemas — the componentLabelsJump id-type
    * lesson). ONE collect serves both the size check and the rounds (no
    * separate count job — the limit-probe idiom). The caller must pass
    * the UNPERSISTED frame: probing through a fresh cache costs ~3× the
    * plain scan (measured 6.3 s vs 2.3 s on the sf0.1 interaction
    * graph), and the fast path never reads the frame again.
    *
    * On the at-scale / non-string path the SAME frame comes back
    * `Left`, already persisted (tracked): every distributed fallback
    * iterates over it several times, and persisting HERE — not at each
    * call site — means the probe's one burned scan is the only
    * recompute anywhere (the r12 ADVICE recompute finding; modularity's
    * byC joins now read the identical cache lpaRounds iterated on).
    */
  private def probeOrPersist(edges: DataFrame, limit: Int = DriverEdgeLimit)
      : Either[DataFrame, IndexedEdges] = {
    import graft.CacheScope.TrackedDataset
    val f = edges.schema.fields
    val stringPair = f.length == 2 &&
      f.forall(_.dataType == org.apache.spark.sql.types.StringType)
    if (stringPair) {
      val rows = probeCollect(edges, limit)
      if (rows.length <= limit)
        return Right(new IndexedEdges(
          rows.map(r => (r.getString(0), r.getString(1)))))
    }
    Left(edges.persistTracked())
  }

  /** limit(n+1).collect() with the incremental executeTake ramp bounded
    * for the probe: the default (1-partition first job, ×4 scale-up)
    * turns one full scan into ~4 SEQUENTIAL jobs — measured 2× the probe
    * wall on 32-partition frames that the probe expects to read fully
    * anyway. The first take job is widened to `defaultParallelism`
    * partitions, NOT all of them: on an over-limit at-scale frame (the
    * exact case meant to degrade to the distributed fallback) an
    * all-partitions first job would ship up to numPartitions×(limit+1)
    * rows to the driver — OOM instead of degrade, the class the
    * BroadcastNodeLimit gate exists to prevent. Cores-bounded, the probe
    * transfers at most ~cores×(limit+1) rows before the ramp sees it
    * already holds > limit and stops; locally (32 shuffle partitions =
    * defaultParallelism) every partition still lands in ONE job, so the
    * measured ramp win is unchanged. The conf set/restore is serialized
    * on [[probeLock]] so interleaved probes can't observe each other's
    * temporary value or mis-restore it; a concurrent NON-probe query in
    * the same session could still see the probe's setting for its own
    * limits (benign here — Verify/Bench run queries sequentially, and
    * the value only shapes take-job batching, never results).
    */
  private val probeLock = new Object
  private[operators] def probeCollect(df: DataFrame, limit: Int)
      : Array[org.apache.spark.sql.Row] = probeLock.synchronized {
    val sess = df.sparkSession
    val key = "spark.sql.limit.initialNumPartitions"
    val old = sess.conf.getOption(key)
    sess.conf.set(key,
      math.max(1, sess.sparkContext.defaultParallelism).toString)
    try df.limit(limit + 1).collect()
    finally old match {
      case Some(v) => sess.conf.set(key, v)
      case None => sess.conf.unset(key)
    }
  }

  /** Driver rounds of the WEIGHTED fixed-point PageRank scheme shared by
    * TextAnalysis.textRank and Analytics.pagerankTransitions: `rows` are
    * collected (src: String, dst: String, n: Long) weighted edges; the
    * scheme is S = 10⁶ ppm, damping 850/1000, per-edge contribution
    * (850·rank·n) div (1000·wout) — all Long-exact, so the result is
    * bit-identical to the distributed loop and the DuckDB replay.
    * Returns the (node, rank) frame for the caller's shared readout.
    */
  private[operators] def weightedRankRounds(
      rows: Array[org.apache.spark.sql.Row], iters: Int,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    // empty/degenerate corpus: the distributed loop releases an empty
    // frame (no nodes to rank); match it instead of dividing 10⁶ by 0
    if (rows.isEmpty)
      return Seq.empty[(String, Long)].toDF("node", "rank")
    val ie = new IndexedEdges(rows.map(r => (r.getString(0), r.getString(1))))
    val w = rows.map(_.getLong(2))
    val wout = new Array[Long](ie.n)
    var i = 0
    while (i < ie.m) { wout(ie.src(i)) += w(i); i += 1 }
    val nn = ie.n.toLong
    var rank = Array.fill(ie.n)(1000000L / nn)
    for (_ <- 1 to iters) {
      val contrib = new Array[Long](ie.n)
      i = 0
      while (i < ie.m) {
        val s0 = ie.src(i)
        contrib(ie.dst(i)) +=
          (850L * rank(s0) * w(i)) / (1000L * wout(s0))
        i += 1
      }
      val nr = new Array[Long](ie.n)
      var j = 0
      while (j < ie.n) { nr(j) = 150000L / nn + contrib(j); j += 1 }
      rank = nr
    }
    (0 until ie.n).map(nd => (ie.name(nd), rank(nd)))
      .toDF("node", "rank")
  }

  /** The shared probe + dispatch for the weighted scheme — THE entry
    * point for TextAnalysis.textRank and Analytics.pagerankTransitions
    * (both previously inlined a hardcoded limit and a private copy of
    * the distributed loop — the r12 verdict's one real finding).
    * Contract mirrors [[probeOrPersist]]: string (src, dst) + Long n →
    * one limit-probe on the UNPERSISTED frame, driver rounds below
    * [[DriverEdgeLimit]]; non-string node types or an over-limit frame
    * take [[weightedRankRoundsDistributed]] (without the type gate a
    * non-string caller would ClassCastException inside
    * weightedRankRounds' getString instead of degrading).
    */
  private[operators] def weightedRank(edges: DataFrame,
                                      iters: Int): DataFrame = {
    val f = edges.schema.fields
    val stringKeyed = f.length == 3 &&
      f(0).dataType == org.apache.spark.sql.types.StringType &&
      f(1).dataType == org.apache.spark.sql.types.StringType
    if (stringKeyed) {
      val rows = probeCollect(edges, DriverEdgeLimit)
      if (rows.length <= DriverEdgeLimit)
        return weightedRankRounds(rows, iters, edges.sparkSession)
    }
    weightedRankRoundsDistributed(edges, iters)
  }

  /** The at-scale weighted loop (one hoisted copy of what textRank and
    * pagerankTransitions each inlined): per round ONE shuffle — cached
    * edges ⋈ the node-cardinality rank frame, map-side-combined sum by
    * dst — with the rank/contrib broadcasts gated on
    * [[BroadcastNodeLimit]] (past broadcast class the hint drops to a
    * shuffle join instead of OOMing — the LPA/modularity r11 ADVICE
    * gate, now applied here too). localCheckpoint keeps round k's
    * lineage one step deep. The node count is the one driver scalar; it
    * feeds the 10⁶ div n seeds AND the broadcast gate, and persisting
    * `nodes` makes each round's left join read a cache instead of
    * re-running the distinct (the old inline loops re-derived it every
    * round).
    */
  private def weightedRankRoundsDistributed(edgeFrame: DataFrame,
                                            iters: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val edgesP = edgeFrame.persistTracked()
    val wout = edgesP.groupBy("src").agg(sum(col("n")).as("wout"))
    val e = edgesP.join(wout, "src")
    val nodes = edgesP.select(col("src").as("node"))
      .union(edgesP.select(col("dst").as("node"))).distinct()
      .persistTracked()
    val nn = nodes.count()
    def hint(df: DataFrame): DataFrame =
      if (nn <= BroadcastNodeLimit) broadcast(df) else df
    // nn = 0 ⇒ nodes is empty and every frame below is empty; guard the
    // two driver-side divisions so the degenerate corpus releases the
    // empty frame instead of throwing
    val seed = if (nn == 0) 0L else 1000000L / nn
    val tele = if (nn == 0) 0L else 150000L / nn
    var rk = nodes.select(col("node"), lit(seed).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(hint(rk), col("src") === col("node"))
        .select(col("dst"),
          expr("(850 * rank * n) div (1000 * wout)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("c"))
      rk = nodes.join(hint(contrib), col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(tele) + coalesce(col("c"), lit(0L))).as("rank"))
        .localCheckpoint()
    }
    rk
  }

  /** String-interned edge list for the driver fast paths: node names →
    * dense ints, edges as parallel int arrays. The rounds then run on
    * primitive arrays — a (String,String)-keyed HashMap LPA round over
    * the 1.17M-edge sf0.1 graph measured 4.5 s; the array form is
    * milliseconds. Node ids are first-occurrence order (arithmetic is
    * order-independent; ORDER-sensitive tie-breaks go through
    * [[IndexedEdges.utf8Rank]], Spark's binary string order).
    */
  private[operators] final class IndexedEdges(
      es: Array[(String, String)]) {
    private val idOf = new java.util.HashMap[String, Integer](
      math.max(16, es.length))
    private val nameBuf = new scala.collection.mutable.ArrayBuffer[String]
    val src = new Array[Int](es.length)
    val dst = new Array[Int](es.length)
    private def id(s: String): Int = {
      val v = idOf.get(s)
      if (v ne null) v.intValue
      else {
        val i = nameBuf.length; idOf.put(s, i); nameBuf += s; i
      }
    }
    locally {
      var i = 0
      while (i < es.length) {
        src(i) = id(es(i)._1); dst(i) = id(es(i)._2); i += 1
      }
    }
    /** edge count */
    val m: Int = es.length
    /** node count (distinct src ∪ dst) */
    def n: Int = nameBuf.length
    def name(i: Int): String = nameBuf(i)
    /** node id by name, −1 if absent */
    def idOrNeg(s: String): Int = {
      val v = idOf.get(s); if (v eq null) -1 else v.intValue
    }
    /** rank of each node's name in UTF-8 byte order (Spark's binary
      * string comparison — JVM compareTo is UTF-16 code-unit order,
      * which diverges on supplementary characters). */
    lazy val utf8Rank: Array[Int] = {
      val bytes = Array.tabulate(n)(i => nameBuf(i).getBytes("UTF-8"))
      val order = Array.tabulate(n)(identity)
      val sorted = order.sortWith { (a, b) =>
        val x = bytes(a); val y = bytes(b)
        val lim = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (r == 0 && i < lim) {
          r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
        }
        if (r != 0) r < 0 else x.length < y.length
      }
      val rank = new Array[Int](n)
      var i = 0
      while (i < sorted.length) { rank(sorted(i)) = i; i += 1 }
      rank
    }
  }

  /** Distinct DIRECTED customer→supplier edges ("c:<id>" → "s:<id>")
    * from who-bought-from-whom (orders ⋈ lineitem) — the bipartite half
    * that [[interactionEdges]] symmetrizes and [[hits]] consumes as-is.
    */
  def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      // distinct on the INT key pair, then render the node strings: the
      // id→string map is bijective, so the distinct set is identical, but
      // the exchange carries 16 B/row of longs instead of ~24 B of strings
      // and the hash/compare work in the map-side partial distinct runs on
      // longs (shared cost of every graph query's edge build)
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
      .select(concat(lit("c:"), col("ck")).as("src"),
        concat(lit("s:"), col("sk")).as("dst"))

  /** Symmetrized distinct customer↔supplier edges ("c:<id>" / "s:<id>"
    * nodes) from who-bought-from-whom (orders ⋈ lineitem).
    */
  def interactionEdges(s: SparkSession, d: String): DataFrame = {
    val half = bipartiteEdges(s, d)
    // symmetrize map-side (explode both directions of each distinct edge):
    // a union of two `half` branches would re-run the scan+join+distinct
    // twice — measured in the r8 plan audit before this shape
    half.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the DIRECTED bipartite
    * purchase graph — the natural home for HITS: customers are pure
    * hubs, suppliers pure authorities, and the mutual reinforcement
    * ("good customers buy from good suppliers") is exactly the
    * hub↔authority recursion. PageRank on the symmetrized graph ranks
    * by mixed centrality; this separates the two roles.
    *
    * Fixed-point integer replay (the q_pagerank contract) with L1
    * normalization per half-step (a := a·S div Σa) instead of the
    * textbook L2 — rank-equivalent, and it keeps every operation in
    * integer division so DuckDB replays all rounds bit-for-bit (an L2
    * norm would put a sqrt inside the iteration). S = 10^6 here so the
    * worst intermediate (Σmass·S ≈ n·S²) stays far inside Long at
    * fixture scale; a 10^9-node deployment raises S and moves the
    * products to DECIMAL(38,0) — the knob, not the shape.
    *
    * Scale posture: each half-step is ONE shuffle (edges ⋈ the
    * node-cardinality score frame, map-side-combined sum on the other
    * endpoint) plus a broadcast scalar normalizer — the exact PageRank
    * round shape, two per iteration. Nothing edge-cardinality persists.
    */
  def hits(s: SparkSession, d: String, rounds: Int = 2,
           k: Int = 10): DataFrame =
    hitsOnEdges(bipartiteEdges(s, d), rounds, k)

  /** The recursion itself, over any directed (src, dst) edge frame. */
  def hitsOnEdges(edgeFrame: DataFrame, rounds: Int, k: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val S = 1000000L
    val spark = edgeFrame.sparkSession
    import spark.implicits._
    val aFinal = probeOrPersist(edgeFrame.select("src", "dst")) match {
      case Right(ie) =>
        // bounded driver state: identical half-step scheme on Longs; the
        // inner-join semantics of each half-step map to a −1 "absent"
        // sentinel (masses are ≥ 0) — a src absent from the score frame
        // contributes nothing
        var h = Array.fill(ie.n)(-1L)
        var a = Array.fill(ie.n)(-1L)
        var i = 0
        while (i < ie.m) { h(ie.src(i)) = S; i += 1 }
        for (_ <- 1 to rounds) {
          val ar = Array.fill(ie.n)(-1L)
          i = 0
          while (i < ie.m) {
            val hv = h(ie.src(i))
            if (hv >= 0) {
              val d0 = ie.dst(i)
              ar(d0) = (if (ar(d0) < 0) 0L else ar(d0)) + hv
            }
            i += 1
          }
          var sa = 0L
          var j = 0
          while (j < ie.n) { if (ar(j) >= 0) sa += ar(j); j += 1 }
          a = ar.map(v => if (v >= 0) (v * S) / sa else -1L)
          val hr = Array.fill(ie.n)(-1L)
          i = 0
          while (i < ie.m) {
            val av = a(ie.dst(i))
            if (av >= 0) {
              val s0 = ie.src(i)
              hr(s0) = (if (hr(s0) < 0) 0L else hr(s0)) + av
            }
            i += 1
          }
          var sh = 0L
          j = 0
          while (j < ie.n) { if (hr(j) >= 0) sh += hr(j); j += 1 }
          h = hr.map(v => if (v >= 0) (v * S) / sh else -1L)
        }
        (0 until ie.n).collect {
          case nd if a(nd) >= 0 => (ie.name(nd), a(nd))
        }.toDF("dst", "a")
      case Left(e) => // persisted by the probe — every half-step reads it
        var h = e.select(col("src")).distinct().withColumn("h", lit(S))
        var a: DataFrame = null
        // each half-step's raw-score frame is persisted: it feeds BOTH
        // the scalar normalizer and the normalized frame, and the
        // normalized frame fans into the next half-step — unpersisted,
        // the plan re-executes the prefix ~2× per half-step (the kcore
        // 3^rounds lesson, same fix)
        for (_ <- 1 to rounds) {
          val araw = e.join(h, Seq("src")).groupBy("dst")
            .agg(sum(col("h")).as("ar")).persistTracked()
          val asum = araw.agg(sum(col("ar")).as("sa"))
          a = araw.crossJoin(broadcast(asum))
            .select(col("dst"), expr(s"ar * $S div sa").as("a"))
          val hraw = e.join(a, Seq("dst")).groupBy("src")
            .agg(sum(col("a")).as("hr")).persistTracked()
          val hsum = hraw.agg(sum(col("hr")).as("sh"))
          h = hraw.crossJoin(broadcast(hsum))
            .select(col("src"), expr(s"hr * $S div sh").as("h"))
        }
        a
    }
    aFinal.select(col("dst").as("node"), col("a").as("auth_mass"))
      .orderBy(desc("auth_mass"), asc("node")).limit(k)
  }

  /** `iters` damped rounds (d = 0.85) of fixed-point PageRank; returns
    * the top `k` nodes by final mass (ties to the lower node id).
    */
  def pagerank(s: SparkSession, d: String, iters: Int = 3,
               k: Int = 10): DataFrame =
    pagerankOnEdges(interactionEdges(s, d), iters, k)

  /** PageRank over any symmetrized (src, dst) edge frame (every node
    * must have outdeg ≥ 1, which symmetrization guarantees).
    */
  def pagerankOnEdges(edgeFrame: DataFrame, iters: Int,
                      k: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val spark = edgeFrame.sparkSession
    import spark.implicits._
    val ranked = probeOrPersist(edgeFrame.select("src", "dst")) match {
      case Right(ie) if ie.m == 0 =>
        // empty graph: no src nodes, so SCALE div nSrc would divide by
        // zero — release the empty frame the distributed branch would
        Seq.empty[(String, Long)].toDF("node", "p")
      case Right(ie) =>
        // bounded driver state: the same SCALE/teleport scheme on Longs
        // (Scala / on non-negative Longs ≡ Spark div ≡ DuckDB //); sums
        // are exact integer adds, so accumulation order cannot matter.
        // Rank state lives only on src nodes (the distributed deg frame)
        val deg = new Array[Long](ie.n)
        var i = 0
        while (i < ie.m) { deg(ie.src(i)) += 1L; i += 1 }
        var nSrc = 0L
        var j = 0
        while (j < ie.n) { if (deg(j) > 0) nSrc += 1L; j += 1 }
        val base = SCALE / nSrc
        val teleport = (15L * base) / 100L
        var p = new Array[Long](ie.n)
        j = 0
        while (j < ie.n) { if (deg(j) > 0) p(j) = base; j += 1 }
        for (_ <- 1 to iters) {
          val sums = new Array[Long](ie.n)
          i = 0
          while (i < ie.m) {
            val s0 = ie.src(i)
            sums(ie.dst(i)) += p(s0) / deg(s0)
            i += 1
          }
          val np = new Array[Long](ie.n)
          j = 0
          while (j < ie.n) {
            if (deg(j) > 0) np(j) = teleport + (85L * sums(j)) / 100L
            j += 1
          }
          p = np
        }
        (0 until ie.n).collect {
          case nd if deg(nd) > 0 => (ie.name(nd), p(nd))
        }.toDF("node", "p")
      case Left(edges) => // persisted by the probe
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg")).persistTracked()
        val n = deg.count() // node count — the one driver-side scalar
        val base = if (n == 0) 0L else SCALE / n
        val teleport = (15L * base) / 100L
        var p = deg.select(col("node"), col("deg"), lit(base).as("p"))
        for (_ <- 1 to iters) {
          val sums = edges
            .join(p.select(col("node").as("src"), expr("p div deg").as("c")),
              Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("s"))
          p = deg.join(sums, Seq("node"), "left")
            .select(col("node"), col("deg"),
              (lit(teleport) + expr("(85 * coalesce(s, 0)) div 100")).as("p"))
        }
        p.select(col("node"), col("p"))
    }
    ranked.select(col("node"), col("p").as("rank_mass"))
      .orderBy(desc("rank_mass"), asc("node")).limit(k)
  }

  /** One DuckDB iteration CTE (replays the Spark round exactly: BIGINT
    * floors throughout; `//` is DuckDB integer division).
    */
  private def iterSql(t: Int): String = {
    val prev = s"p${t - 1}"
    s"""p$t AS (
       | SELECT d.node, d.deg,
       |  (SELECT (15 * (1000000000000 // n)) // 100 FROM nn)
       |   + CAST((85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS p
       | FROM deg d LEFT JOIN (
       |  SELECT e.dst AS node, sum(p.p // p.deg) AS s
       |  FROM edges e JOIN $prev p ON e.src = p.node GROUP BY 1) s
       | ON d.node = s.node)""".stripMargin
  }

  /** Bounded K-CORE PEELING (Seidman 1983; the distributed peel of
    * Montresor et al. 2013): repeatedly remove nodes of degree < k from
    * the symmetrized entity graph. The k-core is the classic "dense
    * backbone" extractor — here it strips casual buyers off the
    * purchase graph, leaving the high-interaction core.
    *
    * Bounded-round contract (the q_pagerank/q_kmeans posture): exactly
    * `rounds` peels, each one shuffle (degree count + two semi-joins on
    * the survivor set). After ANY number of rounds the survivor set is
    * a superset of the true k-core; the per-node `stable` flag (final
    * degree ≥ k) exposes convergence — all-true means the result IS the
    * exact k-core. Convergence on a planted cascade is spec-gated in
    * Round9Spec.
    *
    * Scale posture: survivor filtering is two equi-joins keyed by
    * endpoint (the survivor frame is node-cardinality — broadcast-class
    * beside edges); nothing edge-cardinality persists across rounds.
    * Beyond ~8 rounds add localCheckpoint every 4 (the X12 lineage
    * rule); at 4 rounds lineage stays shallow.
    */
  def kcore(s: SparkSession, d: String, k: Int = 20,
            rounds: Int = 4): DataFrame =
    // no persist here: the probe reads the frame once (fast path never
    // reads it again); the distributed fallback persists internally
    kcoreOnEdges(interactionEdges(s, d), k, rounds)

  /** The peel itself, over any symmetrized (src, dst) edge frame.
    *
    * Each round's survivor edge frame is PERSISTED before the next
    * round reads it: the frame appears THREE times in round t+1's DAG
    * (once under `keep`, twice as the join probe sides), so without the
    * persist the unevaluated plan re-executes the whole prefix 3^rounds
    * times — measured 43 s → 6 s at sf0.1 when the r9 bench caught
    * it. The X12 rule in its cache form: iterative frames that fan out
    * into the next round must be materialized per round.
    */
  def kcoreOnEdges(edgeFrame: DataFrame, k: Int, rounds: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val spark = edgeFrame.sparkSession
    import spark.implicits._
    val peeled = probeOrPersist(edgeFrame.select("src", "dst")) match {
      case Right(ie) =>
        // bounded driver state: identical peel — degree count per src
        // over the surviving multiset, keep both-endpoint survivors
        val alive = Array.fill(ie.m)(true)
        for (_ <- 1 to rounds) {
          val deg = new Array[Long](ie.n)
          var i = 0
          while (i < ie.m) { if (alive(i)) deg(ie.src(i)) += 1L; i += 1 }
          i = 0
          while (i < ie.m) {
            if (alive(i) &&
                (deg(ie.src(i)) < k || deg(ie.dst(i)) < k))
              alive(i) = false
            i += 1
          }
        }
        val deg = new Array[Long](ie.n)
        var i = 0
        while (i < ie.m) { if (alive(i)) deg(ie.src(i)) += 1L; i += 1 }
        (0 until ie.n).collect {
          case nd if deg(nd) > 0 => (ie.name(nd), deg(nd), deg(nd) >= k)
        }.toDF("node", "deg", "stable")
      case Left(edges0) => // persisted by the probe — round 1 peels it
        var edges = edges0
        for (_ <- 1 to rounds) {
          val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k).select("src")
          edges = edges
            .join(keep, Seq("src"))
            .join(keep.select(col("src").as("dst")), Seq("dst"))
            .select("src", "dst")
            .persistTracked()
        }
        edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg"),
            (col("deg") >= k).as("stable"))
    }
    peeled.orderBy("node")
  }

  /** One DuckDB peel round (replays the Spark round exactly). */
  private def coreRoundSql(t: Int, k: Int): String = {
    val prev = s"e${t - 1}"
    s"""k$t AS (SELECT src FROM $prev GROUP BY 1 HAVING count(*) >= $k),
       |e$t AS (SELECT e.src, e.dst FROM $prev e
       | JOIN k$t a ON e.src = a.src JOIN k$t b ON e.dst = b.src)""".stripMargin
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) on the bipartite
    * customer–supplier purchase graph: for a candidate customer pair,
    * score = Σ over shared suppliers of 1/ln(deg(supplier)) — rare
    * shared neighbors count more than hubs. Returns the top `k` scored
    * pairs (the "customers most likely to co-purchase next" readout).
    *
    * Scale posture — all-pairs-through-a-hub is the classic quadratic
    * trap (this corpus: Σ C(deg,2) = 172M candidate pairs at sf0.1
    * already; a 100 TB graph is hopeless). Standard mitigation is
    * neighbor-list truncation: each supplier's adjacency list is cut to
    * its `cap` md5-first customers (deterministic uniform sample, same
    * rerun/partitioning/engine invariance as q_sample_split), bounding
    * candidates at C(cap,2)·|suppliers| while SCORING keeps the TRUE
    * degree. One shuffle builds the distinct edge set (persisted), the
    * truncation is a partitioned window on it, the pair join is
    * co-partitioned on supp (bounded cap² fan-out per key), and the
    * degree frame joined for scoring is supplier-cardinality —
    * broadcast-class. Per-term 6dp decimal rounding makes the score sum
    * order-independent (the q_wasserstein_drift fold); ln runs on exact
    * integer degrees (cross-engine-safe per the float ledger).
    */
  def linkPredict(s: SparkSession, d: String, cap: Int = 64,
                  k: Int = 20): DataFrame = {
    import graft.CacheScope.TrackedDataset
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      .distinct()
      .persistTracked()
    val deg = e.groupBy("supp").agg(count(lit(1)).as("deg"))
    val byHash = Window.partitionBy("supp")
      .orderBy(md5(concat_ws(":", col("supp"), col("cust"))), col("cust"))
    val trunc = e.withColumn("rn", row_number().over(byHash))
      .filter(col("rn") <= cap).select("supp", "cust")
      .persistTracked()
    val pairs = trunc.as("a")
      .join(trunc.as("b"),
        col("a.supp") === col("b.supp") && col("a.cust") < col("b.cust"))
      .select(col("a.supp").as("supp"), col("a.cust").as("c1"),
        col("b.cust").as("c2"))
    val term = round(lit(1.0) / log(col("deg").cast("double")), 6)
      .cast(DecimalType(18, 6))
    pairs.join(broadcast(deg), Seq("supp"))
      .groupBy("c1", "c2")
      .agg(count(lit(1)).as("common"),
        sum(term).cast("double").as("aa_score"))
      .orderBy(desc("aa_score"), col("c1"), col("c2")).limit(k)
  }

  /** LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007), synchronous
    * variant with two determinism pins the async original lacks:
    * (1) ties break to the LEXICOGRAPHICALLY SMALLEST label (min over
    * a (−count, label) struct — one aggregate, no window sort), and
    * (2) each node votes for its OWN current label once (a self-loop),
    * which damps the 2-coloring oscillation synchronous LPA exhibits on
    * bipartite graphs like this customer↔supplier one. Bounded-round
    * contract (the q_kcore posture): exactly `rounds` updates; the
    * per-node `stable` flag (label unchanged in the final round)
    * exposes convergence honestly.
    *
    * Scale posture: per round ONE shuffle — edges ⋈ label frame on src
    * (label frame is node-cardinality, broadcast-class beside edges),
    * neighbor-label counts map-side combined, argmax as a second
    * aggregate on (node) — never a row_number window over the
    * edge-cardinality count frame. Nothing edge-cardinality persists
    * across rounds; beyond ~8 rounds add localCheckpoint every 4 (X12).
    */
  def labelProp(s: SparkSession, d: String, rounds: Int = 3): DataFrame =
    labelPropOnEdges(interactionEdges(s, d), rounds)

  /** The propagation itself, over any symmetrized (src, dst) frame. */
  def labelPropOnEdges(base: DataFrame, rounds: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    lpaRounds(base, rounds) match {
      case LpaDriver(ie, lab, prev) =>
        // the lab ⋈ prev stable join at node grain, on driver arrays
        (0 until ie.n).collect {
          case nd if lab(nd) >= 0 && prev(nd) >= 0 =>
            (ie.name(nd), ie.name(lab(nd)), lab(nd) == prev(nd))
        }.toDF("node", "label", "stable")
          .orderBy("node")
      case LpaFrames(lab, prev, _, _) =>
        lab.join(prev.select(col("node"), col("label").as("pl")),
            Seq("node"))
          .select(col("node"), col("label"),
            (col("label") === col("pl")).as("stable"))
          .orderBy("node")
    }
  }

  /** Past this many nodes a node-cardinality label/score frame stops
    * being broadcast-class (~10M strings ≈ 200 MB serialized) and the
    * per-round join hint must drop to a shuffle — the r11 ADVICE gate:
    * an unconditional broadcast OOMs at scale instead of degrading.
    */
  private[operators] val BroadcastNodeLimit = 10000000L

  /** LPA rounds result: either bounded driver state (edge index + label
    * arrays, −1 = unlabeled) or the distributed frames + node count.
    */
  private sealed trait LpaResult
  private final case class LpaDriver(ie: IndexedEdges, lab: Array[Int],
                                     prev: Array[Int]) extends LpaResult
  /** `edgesP` is the probe-persisted symmetrized edge frame — carried
    * so modularity's byC label attaches read the SAME cache the rounds
    * iterated on instead of re-deriving the corpus-sized edge build.
    */
  private final case class LpaFrames(lab: DataFrame, prev: DataFrame,
                                     nNodes: Long,
                                     edgesP: DataFrame) extends LpaResult

  /** The bare rounds — [[labelPropOnEdges]] derives the stable flag
    * from the (final, previous) pair; [[modularity]] consumes the final
    * labels (and, distributed, gates its broadcast attaches on the node
    * count).
    */
  private def lpaRounds(base: DataFrame, rounds: Int): LpaResult = {
    import graft.CacheScope.TrackedDataset
    val spark = base.sparkSession
    import spark.implicits._
    probeOrPersist(base.select("src", "dst")) match {
      case Right(ie) =>
        // bounded driver state: identical synchronous vote — each edge
        // (plus one self-loop per initial node) contributes src's
        // current label to dst; argmax = max count, ties to the
        // UTF-8-smallest label (utf8Rank = Spark's binary string order)
        val isSrc = new Array[Boolean](ie.n)
        var i = 0
        while (i < ie.m) { isSrc(ie.src(i)) = true; i += 1 }
        val rank = ie.utf8Rank
        var lab = Array.fill(ie.n)(-1)
        var j = 0
        while (j < ie.n) { if (isSrc(j)) lab(j) = j; j += 1 }
        var prev = lab
        val keys = new Array[Long](ie.m + ie.n)
        for (_ <- 1 to rounds) {
          prev = lab
          // votes as packed (dst << 32 | label) longs, sorted then
          // run-scanned — a hash map here measured 5 s/3 rounds on the
          // 1.17M-edge graph; sort+scan is ~10×
          var pos = 0
          i = 0
          while (i < ie.m) {
            val lb = lab(ie.src(i))
            if (lb >= 0) {
              keys(pos) = (ie.dst(i).toLong << 32) | lb.toLong
              pos += 1
            }
            i += 1
          }
          j = 0
          while (j < ie.n) {
            if (isSrc(j)) {
              val lb = lab(j)
              if (lb >= 0) {
                keys(pos) = (j.toLong << 32) | lb.toLong
                pos += 1
              }
            }
            j += 1
          }
          java.util.Arrays.sort(keys, 0, pos)
          val bestCnt = new Array[Long](ie.n)
          val bestLab = Array.fill(ie.n)(-1)
          var a = 0
          while (a < pos) {
            val key = keys(a)
            var b = a + 1
            while (b < pos && keys(b) == key) b += 1
            val c = (b - a).toLong
            val nd = (key >>> 32).toInt
            val lb = (key & 0xffffffffL).toInt
            if (bestLab(nd) < 0 || c > bestCnt(nd) ||
                (c == bestCnt(nd) && rank(lb) < rank(bestLab(nd)))) {
              bestCnt(nd) = c; bestLab(nd) = lb
            }
            a = b
          }
          lab = bestLab
        }
        LpaDriver(ie, lab, prev)
      case Left(baseP) => // persisted by the probe
        val nodes = baseP.select(col("src").as("node")).distinct()
          .persistTracked()
        val nNodes = nodes.count()
        // label frame is node-cardinality — broadcast keeps every round a
        // map-side join instead of re-shuffling the edge frame per round;
        // past BroadcastNodeLimit the hint drops (shuffle join) instead
        // of OOMing the driver (r11 ADVICE gate)
        def hint(df: DataFrame): DataFrame =
          if (nNodes <= BroadcastNodeLimit) broadcast(df) else df
        // self-loop per node = the node's own vote for its current label
        val edges = baseP.union(
          nodes.select(col("node").as("src"), col("node").as("dst")))
          .persistTracked()
        var lab = nodes.select(col("node"), col("node").as("label"))
        var prev = lab
        // persist each round's label frame: it feeds the next round AND
        // the final stable-flag join (prev), so unpersisted lineage
        // re-executes the prefix per consumer (the kcore 3^rounds lesson)
        for (_ <- 1 to rounds) {
          prev = lab
          val cnt = edges
            .join(hint(lab.select(col("node").as("src"), col("label"))),
              Seq("src"))
            .groupBy(col("dst").as("node"), col("label"))
            .agg(count(lit(1)).as("cnt"))
          lab = cnt.groupBy("node")
            .agg(min(struct(negate(col("cnt")).as("nc"),
              col("label").as("label"))).as("b"))
            .select(col("node"), col("b.label").as("label"))
            .persistTracked()
        }
        LpaFrames(lab, prev, nNodes, baseP)
    }
  }

  /** One DuckDB LPA round (replays the Spark round exactly; the
    * row_number tie-break (cnt DESC, label ASC) is order-equivalent to
    * Spark's min((−cnt, label)) struct).
    */
  /** The LPA replay + move-phase CTE chain shared by the
    * q_louvain_move and q_louvain_coarse oracles: everything through
    * `best` (per node, the max-gain defection candidate), plus `sym`
    * and `l3` for the readouts.
    */
  private lazy val louvainMoveCtesSql: String = {
    val rounds = (1 to 3).map(lpaRoundSql).mkString(",\n")
    s"""h AS (
       | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
       | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT DISTINCT src AS node FROM
       | (SELECT src FROM h UNION ALL SELECT dst FROM h) t(src)),
       |edges AS (
       | SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h
       | UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds,
       |sym AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |        FROM sym GROUP BY 1),
       |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),
       |stot AS (
       | SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS stot
       | FROM l3 l JOIN deg d ON l.node = d.node GROUP BY 1),
       |kf AS (
       | SELECT sym.src AS node, a.label AS ls, b.label AS ld,
       |  CAST(count(*) AS BIGINT) AS kib
       | FROM sym JOIN l3 a ON sym.src = a.node
       |  JOIN l3 b ON sym.dst = b.node
       | GROUP BY 1, 2, 3),
       |kia AS (SELECT node, kib AS kia FROM kf WHERE ls = ld),
       |cand AS (
       | SELECT kf.node, kf.ld,
       |  (SELECT m2 FROM m2) * (kf.kib - COALESCE(kia.kia, 0))
       |   - d.deg * (sb.stot - sa.stot + d.deg) AS gain
       | FROM kf
       | LEFT JOIN kia ON kf.node = kia.node
       | JOIN deg d ON kf.node = d.node
       | JOIN stot sb ON kf.ld = sb.label
       | JOIN stot sa ON kf.ls = sa.label
       | WHERE kf.ld <> kf.ls),
       |best AS (
       | SELECT node, ld, gain FROM (
       |  SELECT node, ld, gain, row_number() OVER (
       |   PARTITION BY node ORDER BY gain DESC, ld ASC) AS rn
       |  FROM cand) WHERE rn = 1)""".stripMargin
  }

  private def lpaRoundSql(t: Int): String = {
    val prev = s"l${t - 1}"
    s"""l$t AS (
       | SELECT node, label FROM (
       |  SELECT e.dst AS node, p.label, count(*) AS cnt,
       |   row_number() OVER (PARTITION BY e.dst
       |    ORDER BY count(*) DESC, p.label ASC) AS rn
       |  FROM edges e JOIN $prev p ON e.src = p.node
       |  GROUP BY e.dst, p.label)
       | WHERE rn = 1)""".stripMargin
  }

  /** DEGREE ASSORTATIVITY (Newman 2002): Pearson correlation of
    * endpoint degrees over the symmetrized edge list — do high-degree
    * entities interact with each other (r > 0, social-network-like) or
    * with the periphery (r < 0, hub-and-spoke)? The one-scalar
    * structure readout that decides whether degree-targeted sampling /
    * salting is worth it before running heavier graph ops. Exactness:
    * every moment (Σx, Σxy, Σx² over edges) is an exact integer — the
    * whole correlation is ONE double expression from Longs. Scale: a
    * degree count plus two node-cardinality joins back onto edges
    * (broadcast-class beside the edge list), then a scalar aggregate.
    */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val e = interactionEdges(s, d).persistTracked()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).persistTracked()
    val dx = deg.select(col("src"), col("deg").as("x"))
    val dy = deg.select(col("src").as("dst"), col("deg").as("y"))
    val mo = e.join(dx, Seq("src")).join(dy, Seq("dst"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    def db(c: String) = col(c).cast("double")
    val num = db("sxy") / db("m") - db("sx") / db("m") * (db("sy") / db("m"))
    val den = sqrt((db("sxx") / db("m") - db("sx") / db("m") *
        (db("sx") / db("m"))) *
      (db("syy") / db("m") - db("sy") / db("m") * (db("sy") / db("m"))))
    mo.select(col("m").as("m_edges"),
      when(den > 0, round(num / den, 6)).as("assortativity"))
  }

  /** MULTI-SOURCE BFS landmark distances (the Pregel frontier-expansion
    * shape none of the other graph ops exercise — PageRank/HITS/LPA pass
    * full-frame messages every round; BFS's working set is the FRONTIER,
    * which shrinks as the graph saturates). Landmarks are the `nLm`
    * smallest supplier nodes (deterministic, no driver collect); output
    * is the per-landmark distance histogram — the distance-oracle build
    * step of landmark-based shortest-path estimation (Potamias et al.
    * 2009) and the reachability probe for graph-radius sanity checks.
    *
    * Exact-round contract: exactly `hops` expansions; nodes not reached
    * within `hops` are absent (honest truncation — the q_kcore posture).
    *
    * Scale posture: per round ONE shuffle (edges ⋈ frontier on src —
    * frontier ≤ node-cardinality and usually far smaller) plus a
    * left-anti against the visited set (co-partitioned on (node, lm));
    * the visited set grows to (reached × landmarks) rows, node-class,
    * never edge-class. Frontier and visited persist per round (they fan
    * into the next round twice — the kcore 3^rounds lesson). Landmark
    * count multiplies state linearly — the k knob.
    */
  def bfsLandmarks(s: SparkSession, d: String, hops: Int = 3,
                   nLm: Int = 3): DataFrame =
    // no persist here: the probe reads the frame once (fast path never
    // reads it again); the distributed fallback persists internally
    bfsOnEdges(interactionEdges(s, d),
      Tables.supplier(s, d).orderBy("s_suppkey").limit(nLm)
        .select(concat(lit("s:"), col("s_suppkey")).as("node")), hops)

  /** The expansion itself, over any symmetrized (src, dst) frame. */
  def bfsOnEdges(edges: DataFrame, seeds: DataFrame, hops: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val spark = edges.sparkSession
    import spark.implicits._
    val hist = probeOrPersist(edges.select("src", "dst")) match {
      case Right(ie) =>
        // bounded driver state: per landmark, classic frontier BFS over
        // a CSR adjacency — dist-marking makes each hop's frontier
        // distinct and already-settled nodes skipped, exactly the
        // distinct + left-anti of the distributed round. A seed absent
        // from the graph still contributes its own dist-0 row (the
        // seeds frame seeds `dist` unconditionally).
        val starts = new Array[Int](ie.n + 1)
        var i = 0
        while (i < ie.m) { starts(ie.src(i) + 1) += 1; i += 1 }
        var j = 1
        while (j <= ie.n) { starts(j) += starts(j - 1); j += 1 }
        val adj = new Array[Int](ie.m)
        val fill = starts.clone()
        i = 0
        while (i < ie.m) {
          val s0 = ie.src(i); adj(fill(s0)) = ie.dst(i); fill(s0) += 1
          i += 1
        }
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(String, Int, Long)]
        seeds.select(col("node")).collect().map(_.getString(0))
          .foreach { lmName =>
            val counts = new Array[Long](hops + 1)
            counts(0) = 1L // the seed's own dist-0 row
            val sid = ie.idOrNeg(lmName)
            if (sid >= 0) {
              val dist = Array.fill(ie.n)(-1)
              dist(sid) = 0
              var frontier = Array(sid)
              var t = 1
              while (t <= hops && frontier.nonEmpty) {
                val next = scala.collection.mutable.ArrayBuffer.empty[Int]
                frontier.foreach { u =>
                  var k = starts(u)
                  while (k < starts(u + 1)) {
                    val vtx = adj(k)
                    if (dist(vtx) < 0) { dist(vtx) = t; next += vtx }
                    k += 1
                  }
                }
                counts(t) = next.length.toLong
                frontier = next.toArray
                t += 1
              }
            }
            var t = 0
            while (t <= hops) {
              if (counts(t) > 0) rows += ((lmName, t, counts(t)))
              t += 1
            }
          }
        rows.toSeq.toDF("lm", "dist", "nodes")
      case Left(edgesP) => // persisted by the probe — each hop reads it
        var dist = seeds
          .select(col("node"), col("node").as("lm"), lit(0).as("dist"))
          .persistTracked()
        var frontier = dist
        for (t <- 1 to hops) {
          val next = edgesP
            .join(frontier.select(col("node").as("src"), col("lm")),
              Seq("src"))
            .select(col("dst").as("node"), col("lm")).distinct()
            .join(dist.select("node", "lm"), Seq("node", "lm"), "left_anti")
            .select(col("node"), col("lm"), lit(t).as("dist"))
            .persistTracked()
          dist = dist.union(next).persistTracked()
          frontier = next
        }
        dist.groupBy("lm", "dist").agg(count(lit(1)).as("nodes"))
    }
    hist.orderBy("lm", "dist")
  }

  /** PERSONALIZED PAGERANK (Page et al. 1999 §6; the PPR of Jeh &
    * Widom 2002) from a seed set — q_pagerank_entity ranks GLOBAL
    * centrality; PPR teleports back to the SEEDS, so mass concentrates
    * in their neighborhood: the "related entities" / graph-local
    * recommendation primitive. Seeds = the q_bfs_landmarks suppliers
    * (the two queries compose: BFS gives reach, PPR gives affinity).
    *
    * Same fixed-point integer contract as q_pagerank_entity (SCALE
    * mass units, every op integer div, DuckDB replays bit-for-bit);
    * only the teleport vector changes — 15% of mass div nSeeds to each
    * seed, zero elsewhere. Same scale posture too: one shuffle per
    * round, rank frame node-cardinality, one driver scalar (seed
    * count); nothing edge-cardinality persists.
    */
  def pprOnEdges(edgeFrame: DataFrame, seeds: DataFrame, iters: Int,
                 k: Int): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val spark = edgeFrame.sparkSession
    import spark.implicits._
    val ranked = probeOrPersist(edgeFrame.select("src", "dst")) match {
      case Right(ie) =>
        // bounded driver state: the q_pagerank fast path with the seed
        // teleport vector; the seed frame is nSeeds-bounded by contract
        val seedRows = seeds.select(col("node")).collect()
        val nSeeds = seedRows.length.toLong
        val seedMass = if (nSeeds == 0) 0L else SCALE / nSeeds
        val teleport = (15L * seedMass) / 100L
        val isSeed = new Array[Boolean](ie.n)
        seedRows.foreach { r =>
          val id = ie.idOrNeg(r.getString(0))
          if (id >= 0) isSeed(id) = true
        }
        val deg = new Array[Long](ie.n)
        var i = 0
        while (i < ie.m) { deg(ie.src(i)) += 1L; i += 1 }
        var p = new Array[Long](ie.n)
        var j = 0
        while (j < ie.n) {
          if (deg(j) > 0 && isSeed(j)) p(j) = seedMass
          j += 1
        }
        for (_ <- 1 to iters) {
          val sums = new Array[Long](ie.n)
          i = 0
          while (i < ie.m) {
            val s0 = ie.src(i)
            sums(ie.dst(i)) += p(s0) / deg(s0)
            i += 1
          }
          val np = new Array[Long](ie.n)
          j = 0
          while (j < ie.n) {
            if (deg(j) > 0)
              np(j) = (if (isSeed(j)) teleport else 0L) +
                (85L * sums(j)) / 100L
            j += 1
          }
          p = np
        }
        (0 until ie.n).collect {
          case nd if deg(nd) > 0 => (ie.name(nd), p(nd))
        }.toDF("node", "p")
      case Left(edges) => // persisted by the probe
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg"))
          .join(seeds.select(col("node"), lit(true).as("is_seed")),
            Seq("node"), "left")
          .na.fill(false, Seq("is_seed"))
          .persistTracked()
        val nSeeds = seeds.count() // one driver scalar (q_pagerank posture)
        val seedMass = if (nSeeds == 0) 0L else SCALE / nSeeds
        val teleport = (15L * seedMass) / 100L
        var p = deg.select(col("node"), col("deg"), col("is_seed"),
          when(col("is_seed"), seedMass).otherwise(0L).as("p"))
        for (_ <- 1 to iters) {
          val sums = edges
            .join(p.select(col("node").as("src"), expr("p div deg").as("c")),
              Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("s"))
          p = deg.join(sums, Seq("node"), "left")
            .select(col("node"), col("deg"), col("is_seed"),
              (when(col("is_seed"), teleport).otherwise(0L) +
                expr("(85 * coalesce(s, 0)) div 100")).as("p"))
        }
        p.select(col("node"), col("p"))
    }
    ranked.select(col("node"), col("p").as("ppr_mass"))
      .orderBy(desc("ppr_mass"), asc("node")).limit(k)
  }

  def ppr(s: SparkSession, d: String, iters: Int = 3, k: Int = 10,
          nSeeds: Int = 3): DataFrame =
    pprOnEdges(interactionEdges(s, d),
      Tables.supplier(s, d).orderBy("s_suppkey").limit(nSeeds)
        .select(concat(lit("s:"), col("s_suppkey")).as("node")), iters, k)

  /** NEWMAN MODULARITY (Newman & Girvan 2004 eq. 5) of the label-
    * propagation partition: Q = Σ_c [ in_c/2m − (D_c/2m)² ] — how much
    * denser each community is than the configuration-model expectation.
    * The readout that makes q_label_prop actionable: Q near 0 says the
    * "communities" are noise; Q ≫ 0 justifies community-partitioned
    * layouts (co-locating a community's rows before neighborhood joins).
    * Per-community q_term is reported so the weak communities are
    * visible, with the partition-level Q broadcast onto every row.
    *
    * Exactness: over the symmetrized edge list, |E| = 2m, per-community
    * symmetrized-internal-edge counts (= 2·in_c) and degree sums are
    * exact Longs; each q_term is one double expression rounded at 6dp,
    * and Q folds those 6dp DECIMAL terms exactly.
    *
    * Scale posture: labels are node-cardinality (broadcast-class beside
    * edges); attaching both endpoints' labels is the standard two-join
    * pass, then everything collapses to a community-cardinality frame.
    * Nothing edge-cardinality persists.
    */
  def modularity(s: SparkSession, d: String, rounds: Int = 3): DataFrame = {
    import graft.CacheScope.TrackedDataset
    import s.implicits._
    val edges = interactionEdges(s, d)
    // Both paths produce the same (community, n_nodes, deg_sum, in2, m2)
    // frame; the q_term/q_total expressions below are SHARED so the
    // released doubles cannot diverge across the threshold.
    val byC = lpaRounds(edges, rounds) match {
      case LpaDriver(ie, lab, _) =>
        // driver aggregation: deg_sum/in2/n_nodes/m2 are exact integer
        // folds over the already-collected edge arrays — the whole
        // community frame is label-cardinality driver state (the probe
        // already bounded the graph)
        val degSum = new Array[Long](ie.n)
        val in2 = new Array[Long](ie.n)
        var i = 0
        while (i < ie.m) {
          val ls = lab(ie.src(i)); val ld = lab(ie.dst(i))
          if (ls >= 0 && ld >= 0) {
            degSum(ls) += 1L
            if (ls == ld) in2(ls) += 1L
          }
          i += 1
        }
        val nN = new Array[Long](ie.n)
        var j = 0
        while (j < ie.n) { if (lab(j) >= 0) nN(lab(j)) += 1L; j += 1 }
        var m2v = 0L
        j = 0
        while (j < ie.n) { m2v += degSum(j); j += 1 }
        // communities surface iff they own ≥1 src-labeled edge — the
        // distributed byC ⋈ nNodes inner join's row set (a src with
        // label c is itself a labeled node, so deg_sum>0 ⟹ n_nodes>0)
        (0 until ie.n).collect {
          case c if degSum(c) > 0 =>
            (ie.name(c), nN(c), degSum(c), in2(c), m2v)
        }.toDF("community", "n_nodes", "deg_sum", "in2", "m2")
      case LpaFrames(lab, _, nGraphNodes, edgesP) =>
        // collapse the edge-cardinality label-attach to the community
        // frame ONCE and persist it: byC feeds both the m2 scalar
        // (Σ deg_sum) and the terms, so nothing edge-sized is ever
        // recomputed (first bench cut: the unpersisted el ran the
        // 3-round LPA chain per action). Both label attaches broadcast
        // the node-cardinality frame — gated on BroadcastNodeLimit (r11
        // ADVICE: past broadcast class, degrade to a shuffle join
        // instead of OOMing). edgesP is the cache the rounds iterated
        // on (probe-persisted) — no re-derived edge build here (r12
        // ADVICE recompute finding).
        def hint(df: DataFrame): DataFrame =
          if (nGraphNodes <= BroadcastNodeLimit) broadcast(df) else df
        val agg = edgesP
          .join(hint(lab.select(col("node").as("src"),
            col("label").as("ls"))), Seq("src"))
          .join(hint(lab.select(col("node").as("dst"),
            col("label").as("ld"))), Seq("dst"))
          .groupBy(col("ls").as("community"))
          .agg(count(lit(1)).as("deg_sum"),
            sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).as("in2"))
          .persistTracked()
        val nNodes = lab.groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_nodes"))
        // 2m = Σ_c deg_sum — from the community frame, no 2nd edge pass
        val m2 = agg.agg(sum(col("deg_sum")).as("m2"))
        agg.join(nNodes, Seq("community")).crossJoin(broadcast(m2))
          .select(col("community"), col("n_nodes"), col("deg_sum"),
            col("in2"), col("m2"))
    }
    val withTerm = byC
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        (col("in2") / 2).cast("long").as("internal_edges"),
        round(col("in2").cast("double") / col("m2") -
          pow(col("deg_sum").cast("double") / col("m2"), 2), 6)
          .cast(DecimalType(18, 6)).as("q_term"))
      .persistTracked()
    val qTot = withTerm.agg(sum(col("q_term")).cast("double").as("q_total"))
    withTerm.crossJoin(broadcast(qTot))
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        col("internal_edges"), col("q_term").cast("double").as("q_term"),
        col("q_total"))
      .orderBy("community")
  }

  /** ONE LOUVAIN MOVE PHASE (Blondel et al. 2008 §2, the local-move
    * step) on the LPA partition: for every node i in community A, the
    * best defection target is the neighbor community B maximizing the
    * modularity gain of moving i from A to B,
    *   ΔQ = [k_{i,B} − k_{i,A\i}]/m − k_i·[Σtot(B) − Σtot(A) + k_i]/(2m²),
    * and i moves iff the best gain is positive. This is the modularity
    * OPTIMIZATION step the suite's q_label_prop (partition) and
    * q_modularity (measurement) pair lacked — the readout shows which
    * nodes the LPA partition misplaces and by how much.
    *
    * Exactness: gains are released ×2m² — gain_num =
    * 2m·(k_{i,B} − k_{i,A}) − k_i·(Σtot(B) − Σtot(A) + k_i) with
    * 2m = |symmetrized edges| — so every comparison and the released
    * number are exact integer arithmetic on degree/count Longs; DuckDB
    * replays bit-for-bit. Long is exact to ~3·10⁹ symmetrized edges
    * (2m·k < 2⁶³); past that the products move to DECIMAL(38,0) — the
    * knob, not the shape (the q_hits S note). Ties break to the
    * UTF-8-smallest target community; the SYNCHRONOUS variant (every
    * node scored against the same pre-move partition) keeps the phase
    * deterministic and engine-replayable where the sequential original
    * is scan-order-dependent.
    *
    * Scale posture: rides lpaRounds' probe contract (bounded driver
    * arrays below DriverEdgeLimit via the packed sort+scan, distributed
    * past it). Distributed, everything is the modularity shape — two
    * gated-broadcast label attaches on the probe-persisted edges, then
    * (node × neighbor-community)-bounded frames; nothing
    * edge-cardinality persists beyond the probe cache.
    */
  def louvainMove(s: SparkSession, d: String, rounds: Int = 3): DataFrame =
    louvainMoveOnEdges(interactionEdges(s, d), rounds)

  /** The move phase over any symmetrized (src, dst) frame. */
  def louvainMoveOnEdges(base: DataFrame, rounds: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val moved = lpaRounds(base, rounds) match {
      case LpaDriver(ie, lab, _) =>
        val (targetArr, gainArr) = moveDriver(ie, lab)
        (0 until ie.n).collect {
          case nd if lab(nd) >= 0 =>
            val mv = targetArr(nd) >= 0 && gainArr(nd) > 0L
            (ie.name(nd), ie.name(lab(nd)),
              ie.name(if (mv) targetArr(nd) else lab(nd)), mv, gainArr(nd))
        }.toDF("node", "old_label", "new_label", "moved", "gain_num")
      case LpaFrames(lab0, _, nGraphNodes, edgesP) =>
        moveFrames(lab0, edgesP, nGraphNodes)
    }
    moved.orderBy("node")
  }

  /** Driver-array move phase: per node the best defection target
    * (−1 if the node has no out-of-community neighbor) and its exact
    * ×2m² integer gain. Shared by [[louvainMoveOnEdges]] (per-node
    * readout) and [[louvainCoarseOnEdges]] (phase-2 coarsening).
    */
  private def moveDriver(ie: IndexedEdges,
                         lab: Array[Int]): (Array[Int], Array[Long]) = {
    val m2v = ie.m.toLong
    val deg = new Array[Long](ie.n)
    var i = 0
    while (i < ie.m) { deg(ie.src(i)) += 1L; i += 1 }
    val stot = new Array[Long](ie.n)
    var j = 0
    while (j < ie.n) { if (lab(j) >= 0) stot(lab(j)) += deg(j); j += 1 }
    val rank = ie.utf8Rank
    // (src, dst-label) counts via the packed sort+scan (the LPA vote
    // idiom — a per-node HashMap here measured seconds on the sf0.1
    // graph, the array form is milliseconds)
    val keys = new Array[Long](ie.m)
    var pos = 0
    i = 0
    while (i < ie.m) {
      val ld = lab(ie.dst(i))
      if (lab(ie.src(i)) >= 0 && ld >= 0) {
        keys(pos) = (ie.src(i).toLong << 32) | ld.toLong
        pos += 1
      }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, pos)
    val gainArr = new Array[Long](ie.n)
    val targetArr = Array.fill(ie.n)(-1)
    var a = 0
    while (a < pos) {
      val srcId = (keys(a) >>> 32).toInt
      var b = a
      while (b < pos && (keys(b) >>> 32).toInt == srcId) b += 1
      val labA = lab(srcId)
      // pass 1 over the segment: k_{i,A} (edges into own community)
      var kA = 0L
      var x = a
      while (x < b) {
        if ((keys(x) & 0xffffffffL).toInt == labA) kA += 1L
        x += 1
      }
      // pass 2: per candidate community run, the exact integer gain
      var bg = Long.MinValue
      var bl = -1
      x = a
      while (x < b) {
        val lb = (keys(x) & 0xffffffffL).toInt
        var y = x + 1
        while (y < b && (keys(y) & 0xffffffffL).toInt == lb) y += 1
        if (lb != labA) {
          val kib = (y - x).toLong
          val g = m2v * (kib - kA) -
            deg(srcId) * (stot(lb) - stot(labA) + deg(srcId))
          if (bl < 0 || g > bg || (g == bg && rank(lb) < rank(bl))) {
            bg = g; bl = lb
          }
        }
        x = y
      }
      if (bl >= 0) { gainArr(srcId) = bg; targetArr(srcId) = bl }
      a = b
    }
    (targetArr, gainArr)
  }

  /** Distributed move phase over the probe-persisted edges + LPA label
    * frame: (node, old_label, new_label, moved, gain_num). The shared
    * at-scale twin of [[moveDriver]].
    */
  private def moveFrames(lab0: DataFrame, edgesP: DataFrame,
                         nGraphNodes: Long): DataFrame = {
    import graft.CacheScope.TrackedDataset
    def hint(df: DataFrame): DataFrame =
      if (nGraphNodes <= BroadcastNodeLimit) broadcast(df) else df
    val el = edgesP
      .join(hint(lab0.select(col("node").as("src"),
        col("label").as("ls"))), Seq("src"))
      .join(hint(lab0.select(col("node").as("dst"),
        col("label").as("ld"))), Seq("dst"))
    // (node × neighbor-community)-bounded from here down
    val kf = el.groupBy(col("src").as("node"), col("ls"), col("ld"))
      .agg(count(lit(1)).as("kib"))
      .persistTracked()
    val deg = edgesP.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .persistTracked()
    val stot = lab0.join(hint(deg), Seq("node"))
      .groupBy("label").agg(sum(col("deg")).as("stot"))
    val m2 = edgesP.agg(count(lit(1)).as("m2"))
    val kia = kf.filter(col("ls") === col("ld"))
      .select(col("node"), col("kib").as("kia"))
    val cand = kf.filter(col("ls") =!= col("ld"))
      .join(kia, Seq("node"), "left")
      .join(deg, Seq("node"))
      .join(hint(stot.select(col("label").as("ld"),
        col("stot").as("stot_b"))), Seq("ld"))
      .join(hint(stot.select(col("label").as("ls"),
        col("stot").as("stot_a"))), Seq("ls"))
      .crossJoin(broadcast(m2))
      .select(col("node"), col("ld"),
        (col("m2") * (col("kib") - coalesce(col("kia"), lit(0L))) -
          col("deg") * (col("stot_b") - col("stot_a") + col("deg")))
          .as("gain"))
    val best = cand.groupBy("node")
      .agg(min(struct(negate(col("gain")).as("ng"),
        col("ld").as("ld"))).as("b"))
      .select(col("node"), col("b.ld").as("cand_label"),
        negate(col("b.ng")).as("gain"))
    lab0.join(best, Seq("node"), "left")
      .select(col("node"), col("label").as("old_label"),
        when(coalesce(col("gain"), lit(0L)) > 0, col("cand_label"))
          .otherwise(col("label")).as("new_label"),
        (coalesce(col("gain"), lit(0L)) > 0).as("moved"),
        coalesce(col("gain"), lit(0L)).as("gain_num"))
  }

  /** LOUVAIN PHASE 2 — COARSENING (Blondel et al. 2008 §2): collapse
    * the post-move partition to the community-level weighted graph —
    * node = community, edge weight = count of symmetrized node-edges
    * between the two communities (self-edges = 2× the community's
    * internal edge count, the convention that keeps degree sums exact
    * under further passes). This is the graph the next Louvain pass
    * would run on; released directly, it is the "how coupled are the
    * communities" readout — heavy off-diagonal mass says the partition
    * cuts real structure (and motivates community-partitioned layouts
    * only for the well-separated blocks).
    *
    * Exactness: pure integer edge counts over the move-phase labels
    * (themselves exact — [[louvainMoveOnEdges]]). Scale posture: one
    * (gated-broadcast) two-join label attach on the probe-persisted
    * edges, then a (community × community)-bounded aggregate; the move
    * phase itself rides the lpaRounds probe contract.
    */
  def louvainCoarse(s: SparkSession, d: String, rounds: Int = 3): DataFrame =
    louvainCoarseOnEdges(interactionEdges(s, d), rounds)

  /** The coarsening over any symmetrized (src, dst) frame. */
  def louvainCoarseOnEdges(base: DataFrame, rounds: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val coarse = lpaRounds(base, rounds) match {
      case LpaDriver(ie, lab, _) =>
        val (targetArr, gainArr) = moveDriver(ie, lab)
        val newLab = Array.tabulate(ie.n) { nd =>
          if (targetArr(nd) >= 0 && gainArr(nd) > 0L) targetArr(nd)
          else lab(nd)
        }
        // (src-community, dst-community) counts — the same packed
        // sort+scan, now over community ids
        val keys = new Array[Long](ie.m)
        var pos = 0
        var i = 0
        while (i < ie.m) {
          val ca = newLab(ie.src(i)); val cb = newLab(ie.dst(i))
          if (ca >= 0 && cb >= 0) {
            keys(pos) = (ca.toLong << 32) | cb.toLong
            pos += 1
          }
          i += 1
        }
        java.util.Arrays.sort(keys, 0, pos)
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var a = 0
        while (a < pos) {
          val key = keys(a)
          var b = a + 1
          while (b < pos && keys(b) == key) b += 1
          rows += ((ie.name((key >>> 32).toInt),
            ie.name((key & 0xffffffffL).toInt), (b - a).toLong))
          a = b
        }
        rows.toSeq.toDF("community_a", "community_b", "w")
      case LpaFrames(lab0, _, nGraphNodes, edgesP) =>
        def hint(df: DataFrame): DataFrame =
          if (nGraphNodes <= BroadcastNodeLimit) broadcast(df) else df
        val mv = moveFrames(lab0, edgesP, nGraphNodes)
          .select(col("node"), col("new_label"))
        edgesP
          .join(hint(mv.select(col("node").as("src"),
            col("new_label").as("community_a"))), Seq("src"))
          .join(hint(mv.select(col("node").as("dst"),
            col("new_label").as("community_b"))), Seq("dst"))
          .groupBy("community_a", "community_b")
          .agg(count(lit(1)).as("w"))
    }
    coarse.orderBy("community_a", "community_b")
  }

  /** COMMUNITY CONDUCTANCE (the cut-quality readout of Kannan, Vempala
    * & Vetta 2004; Leskovec et al. 2009's NCP plots made it the
    * standard): per LPA community C,
    *   φ(C) = cut(C) / min(vol(C), 2m − vol(C)),
    * with cut = boundary edge count and vol = Σ degree — how leaky the
    * community is, the complement of q_modularity's density view (a
    * community can score high Q yet leak badly when its degree mass
    * hides boundary edges). Released in exact integer ppm:
    * 10⁶·cut div min(vol, 2m−vol), every operand an exact Long off the
    * symmetrized edge list (cut and vol are directed-edge counts at
    * community grain). A community owning every edge has denominator 0
    * and cut 0 — released as 0, both engines via the same guard.
    *
    * Scale posture: the q_modularity shape exactly — two
    * gated-broadcast label attaches on the probe-persisted edges, one
    * community-grain aggregate, one scalar 2m; bounded driver arrays
    * below the probe limit.
    */
  def conductance(s: SparkSession, d: String, rounds: Int = 3): DataFrame =
    conductanceOnEdges(interactionEdges(s, d), rounds)

  /** The per-community conductance over any symmetrized (src, dst)
    * frame.
    */
  def conductanceOnEdges(base: DataFrame, rounds: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val byC = lpaRounds(base, rounds) match {
      case LpaDriver(ie, lab, _) =>
        val vol = new Array[Long](ie.n)
        val cut = new Array[Long](ie.n)
        var i = 0
        while (i < ie.m) {
          val ls = lab(ie.src(i)); val ld = lab(ie.dst(i))
          if (ls >= 0 && ld >= 0) {
            vol(ls) += 1L
            if (ls != ld) cut(ls) += 1L
          }
          i += 1
        }
        val nN = new Array[Long](ie.n)
        var j = 0
        while (j < ie.n) { if (lab(j) >= 0) nN(lab(j)) += 1L; j += 1 }
        var m2v = 0L
        j = 0
        while (j < ie.n) { m2v += vol(j); j += 1 }
        (0 until ie.n).collect {
          case c if vol(c) > 0 =>
            val denom = math.min(vol(c), m2v - vol(c))
            val ppm = if (denom == 0) 0L else (1000000L * cut(c)) / denom
            (ie.name(c), nN(c), vol(c), cut(c), ppm)
        }.toDF("community", "n_nodes", "vol", "cut", "conductance_ppm")
      case LpaFrames(lab0, _, nGraphNodes, edgesP) =>
        import graft.CacheScope.TrackedDataset
        def hint(df: DataFrame): DataFrame =
          if (nGraphNodes <= BroadcastNodeLimit) broadcast(df) else df
        val agg = edgesP
          .join(hint(lab0.select(col("node").as("src"),
            col("label").as("ls"))), Seq("src"))
          .join(hint(lab0.select(col("node").as("dst"),
            col("label").as("ld"))), Seq("dst"))
          .groupBy(col("ls").as("community"))
          .agg(count(lit(1)).as("vol"),
            sum(when(col("ls") =!= col("ld"), 1L).otherwise(0L)).as("cut"))
          .persistTracked()
        val nNodes = lab0.groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_nodes"))
        val m2 = agg.agg(sum(col("vol")).as("m2"))
        agg.join(nNodes, Seq("community")).crossJoin(broadcast(m2))
          .select(col("community"), col("n_nodes"), col("vol"), col("cut"),
            // DECIMAL(38,0) before the ×10⁶ (the containment_ppm
            // idiom): a 100 TB graph's cut counts overflow Long×10⁶
            when(least(col("vol"), col("m2") - col("vol")) === 0, 0L)
              .otherwise(expr(
                "CAST(CAST(cut AS DECIMAL(38,0)) * 1000000" +
                  " div least(vol, m2 - vol) AS BIGINT)"))
              .as("conductance_ppm"))
    }
    byC.orderBy("community")
  }

  /** EFFECTIVE-DIAMETER readout (the HyperANF/ANF summary of Palmer et
    * al. 2002 / Boldi et al. 2011, here exact over the landmark BFS):
    * per landmark, the 90th-percentile reach distance — the "how far is
    * everything, really" number that max-distance overstates on graphs
    * with a long thin tail. Rides the q_bfs_landmarks expansion
    * unchanged; the only additions are a per-landmark cumulative over
    * the ≤(hops+1)-row distance histogram and an integer 90% cut
    * (cum·10 ≥ tot·9 — no float percentile).
    */
  def effDiameter(s: SparkSession, d: String, hops: Int = 3,
                  nLm: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = bfsLandmarks(s, d, hops, nLm) // (lm, dist, nodes)
    val w = Window.partitionBy("lm").orderBy("dist")
    val cum = dist.withColumn("cum", sum(col("nodes")).over(w))
    val per = dist.groupBy("lm")
      .agg(sum(col("nodes")).as("n_reached"), max(col("dist")).as("max_dist"))
    cum.join(per, Seq("lm"))
      .filter(col("cum") * 10L >= col("n_reached") * 9L)
      .groupBy("lm")
      .agg(min(col("dist")).as("eff_d90"),
        max(col("n_reached")).as("n_reached"),
        max(col("max_dist")).as("max_dist"))
      .select(col("lm"), col("n_reached"), col("max_dist"), col("eff_d90"))
      .orderBy("lm")
  }

  /** One DuckDB PPR iteration (seed-vector teleport; otherwise the
    * q_pagerank_entity round verbatim).
    */
  private def pprIterSql(t: Int): String = {
    val prev = s"p${t - 1}"
    s"""p$t AS (
       | SELECT d.node, d.deg, d.is_seed,
       |  (CASE WHEN d.is_seed
       |    THEN (SELECT (15 * (1000000000000 // n)) // 100 FROM ns)
       |    ELSE 0 END)
       |   + CAST((85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS p
       | FROM d2 d LEFT JOIN (
       |  SELECT e.dst AS node, sum(p.p // p.deg) AS s
       |  FROM edges e JOIN $prev p ON e.src = p.node GROUP BY 1) s
       | ON d.node = s.node)""".stripMargin
  }

  def entries: Seq[Q] = Seq(
    // Modularity Q of the LPA communities (per-community terms + total).
    Q("q_modularity", { (s, d) => modularity(s, d) }, {
      val rounds = (1 to 3).map(lpaRoundSql).mkString(",\n")
      // LPA replay verbatim (self-loop edges for voting), then Q over
      // the PLAIN symmetrized edges (no self-loops)
      s"""WITH h AS (
         | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT DISTINCT src AS node FROM
         | (SELECT src FROM h UNION ALL SELECT dst FROM h) t(src)),
         |edges AS (
         | SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h
         | UNION ALL SELECT node, node FROM nodes),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$rounds,
         |sym AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
         |el AS (
         | SELECT a.label AS ls, b.label AS ld
         | FROM sym JOIN l3 a ON sym.src = a.node
         |  JOIN l3 b ON sym.dst = b.node),
         |m2 AS (SELECT count(*) AS m2 FROM el),
         |byc AS (
         | SELECT ls AS community, count(*) AS deg_sum,
         |  CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT) AS in2
         | FROM el GROUP BY 1),
         |nn AS (SELECT label AS community, count(*) AS n_nodes
         |       FROM l3 GROUP BY 1),
         |wt AS (
         | SELECT community, n_nodes, deg_sum,
         |  CAST(in2 // 2 AS BIGINT) AS internal_edges,
         |  CAST(round(CAST(in2 AS DOUBLE) / (SELECT m2 FROM m2)
         |    - pow(CAST(deg_sum AS DOUBLE) / (SELECT m2 FROM m2), 2), 6)
         |   AS DECIMAL(18,6)) AS q_term
         | FROM byc JOIN nn USING (community)),
         |qt AS (SELECT CAST(sum(q_term) AS DOUBLE) AS q_total FROM wt)
         |SELECT community, n_nodes, deg_sum, internal_edges,
         | CAST(q_term AS DOUBLE) AS q_term, q_total
         |FROM wt CROSS JOIN qt ORDER BY community""".stripMargin
    }),
    // One Louvain move phase on the LPA partition (exact ×2m² gains).
    // LPA replay (self-loop vote edges), then the move-phase gain CTEs
    // over the PLAIN symmetrized edges: per-(node, neighbor-community)
    // counts, own-community count, Σtot per community, and the exact
    // integer gain 2m·(k_iB − k_iA) − k_i·(Σtot(B) − Σtot(A) + k_i);
    // row_number(gain DESC, ld ASC) is order-equivalent to Spark's
    // min((−gain, ld)) struct.
    Q("q_louvain_move", { (s, d) => louvainMove(s, d) }, {
      s"""WITH $louvainMoveCtesSql
         |SELECT l.node, l.label AS old_label,
         | CASE WHEN COALESCE(b.gain, 0) > 0 THEN b.ld ELSE l.label END
         |  AS new_label,
         | COALESCE(b.gain, 0) > 0 AS moved,
         | CAST(COALESCE(b.gain, 0) AS BIGINT) AS gain_num
         |FROM l3 l LEFT JOIN best b ON l.node = b.node
         |ORDER BY l.node""".stripMargin
    }),
    // Louvain phase 2: the community-level weighted graph post-move.
    // the move chain, then the phase-2 collapse: symmetrized edges with
    // both endpoints' POST-MOVE communities attached, counted per pair
    Q("q_louvain_coarse", { (s, d) => louvainCoarse(s, d) }, {
      s"""WITH $louvainMoveCtesSql,
         |newlab AS (
         | SELECT l.node,
         |  CASE WHEN COALESCE(b.gain, 0) > 0 THEN b.ld ELSE l.label END
         |   AS nl
         | FROM l3 l LEFT JOIN best b ON l.node = b.node)
         |SELECT a.nl AS community_a, b.nl AS community_b,
         | CAST(count(*) AS BIGINT) AS w
         |FROM sym JOIN newlab a ON sym.src = a.node
         | JOIN newlab b ON sym.dst = b.node
         |GROUP BY 1, 2
         |ORDER BY community_a, community_b""".stripMargin
    }),
    // Per-community conductance (cut / min-side volume, integer ppm).
    // LPA replay, then per-community vol (directed edges out of the
    // community's nodes), cut (those landing outside), and the exact
    // ppm conductance with the all-edges-internal guard
    Q("q_conductance", { (s, d) => conductance(s, d) }, {
      val rounds = (1 to 3).map(lpaRoundSql).mkString(",\n")
      s"""WITH h AS (
         | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT DISTINCT src AS node FROM
         | (SELECT src FROM h UNION ALL SELECT dst FROM h) t(src)),
         |edges AS (
         | SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h
         | UNION ALL SELECT node, node FROM nodes),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$rounds,
         |sym AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
         |el AS (
         | SELECT a.label AS ls, b.label AS ld
         | FROM sym JOIN l3 a ON sym.src = a.node
         |  JOIN l3 b ON sym.dst = b.node),
         |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM el),
         |byc AS (
         | SELECT ls AS community, CAST(count(*) AS BIGINT) AS vol,
         |  CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS BIGINT) AS cut
         | FROM el GROUP BY 1),
         |nn AS (SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM l3 GROUP BY 1)
         |SELECT community, n_nodes, vol, cut,
         | CASE WHEN least(vol, (SELECT m2 FROM m2) - vol) = 0
         |  THEN CAST(0 AS BIGINT)
         |  ELSE CAST(CAST(cut AS HUGEINT) * 1000000
         |   // least(vol, (SELECT m2 FROM m2) - vol) AS BIGINT) END
         |  AS conductance_ppm
         |FROM byc JOIN nn USING (community)
         |ORDER BY community""".stripMargin
    }),
    // Effective diameter (90th-pct reach) per BFS landmark.
    // the q_bfs_landmarks walk + per-landmark cumulative with the
    // integer 90% cut (cum·10 ≥ tot·9)
    Q("q_eff_diameter", { (s, d) => effDiameter(s, d) },
      """WITH RECURSIVE h AS (
        | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
        |seeds AS (SELECT 's:' || s_suppkey AS node FROM supplier
        |          ORDER BY s_suppkey LIMIT 3),
        |walk(lm, node, dist) AS (
        | SELECT node, node, 0 FROM seeds
        | UNION
        | SELECT w.lm, e.dst, w.dist + 1
        | FROM walk w JOIN e ON e.src = w.node
        | WHERE w.dist < 3),
        |hist AS (
        | SELECT lm, CAST(dist AS INTEGER) AS dist,
        |  CAST(count(*) AS BIGINT) AS nodes
        | FROM (SELECT lm, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        | GROUP BY 1, 2),
        |cum AS (
        | SELECT lm, dist, nodes,
        |  CAST(sum(nodes) OVER (PARTITION BY lm ORDER BY dist
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM hist),
        |per AS (
        | SELECT lm, CAST(sum(nodes) AS BIGINT) AS n_reached,
        |  max(dist) AS max_dist
        | FROM hist GROUP BY 1)
        |SELECT lm, max(n_reached) AS n_reached,
        | max(max_dist) AS max_dist, min(dist) AS eff_d90
        |FROM cum JOIN per USING (lm)
        |WHERE cum * 10 >= n_reached * 9
        |GROUP BY lm ORDER BY lm""".stripMargin),
    Q("q_ppr_seed", { (s, d) => ppr(s, d) }, {
      val iters = (1 to 3).map(pprIterSql).mkString(",\n")
      s"""WITH e0 AS (
         | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         | SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |seeds AS (SELECT 's:' || s_suppkey AS node FROM supplier
         |          ORDER BY s_suppkey LIMIT 3),
         |ns AS (SELECT count(*) AS n FROM seeds),
         |d2 AS (
         | SELECT deg.node, deg.deg, seeds.node IS NOT NULL AS is_seed
         | FROM deg LEFT JOIN seeds ON deg.node = seeds.node),
         |p0 AS (
         | SELECT node, deg, is_seed,
         |  CASE WHEN is_seed THEN (SELECT 1000000000000 // n FROM ns)
         |   ELSE 0 END AS p
         | FROM d2),
         |$iters
         |SELECT node, p AS ppr_mass FROM p3
         |ORDER BY ppr_mass DESC, node LIMIT 10""".stripMargin
    }),
    // DuckDB replays BFS as a recursive UNION (distinct) walk bounded at
    // 3 hops, then min(dist) per (lm, node) = the true BFS distance —
    // level sets are node-bounded so the recursion can't path-explode.
    Q("q_bfs_landmarks", { (s, d) => bfsLandmarks(s, d) },
      """WITH RECURSIVE h AS (
        | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
        |seeds AS (SELECT 's:' || s_suppkey AS node FROM supplier
        |          ORDER BY s_suppkey LIMIT 3),
        |walk(lm, node, dist) AS (
        | SELECT node, node, 0 FROM seeds
        | UNION
        | SELECT w.lm, e.dst, w.dist + 1
        | FROM walk w JOIN e ON e.src = w.node
        | WHERE w.dist < 3)
        |SELECT lm, CAST(dist AS INTEGER) AS dist,
        | CAST(count(*) AS BIGINT) AS nodes
        |FROM (SELECT lm, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Q("q_assortativity", { (s, d) => assortativity(s, d) },
      """WITH h AS (
        | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |mo AS (
        | SELECT count(*) AS m,
        |  CAST(sum(x.deg) AS BIGINT) AS sx, CAST(sum(y.deg) AS BIGINT) AS sy,
        |  CAST(sum(x.deg * y.deg) AS BIGINT) AS sxy,
        |  CAST(sum(x.deg * x.deg) AS BIGINT) AS sxx,
        |  CAST(sum(y.deg * y.deg) AS BIGINT) AS syy
        | FROM e JOIN deg x ON e.src = x.src JOIN deg y ON e.dst = y.src)
        |SELECT m AS m_edges,
        | CASE WHEN sqrt((CAST(sxx AS DOUBLE) / CAST(m AS DOUBLE)
        |    - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
        |   * (CAST(syy AS DOUBLE) / CAST(m AS DOUBLE)
        |    - CAST(sy AS DOUBLE) / CAST(m AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)))) > 0
        |  THEN round((CAST(sxy AS DOUBLE) / CAST(m AS DOUBLE)
        |    - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)))
        |   / sqrt((CAST(sxx AS DOUBLE) / CAST(m AS DOUBLE)
        |    - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
        |   * (CAST(syy AS DOUBLE) / CAST(m AS DOUBLE)
        |    - CAST(sy AS DOUBLE) / CAST(m AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)))), 6)
        | END AS assortativity
        |FROM mo""".stripMargin),
    Q("q_pagerank_entity", { (s, d) => pagerank(s, d) }, {
      val iters = (1 to 3).map(iterSql).mkString(",\n")
      s"""WITH e0 AS (
         | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         | SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |p0 AS (
         | SELECT node, deg,
         |  (SELECT 1000000000000 // n FROM nn) AS p
         | FROM deg),
         |$iters
         |SELECT node, p AS rank_mass FROM p3
         |ORDER BY rank_mass DESC, node LIMIT 10""".stripMargin
    }),
    Q("q_link_predict", { (s, d) => linkPredict(s, d) },
      """WITH e AS (
        | SELECT DISTINCT l_suppkey AS supp, o_custkey AS cust
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (SELECT supp, count(*) AS deg FROM e GROUP BY 1),
        |t AS (
        | SELECT supp, cust FROM (
        |  SELECT supp, cust, row_number() OVER (PARTITION BY supp
        |   ORDER BY md5(CAST(supp AS VARCHAR) || ':' ||
        |                CAST(cust AS VARCHAR)), cust) AS rn
        |  FROM e)
        | WHERE rn <= 64),
        |pairs AS (
        | SELECT a.supp, a.cust AS c1, b.cust AS c2
        | FROM t a JOIN t b ON a.supp = b.supp AND a.cust < b.cust)
        |SELECT c1, c2, count(*) AS common,
        | CAST(sum(CAST(round(1.0 / ln(deg), 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS aa_score
        |FROM pairs JOIN deg USING (supp)
        |GROUP BY 1, 2
        |ORDER BY aa_score DESC, c1, c2 LIMIT 20""".stripMargin),
    Q("q_label_prop", { (s, d) => labelProp(s, d) }, {
      val rounds = (1 to 3).map(lpaRoundSql).mkString(",\n")
      s"""WITH h AS (
         | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT DISTINCT src AS node FROM
         | (SELECT src FROM h UNION ALL SELECT dst FROM h) t(src)),
         |edges AS (
         | SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h
         | UNION ALL SELECT node, node FROM nodes),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$rounds
         |SELECT a.node, a.label, a.label = b.label AS stable
         |FROM l3 a JOIN l2 b ON a.node = b.node
         |ORDER BY a.node""".stripMargin
    }),
    Q("q_hits", { (s, d) => hits(s, d) },
      """WITH e AS (
        | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT src, CAST(1000000 AS BIGINT) AS h
        |       FROM (SELECT DISTINCT src FROM e)),
        |a1r AS (SELECT dst, CAST(sum(h.h) AS BIGINT) AS ar
        |        FROM e JOIN h0 h USING (src) GROUP BY 1),
        |a1 AS (SELECT dst, ar * 1000000
        |        // (SELECT CAST(sum(ar) AS BIGINT) FROM a1r) AS a FROM a1r),
        |h1r AS (SELECT src, CAST(sum(a1.a) AS BIGINT) AS hr
        |        FROM e JOIN a1 USING (dst) GROUP BY 1),
        |h1 AS (SELECT src, hr * 1000000
        |        // (SELECT CAST(sum(hr) AS BIGINT) FROM h1r) AS h FROM h1r),
        |a2r AS (SELECT dst, CAST(sum(h1.h) AS BIGINT) AS ar
        |        FROM e JOIN h1 USING (src) GROUP BY 1),
        |a2 AS (SELECT dst, ar * 1000000
        |        // (SELECT CAST(sum(ar) AS BIGINT) FROM a2r) AS a FROM a2r)
        |SELECT dst AS node, a AS auth_mass FROM a2
        |ORDER BY auth_mass DESC, node LIMIT 10""".stripMargin),
    Q("q_kcore", { (s, d) => kcore(s, d) }, {
      val rounds = (1 to 4).map(coreRoundSql(_, 20)).mkString(",\n")
      s"""WITH h AS (
         | SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e0 AS (SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
         |$rounds
         |SELECT src AS node, count(*) AS deg, count(*) >= 20 AS stable
         |FROM e4 GROUP BY 1 ORDER BY 1""".stripMargin
    })
  )
}
