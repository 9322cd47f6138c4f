package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Scale-pattern assertions: the plans behind SCALE.md's claims. */
class ScaleSpec extends SparkSpec {

  test("bucketed co-located join plan has no shuffle on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the bucket-join path (not a broadcast) is what
      // gets planned — the claim is exchange-free sort-merge via bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Sources.bucketedJoin(spark, sfDir)
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted aggregation equals plain aggregation") {
    val plain = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag").collect().toSeq
    val salted = graft.operators.Relational
      .queries("q_skew_salted_agg")(spark, sfDir).collect().toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("salted join spreads the hot key and keeps the shuffle-join path") {
    import spark.implicits._
    val nSalts = 8
    // the salted big side: every hot key must fan out over all nSalts
    // sub-keys, and no (key, salt) cell may hold more than ~2/nSalts of
    // its key's rows (the whole point — no reducer sees the full hot key)
    val cells = Tables.lineitem(spark, sfDir)
      .withColumn("salt",
        pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(nSalts)).cast("int"))
      .groupBy("l_returnflag", "salt").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    val keys = cells.keys.map(_._1).toSet
    keys.foreach { k =>
      val perSalt = cells.filter(_._1._1 == k).values.toSeq
      assert(perSalt.size == nSalts, s"key $k only hit ${perSalt.size} salts")
      val total = perSalt.sum.toDouble
      assert(perSalt.max / total <= 2.0 / nSalts,
        s"key $k still skewed: max cell ${perSalt.max} of $total")
    }
    // and the executed query plans a shuffle join (not broadcast): the
    // salt idiom targets the case where broadcast is off the table
    val plan = graft.operators.Relational
      .queries("q_skew_salted_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled join:\n$plan")
  }

  test("topk aggregator is partitioning-invariant (merge path)") {
    import org.apache.spark.sql.functions.udaf
    val top3 = udaf(new graft.functions.TopKAggregator(3))
    def run(parts: Int) = Tables.lineitem(spark, sfDir)
      .repartition(parts)
      .groupBy("l_returnflag").agg(top3(col("l_extendedprice")).as("tops"))
      .collect().map(r => (r.getString(0), r.getSeq[Double](1))).toMap
    val a = run(1); val b = run(13)
    assert(a == b && a.nonEmpty)
    a.values.foreach { tops =>
      assert(tops.size == 3 && tops == tops.sorted.reverse)
    }
  }

  test("similarity top-k plans contain no window over the scored set") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 5)
    for (df <- Seq(
        graft.operators.Similarity.bruteForceTopK(q, emb, 5),
        graft.operators.Similarity.lshTopK(q, emb, 5),
        graft.operators.Similarity.ivfTopK(q, emb, 5))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"scored-set ranking must be the k-bounded aggregator, not a window:\n$plan")
    }
  }

  test("topk pair aggregator is partitioning-invariant and tie-deterministic") {
    import org.apache.spark.sql.functions.udaf
    import org.apache.spark.sql.Encoders
    val top3 = udaf(new graft.functions.TopKPairAggregator(3),
      Encoders.product[graft.functions.ScoredId])
    // planted ties: every value duplicated across two ids — the aggregator
    // must pick the lower id first, at any partitioning
    val rows = Seq.tabulate(40)(i => (i % 2, (i / 2 % 5).toDouble, i.toLong))
    def run(parts: Int) = {
      import spark.implicits._
      rows.toDF("g", "sim", "id").repartition(parts)
        .groupBy("g").agg(top3(col("sim"), col("id")).as("tops"))
        .collect().map(r => (r.getInt(0), r.getSeq[org.apache.spark.sql.Row](1)
          .map(t => (t.getDouble(0), t.getLong(1))))).toMap
    }
    val a = run(1); val b = run(7)
    assert(a == b && a.nonEmpty)
    a.values.foreach { tops =>
      assert(tops.size == 3)
      // sim descending, id ascending within equal sim
      assert(tops == tops.sortBy { case (s, id) => (-s, id) })
    }
  }

  test("IVF multi-probe reaches >= 0.95 recall vs brute force at nprobe=2") {
    // The testdata embeddings are uniform-random (within-label cosine ==
    // across-label == ~0), so NO coarse index can beat the probed-fraction
    // recall floor there — IVF's contract assumes the label column is a
    // real cluster assignment. Plant one: 10 well-separated clusters, 60
    // points each, queries perturbed from corpus points.
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val corpus = (0 until 600).map { i =>
      val lab = i % 10
      val e = centers(lab).map(v => v + 0.15f * rng.nextGaussian().toFloat)
      (i.toLong, e.toSeq, lab)
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(graft.operators.Similarity.bruteForceTopK(queries, corpus, 5))
    val ivf1 = pairs(graft.operators.Similarity.ivfTopK(queries, corpus, 5))
    val ivf2 = pairs(graft.operators.Similarity.ivfTopK(queries, corpus, 5, nprobe = 2))
    val r1 = (brute intersect ivf1).size.toDouble / brute.size
    val r2 = (brute intersect ivf2).size.toDouble / brute.size
    assert(r2 >= 0.95, s"IVF nprobe=2 recall $r2")
    assert(r2 >= r1, s"widening the probe must not lose recall ($r1 -> $r2)")
  }

  test("distributed exact percentile is bit-identical to the builtin aggregate") {
    // l_extendedprice is high-cardinality → positions interpolate between
    // two DIFFERENT order statistics (the formula-sensitive case)
    val li = Tables.lineitem(spark, sfDir)
    val mine = graft.operators.Analytics.exactPercentiles(li, "l_extendedprice",
      Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9)).collect()(0)
    val ref = li.agg(
      expr("percentile(l_extendedprice, 0.1)"),
      expr("percentile(l_extendedprice, 0.5)"),
      expr("percentile(l_extendedprice, 0.9)")).collect()(0)
    for (i <- 0 until 3)
      assert(mine.getDouble(i) == ref.getDouble(i),
        s"p($i): ${mine.getDouble(i)} vs builtin ${ref.getDouble(i)}")
    // and the plan must NOT contain the all-values-in-memory aggregate
    val plan = graft.operators.Analytics.exactPercentiles(li, "l_extendedprice",
      Seq("p50" -> 0.5)).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"), s"builtin percentile in plan:\n$plan")
  }

  test("exact percentile has no single-task window over the values") {
    import org.apache.spark.sql.execution.window.WindowExec
    val li = Tables.lineitem(spark, sfDir)
    for (df <- Seq(
        graft.operators.Analytics.exactPercentiles(li, "l_extendedprice",
          Seq("p50" -> 0.5)),
        graft.operators.Analytics.groupedExactPercentiles(
          li.selectExpr("l_returnflag AS g", "l_extendedprice AS x"),
          "g", "x", Seq("p50" -> 0.5)))) {
      val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty)
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        // the only unpartitioned windows are the prefix-offset windows over
        // per-range subtotals (≤ spark.sql.shuffle.partitions rows) — the
        // value-cardinality-sized cumulative window must be partitioned
        val ordered = w.orderSpec.flatMap(_.references.toSeq.map(_.name))
        assert(!ordered.contains("v"),
          s"unpartitioned window over the value column:\n$w")
      }
    }
  }

  test("partitioned layout prunes to a single year partition") {
    // build the partitioned copy, then assert the year filter lands in
    // PartitionFilters (directory pruning) — not as a post-scan Filter
    Sources.partitionedPrunedScan(spark, sfDir).collect()
    val path = Scratch.dir("orders_by_year")
    val slice = spark.read.parquet(path).filter(col("o_year") === 1995)
    val scan = slice.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("o_year"),
      s"year filter must prune partitions:\n$scan")
    // and pruning is real: the sliced scan reads strictly fewer files
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    val all = spark.read.parquet(path)
    assert(filesRead(slice) < filesRead(all),
      s"pruned scan must touch fewer files (${filesRead(slice)} vs ${filesRead(all)})")
  }

  test("bloom filter prunes most non-joining orders before the join") {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
    val bf = cust.stat.bloomFilter("c_custkey", 200000L, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain =
      udf((k: java.lang.Long) => k != null && bfB.value.mightContain(k.longValue))
    val orders = Tables.orders(spark, sfDir)
    val total = orders.count().toDouble
    val kept = orders.filter(mightContain(col("o_custkey"))).count().toDouble
    val trueMatch = orders.join(cust.select("c_custkey"),
      col("o_custkey") === col("c_custkey"), "left_semi").count().toDouble
    // every truly-joining row survives the bloom (no false negatives) …
    assert(kept >= trueMatch)
    // … and the prune is effective: survivors ≈ true matches + fpp·rest
    assert(kept <= trueMatch + 0.05 * total,
      s"bloom kept $kept of $total (true matches $trueMatch)")
  }

  test("PIT join against SCD2 stays broadcast (range residual, no SMJ)") {
    // the dimension is version-multiplied but still dimension-sized —
    // a PIT join must keep the fact side map-only like the star joins
    val plan = graft.operators.Scd.pitJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected BHJ:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("star fact plan keeps every dimension join broadcast") {
    val plan = graft.operators.StarPipeline.fact(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the only sort-merge join permitted is the lineitem-orders fact join
    val smjCount = "SortMergeJoin".r.findAllIn(plan).size
    assert(smjCount <= 1, s"unexpected sort-merge joins ($smjCount):\n$plan")
  }

  test("window analytics pack: every Window node is key-partitioned") {
    val plan = graft.operators.SqlSurface
      .queries("q_window_analytics")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // an unpartitioned window renders as "Window [...], [sort]" with no
    // partition spec — the r03 percentile bug's shape; assert every window
    // here carries the o_custkey partition
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("o_custkey"), w))
  }

  test("fuzzy match plans blocked equi-joins, never a cartesian") {
    val plan = graft.operators.Dedup.queries("q_fuzzy_match")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("gap-fill joins the spine broadcast — the daily aggregate is the only fact-sized stage") {
    val plan = graft.operators.SqlSurface.queries("q_gap_fill")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // SCALE.md's standing claim: AQE skew-split is the first line of
    // defense, salting the fallback. Evidence: a 90%-hot-key join,
    // thresholds scaled to test data, executed plan carries the skew
    // marker on the sort-merge join.
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val big = spark.range(200000).select(
        when(col("id") % 10 < 9, 1L).otherwise(col("id")).as("k"),
        concat(lit("x" * 64), col("id").cast("string")).as("pay"))
      val dim = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val j = big.join(dim, "k")
      // execute THIS dataset (count() would plan a separate query and
      // leave this one's adaptive plan unfinalized)
      assert(j.collect().length > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("ORC scan pushes filters and prunes columns like parquet") {
    val dir = java.nio.file.Files.createTempDirectory("orc_push").toString
    Tables.lineitem(spark, sfDir).write.mode("overwrite").orc(dir)
    val q = spark.read.orc(dir)
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity"),
      plan.take(2000))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan.take(2000))
  }

  test("df-pruned minhash plans no cartesian; the stop set rides a broadcast") {
    val plan = graft.operators.Dedup
      .queries("q_dedup_minhash_pruned")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop shapes allowed are the two scalar/stop-set
    // broadcasts (1-row frames by construction); candidate generation
    // itself must stay equi-join
    assert(plan.contains("BroadcastExchange"), plan)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size <=
      "band|key".r.findAllIn(plan).size, plan)
  }

  test("source-cap plans the partial/final top-k pair, no sort, no window") {
    val plan = graft.operators.Curation.queries("q_source_cap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), plan)
    assert(!plan.contains("Window"), plan)
    // the final orderBy on the k-bounded RESULT is the only sort
    assert("Sort ".r.findAllIn(plan).size <= 1, plan)
  }

  test("MRL rescore joins only shortlist pairs — queries ride a broadcast") {
    val plan = graft.operators.Similarity
      .queries("q_sim_topk_mrl_rescore")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("BPE pair-count stage is one map-side-combined aggregate, no join") {
    // one training iteration's count stage: explode+groupBy only
    val docs = Tables.documents(spark, sfDir)
    val toks = filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "")
    val tail = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val stage = docs
      .select(explode(zip_with(toks, tail, (a, b) => struct(a.as("a"), b.as("b")))).as("pr"))
      .filter(col("pr.b").isNotNull)
      .groupBy(col("pr.a"), col("pr.b")).agg(count(lit(1)))
    val plan = stage.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // partial + final HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("pagerank result reads the truncated fixed point, not the corpus") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.Analytics.queries("q_pagerank")(spark, sfDir)
    try {
      // the returned frame's plan must be node-sized — the sessionize+
      // lag pass over events must not appear anywhere in it (a file scan
      // here would mean the corpus re-enters the iteration lineage).
      // Two healthy shapes: the r12 driver fast path releases a
      // LocalTableScan of the collected rank state; the distributed
      // fallback releases localCheckpoint'd ExistingRDD reads.
      val p = df.queryExecution.sparkPlan
      assert(p.collect { case f: FileSourceScanExec => f }.isEmpty, p)
      assert(p.toString.contains("ExistingRDD") ||
        p.toString.contains("LocalTableScan"), p)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("assoc rules: one basket build feeds pairs, marginals, and totals") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = graft.operators.Analytics.queries("q_assoc_rules")(spark, sfDir)
    try {
      // pairs + marginals + order total all read the cached baskets; the
      // lineitem scan runs once, inside the cached relation's build plan
      val p = df.queryExecution.sparkPlan
      assert(p.collect { case i: InMemoryTableScanExec => i }.size >= 3, p)
      assert(p.collect { case f: FileSourceScanExec => f }.isEmpty, p)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("NN join: broadcast candidates, hash-aggregated packed argmin") {
    // the hot path must stay in whole-stage codegen: broadcast hash join
    // for candidates, HashAggregate (NOT SortAggregate) for the packed
    // argmin — min(struct) silently degrades to sort-based aggregation
    val plan = graft.operators.BboxSummary.queries("q_nn_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("modeling-pack windows run over pre-aggregated spines only") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (name <- Seq("q_acf_daily", "q_changepoint", "q_auc_length")) {
      val df = graft.operators.Analytics.queries(name)(spark, sfDir)
      val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name expected a window")
      wins.foreach { w =>
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"$name: window input must be an aggregated spine, not raw rows:\n$w")
      }
    }
  }
}
