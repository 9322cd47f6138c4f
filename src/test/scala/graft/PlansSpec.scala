package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.functions.{GraftExtensions, NativeExpressions}
import graft.plans.ApproxDistinctRewrite

/** ApproxDistinctRewrite (custom Rule[LogicalPlan], the
  * SparkSessionExtensions deployment surface): hint/flag triggers, the
  * HLL++ accuracy contract, and graceful degradation without the rule.
  */
class PlansSpec extends SparkSpec {

  test("approx_hint is a pure identity expression") {
    val rows = Tables.orders(spark, sfDir).limit(20)
      .select(col("o_custkey"),
        NativeExpressions.approxHint(spark, col("o_custkey")).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.get(0) == r.get(1)))
  }

  test("hinted count(DISTINCT) rewrites to HLL++ and stays within 2%") {
    GraftExtensions.install(spark)
    val o = Tables.orders(spark, sfDir)
    val exact = o.agg(countDistinct(col("o_custkey"))).head.getLong(0)
    val hinted = o.agg(countDistinct(
      NativeExpressions.approxHint(spark, col("o_custkey"))).as("d"))
    val plan = hinted.queryExecution.optimizedPlan.toString
    assert(plan.contains("approx_count_distinct"), plan)
    assert(!plan.contains("count(distinct"), plan)
    val got = hinted.head.getLong(0)
    assert(math.abs(got - exact) <= math.max(1.0, exact * 0.02),
      s"approx $got vs exact $exact")
  }

  test("un-hinted count(DISTINCT) stays exact with the rule installed") {
    GraftExtensions.install(spark)
    val df = Tables.orders(spark, sfDir)
      .agg(countDistinct(col("o_custkey")).as("d"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("approx_count_distinct"), plan)
  }

  test("session flag rewrites every single-child count(DISTINCT)") {
    GraftExtensions.install(spark)
    spark.conf.set("spark.graft.approxDistinct", "true")
    try {
      val df = Tables.orders(spark, sfDir)
        .agg(countDistinct(col("o_custkey")).as("d"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"), plan)
    } finally spark.conf.set("spark.graft.approxDistinct", "false")
  }

  test("multi-child count(DISTINCT a, b) is left exact under the flag") {
    GraftExtensions.install(spark)
    spark.conf.set("spark.graft.approxDistinct", "true")
    try {
      val df = Tables.orders(spark, sfDir)
        .agg(countDistinct(col("o_custkey"), col("o_orderstatus")).as("d"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("approx_count_distinct"), plan)
    } finally spark.conf.set("spark.graft.approxDistinct", "false")
  }

  test("TopKPerKey plans the custom exec over one exchange with NO sort") {
    val df = graft.plans.TopKPerKey.topKPerKey(
      Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_totalprice"),
      keys = Seq("o_custkey"),
      order = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey "), physical) // exec renders without the Exec suffix
    // map-side partial BELOW the exchange: the shuffle carries at most
    // k rows per key per mapper, not every input row
    assert(physical.contains("TopKPerKeyPartial"), physical)
    assert(physical.indexOf("TopKPerKeyPartial") > physical.indexOf("hashpartitioning"),
      s"partial must sit under the exchange:\n$physical")
    assert(physical.contains("hashpartitioning(o_custkey"), physical)
    assert("Exchange".r.findAllIn(physical).size == 1, physical)
    assert(!physical.toLowerCase.contains("sortexec"), physical)
    assert(!physical.contains("Window"), physical)
  }

  test("TopKPerKey ≡ row_number window on skewed, duplicated, and small keys") {
    import spark.implicits._
    // one hot key (700 rows), ties in the order value, and a group
    // smaller than k — every boundary the heap path must match the
    // window path on
    val rows = (1 to 700).map(i => ("hot", i.toLong, (i % 7).toDouble)) ++
      Seq(("tiny", 9001L, 1.0)) ++
      (1 to 40).map(i => ("mid", (2000 + i).toLong, (i % 3).toDouble))
    val df = rows.toDF("key", "id", "v")
    val got = graft.plans.TopKPerKey
      .topKPerKey(df, Seq("key"), Seq(("v", false), ("id", true)), k = 5)
      .orderBy("key", "id").collect().toSeq
    val want = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("v"), col("id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .drop("rn").orderBy("key", "id").collect().toSeq
    }
    assert(got == want)
  }

  test("TopKPerKey spills at adversarial key cardinality and stays exact") {
    import spark.implicits._
    // every row its own key (the spill-less heap's worst case) plus a few
    // repeated keys; a 64-row spill threshold forces multiple epochs per
    // partition, exercising flush + key-merge on both exec passes
    val rows = (1 to 5000).map(i => (s"k$i", i.toLong, (i % 13).toDouble)) ++
      (1 to 300).map(i => ("dup", (90000 + i).toLong, (i % 5).toDouble))
    val df = rows.toDF("key", "id", "v")
    val got = graft.plans.TopKPerKey
      .topKPerKey(df, Seq("key"), Seq(("v", false), ("id", true)), k = 3,
        spillRows = 64)
      .orderBy("key", "id").collect().toSeq
    val want = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("v"), col("id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .drop("rn").orderBy("key", "id").collect().toSeq
    }
    assert(got.size == want.size && got == want)
  }

  test("TopKPerKey spill metrics surface epochs and rows") {
    import spark.implicits._
    // AQE hides the execs inside leaf QueryStageExec nodes — disable it so
    // the collected plan exposes them directly (metrics identical either way)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = (1 to 4000).map(i => (s"k$i", i.toLong, 1.0)).toDF("key", "id", "v")
      val q = graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("v", false), ("id", true)), k = 1,
          spillRows = 128)
      q.collect()
      val metrics = q.queryExecution.executedPlan.collect {
        case e: graft.plans.TopKPerKeyExec => e.metrics
        case p: graft.plans.TopKPerKeyPartialExec => p.metrics
      }
      assert(metrics.nonEmpty)
      val epochs = metrics.map(_("spillEpochs").value).sum
      val rows = metrics.map(_("spilledRows").value).sum
      assert(epochs > 0, "tiny threshold must force at least one spill epoch")
      assert(rows >= epochs * 64, s"spilled rows ($rows) should track epochs ($epochs)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_blocklist is one map-side projection: no join, no agg, no explode") {
    val df = graft.operators.Curation.queries("q_blocklist")(spark, sfDir)
    val physical = df.queryExecution.executedPlan.toString
    // the r07 shape exploded tokens, aggregated per doc and joined back —
    // two hash exchanges + a join; the rewrite is a single codegen'd HOF
    // pass whose ONLY exchange is the output sort's range partitioning
    assert(!physical.contains("Join"), physical)
    assert(!physical.contains("HashAggregate"), physical)
    assert(!physical.contains("Generate"), physical) // no explode
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(physical).toSeq
    assert(exchanges == Seq("Exchange rangepartitioning"), physical)
  }

  test("round-8 scans prune columns: median CI reads one column, funnel four") {
    // a scan that reads all columns for a narrow projection is wrong at
    // 100 TB — pin ReadSchema on the round's new operators
    def readSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      "ReadSchema: struct<[^>]*>".r
        .findAllIn(df.queryExecution.executedPlan.toString).toSeq
    val med = graft.operators.Analytics.queries("q_median_ci")(spark, sfDir)
    val medScans = readSchemas(med).filter(_.contains("o_"))
    assert(medScans.nonEmpty &&
      medScans.forall(s => s.contains("o_totalprice") && !s.contains("o_orderkey")),
      medScans.mkString("\n"))
    val fun = graft.operators.Curation.queries("q_curation_funnel")(spark, sfDir)
    val funScans = readSchemas(fun).filter(_.contains("doc_id"))
    assert(funScans.nonEmpty && funScans.forall(!_.contains("lang")),
      s"funnel must not read unused doc columns:\n${funScans.mkString("\n")}")
  }

  test("round-9 plans keep dictionary frames broadcast: DSIR model, OOV vocab") {
    // the 256-bucket DSIR model and the top-V vocabulary must join as
    // broadcasts — a sort-merge there shuffles the corpus-sized feature
    // stream against a dictionary
    val dsir = graft.operators.Curation.queries("q_dsir_weights")(spark, sfDir)
    val dsirPlan = dsir.queryExecution.executedPlan.toString
    assert(dsirPlan.contains("BroadcastHashJoin"), dsirPlan)
    assert(!dsirPlan.contains("SortMergeJoin"), dsirPlan)
    val oov = graft.operators.TextAnalysis.queries("q_oov_rate")(spark, sfDir)
    val oovPlan = oov.queryExecution.executedPlan.toString
    assert(oovPlan.contains("BroadcastHashJoin"), oovPlan)
    assert(!oovPlan.contains("SortMergeJoin"), oovPlan)
    assert(oovPlan.contains("TopKPerKey"), oovPlan) // vocab via the native exec
  }

  test("round-9 scans prune columns: substr dedup reads (doc_id, text) only") {
    def readSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      "ReadSchema: struct<[^>]*>".r
        .findAllIn(df.queryExecution.executedPlan.toString).toSeq
    val sub = graft.operators.Dedup.queries("q_dedup_substr")(spark, sfDir)
    val scans = readSchemas(sub).filter(_.contains("doc_id"))
    assert(scans.nonEmpty && scans.forall(s =>
      !s.contains("lang") && !s.contains("source") && !s.contains("n_chars")),
      scans.mkString("\n"))
    val ts = graft.operators.Curation.queries("q_temporal_split")(spark, sfDir)
    val tsScans = readSchemas(ts).filter(_.contains("event_id"))
    assert(tsScans.nonEmpty && tsScans.forall(!_.contains("event_type")),
      tsScans.mkString("\n"))
  }

  test("GraftExtensions installs the strategy at session boot (deployment path)") {
    // the install path used by sessions the deployment did not boot
    val s2 = SparkSpec.session.newSession()
    GraftExtensions.install(s2)
    assert(s2.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
    assert(s2.experimental.extraOptimizations.exists(_.isInstanceOf[ApproxDistinctRewrite]))
  }

  test("GraftExtensions alone injects every native function; simhash keeps its width") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graft.Bridge.extensionRegistry(ext)
    val builtin = FunctionRegistry.builtin.listFunction().toSet
    assert(reg.listFunction().filterNot(builtin).map(_.funcName).toSet == Set(
      "cosine_sim", "simhash", "shingle_hashes", "char_gram_hashes", "minhash_sigs",
      "simhash_from_hashes", "shingle_hashes_md5", "char_gram_hashes_md5",
      "token_hashes_md5", "approx_hint", "jaro_winkler"))
    // simhash(t, 32) through the deployment registry ≡ the column helper
    import spark.implicits._
    val docs = Seq(Seq("the", "quick", "brown", "fox"), Seq("lorem", "ipsum"), Seq("a"))
    val simhash = reg.lookupFunctionBuilder(FunctionIdentifier("simhash")).get
    val got = docs.map(t => simhash(Seq(Literal.create(t, ArrayType(StringType)),
      Literal(32))).eval())
    val want = docs.toDF("t")
      .select(NativeExpressions.simhashNative(spark, col("t"), 32)).as[Long].collect().toSeq
    assert(got == want)
  }

  test("a second helper call leaves the registered cosine_sim builder unchanged") {
    val s2 = SparkSpec.session.newSession()
    val reg = s2.sessionState.functionRegistry
    val id = FunctionIdentifier("cosine_sim")
    NativeExpressions.cosineSim(s2, col("a"), col("b"))
    val first = reg.lookupFunctionBuilder(id).get
    NativeExpressions.cosineSim(s2, col("a"), col("b"))
    assert(reg.lookupFunctionBuilder(id).get eq first)
  }

  test("native helpers and TopKPerKey work on a fresh session") {
    val s2 = SparkSpec.session.newSession()
    import s2.implicits._
    val vecs = Seq((Array(3f, 4f), Array(3f, 4f)), (Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b")
    assert(vecs.select(NativeExpressions.cosineSim(s2, col("a"), col("b")))
      .as[Double].collect().toSeq == Seq(1.0, 0.0))
    val top = graft.plans.TopKPerKey.topKPerKey(
      Seq(("x", 1L, 2.0), ("x", 2L, 1.0), ("y", 3L, 0.5)).toDF("key", "id", "v"),
      Seq("key"), Seq(("v", false), ("id", true)), k = 1)
    assert(top.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(top.orderBy("key").as[(String, Long, Double)].collect().toSeq ==
      Seq(("x", 1L, 2.0), ("y", 3L, 0.5)))
  }
}
