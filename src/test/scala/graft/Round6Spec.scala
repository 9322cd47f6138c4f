package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Round-6 additions: constant-cost BPE merge loop, Misra-Gries streaming
  * heavy hitters, and connected-component lineage truncation.
  */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("BPE training: plan depth is constant across merge iterations") {
    // 8 distinct high-frequency bigrams so 6 iterations never exhaust.
    val docs = (0 until 8).map { i =>
      val x = ('a' + i).toChar
      (i.toLong, Seq.fill(20 - i)(s"${x}a ${x}b").mkString(" "))
    }.toDF("doc_id", "text")
    def corpusPlanNodes(k: Int): Int = {
      val (_, corpus) = TextAnalysis.bpeTrainWithCorpus(spark, docs, k)
      corpus.queryExecution.optimizedPlan.collect { case p => p }.size
    }
    val d2 = corpusPlanNodes(2)
    val d6 = corpusPlanNodes(6)
    // Without per-iteration localCheckpoint the k=6 plan carries four more
    // fold/split layers than k=2; with it both are a scan of the latest
    // checkpoint.
    assert(d6 == d2, s"plan grew with iterations: k=2 -> $d2 nodes, k=6 -> $d6")
    assert(d2 <= 2, s"checkpointed corpus plan should be a bare scan, got $d2 nodes")
  }

  test("MG streaming heavy hitters: state stays capacity-bounded at 30x-capacity cardinality") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val cap = 64
    // per type: one heavy user (300 hits) + 2000 singletons. n = 2300,
    // MG error bound n/(cap+1) ≈ 35 << 300, so the heavy user provably
    // survives eviction and tops the summary; its retained count is a
    // lower bound within the error bound of truth.
    val rows = Seq("click", "view").flatMap { t =>
      Seq.fill(300)((t, 1L)) ++ (1000L until 3000L).map(u => (t, u))
    }
    val stream = MemoryStream[(String, Long)]
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamOps.streamingTopUsersMg(stream.toDF().toDF("event_type", "user_id"), 3, cap)
        .toDF()
        .writeStream.format("memory").queryName("mg_top_users_test")
        .outputMode("update").start()
      try {
        stream.addData(rows: _*)
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("mg_top_users_test").collect()
      assert(out.nonEmpty)
      // the bound: summary entries never exceed capacity, though each type
      // saw 2001 distinct users
      assert(out.forall(_.getAs[Long]("state_size") <= cap.toLong))
      val rank1 = out.filter(r => r.getAs[Long]("rank") == 1L &&
        r.getAs[Long]("n_seen") == 2300L)
      assert(rank1.map(_.getAs[String]("event_type")).toSet == Set("click", "view"))
      rank1.foreach { r =>
        assert(r.getAs[Long]("user_id") == 1L)
        val c = r.getAs[Long]("cnt")
        assert(c <= 300L && c >= 300L - 2300L / (cap + 1))
      }
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("partial top-k: the exchange carries k-bounded rows, not the input") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // 9000 rows, 3 keys, spread over 8 mappers: without the partial pass
    // the hash exchange writes all 9000 rows; with it, at most
    // mappers * keys * k = 8 * 3 * 5 = 120
    val df = (1 to 9000).map(i => (s"k${i % 3}", i.toLong, (i % 97).toDouble))
      .toDF("key", "id", "v").repartition(8)
    val capped = graft.plans.TopKPerKey
      .topKPerKey(df, Seq("key"), Seq(("v", false), ("id", true)), k = 5)
    assert(capped.count() == 15)
    val finalPlan = capped.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val written = finalPlan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        e.metrics("shuffleRecordsWritten").value
    }
    assert(written.nonEmpty, s"no hash exchange found in:\n$finalPlan")
    assert(written.sum <= 120L,
      s"shuffle carried ${written.sum} rows — partial heap pass not effective")
  }

  test("MG heavy-hitter state survives a checkpointed restart") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("mgrestart").toString
    val (src, ckpt) = (s"$base/src", s"$base/ckpt")
    new java.io.File(src).mkdirs()
    val cap = 64
    def drop(rows: Seq[(String, Long)], name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("event_type", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = s"$base/out"
      def runOnce(): Unit = {
        // memory sink can't recover from a checkpoint — foreachBatch can
        val q = StreamOps.streamingTopUsersMg(
            spark.readStream.schema(schema).parquet(src), 3, cap).toDF()
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(out)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // run 1: heavy user + 100 singletons; run 2 (restart): 50 more heavy
      // hits + 100 NEW singletons. The summary must carry run 1's counts.
      drop(Seq.fill(50)(("click", 1L)) ++ (100L until 200L).map(u => ("click", u)), "00_a")
      runOnce()
      drop(Seq.fill(50)(("click", 1L)) ++ (200L until 300L).map(u => ("click", u)), "01_b")
      runOnce()
      val fin = spark.read.parquet(out).collect()
        .filter(r => r.getAs[Long]("n_seen") == 300L && r.getAs[Long]("rank") == 1L)
      assert(fin.nonEmpty, "restart run emitted no final top row")
      val r1 = fin.head
      // n_seen counts BOTH runs — state restored, nothing reprocessed
      assert(r1.getAs[Long]("user_id") == 1L)
      val c = r1.getAs[Long]("cnt")
      // 100 true hits; MG undercount bounded by n/(cap+1) = 300/65
      assert(c <= 100L && c >= 100L - 300L / (cap + 1), s"cnt $c out of bound")
      assert(r1.getAs[Long]("state_size") <= cap.toLong)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("df-pruned minhash: boilerplate footers stop matching, true near-dups still do") {
    import graft.operators.Dedup
    val footer = "subscribe to our newsletter for updates and terms of service information today"
    // 12 unrelated docs that share only the footer (pairwise Jaccard ≈
    // 0.65 — false near-dups), plus one true near-dup pair without it
    val docs = ((1 to 12).map(i =>
        (i.toLong, s"unique$i content$i topic$i $footer")) ++ Seq(
        (20L, "alpha beta gamma delta epsilon zeta eta theta"),
        (21L, "alpha beta gamma delta epsilon zeta eta theta iota")))
      .toDF("doc_id", "text")
    val unpruned = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pruned = Dedup.minhashNearDupsPruned(docs, "doc_id", "text", maxDfFrac = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // without pruning the footer manufactures near-dups out of unrelated docs
    assert(unpruned.exists { case (a, b) => a <= 12 && b <= 12 },
      s"expected footer-driven false pairs, got $unpruned")
    assert(unpruned.contains((20L, 21L)))
    // with pruning: footer shingles (df 12/14 > 0.5) are stopped — the
    // false pairs vanish, the true pair survives
    assert(pruned == Set((20L, 21L)), s"pruned result: $pruned")
  }

  test("resample bars: equal-timestamp endpoints tie-break on event id") {
    import java.sql.Timestamp
    val t = Timestamp.valueOf("2024-01-01 10:00:01")
    val rows = Seq(
      (5L, t, 50.0), (2L, t, 20.0), // same ts: open must take id 2
      (9L, Timestamp.valueOf("2024-01-01 10:59:59"), 99.0),
      (8L, Timestamp.valueOf("2024-01-01 10:59:59"), 88.0)) // close: id 9
      .toDF("event_id", "ts", "value")
    val bar = rows
      .groupBy(date_trunc("hour", col("ts")).as("bar_ts"))
      .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"))
      .collect()
    assert(bar.length == 1)
    assert(bar.head.getAs[Double]("open") == 20.0)
    assert(bar.head.getAs[Double]("close") == 99.0)
  }

  test("count-min: null keys are skipped, not NPEs, and estimate(null) is 0") {
    import graft.functions.{CountMin, CountMinAggregator}
    val agg = new CountMinAggregator(4, 64)
    val withNulls = Seq("a", null, "b", null, "a")
    val sketch = withNulls.foldLeft(agg.zero)(agg.reduce)
    val cleanSketch = Seq("a", "b", "a").foldLeft(agg.zero)(agg.reduce)
    assert(sketch.toSeq == cleanSketch.toSeq, "nulls must not contribute any mass")
    assert(CountMin.estimate(sketch.toSeq, 4, 64, null) == 0L)
    assert(CountMin.estimate(sketch.toSeq, 4, 64, "a") >= 2L)
  }

  test("q_pivot_dynamic's oracle column set matches the data's status values") {
    // The Spark side discovers pivot columns from the data; the DuckDB
    // oracle hardcodes F/O/P. If a generator change ever adds or drops a
    // status, this pins the REAL cause instead of a confusing hash
    // mismatch at the gate.
    val statuses = Tables.orders(spark, sfDir)
      .select("o_orderstatus").distinct().as[String].collect().toSet
    assert(statuses == Set("F", "O", "P"),
      s"o_orderstatus values changed to $statuses — update q_pivot_dynamic's oracle column list")
  }

  test("connected components: a diameter-11 chain converges across checkpoint rounds") {
    import graft.operators.Dedup
    // 12-node chain labeled worst-case (min id at one END, descending ids
    // along the chain) so min-label propagation needs ~diameter rounds —
    // with checkpoints every 3rd round, at least 3 lineage truncations run
    // before the fixpoint, exercising checkpoint->persist->checkpoint
    // handoff, not just the first truncation.
    val pairs = (0 until 11).map(i => (100L - i, 100L - i - 1)).toDF("id_a", "id_b")
    val labels = Dedup.componentLabels(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 12)
    assert(labels.values.toSet == Set(89L), s"all nodes must take the min id, got $labels")
    // and the cluster rollup sees one component of 12
    val clusters = Dedup.dedupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(clusters.toSeq == Seq((89L, 12L, 100L)))
    // the same chain with INT ids: the id-type gate skips the driver
    // union-find, so the distributed min-label rounds and their
    // checkpoint handoffs are what answer here
    val intPairs = pairs.select(col("id_a").cast("int").as("id_a"),
      col("id_b").cast("int").as("id_b"))
    val intLabels = Dedup.componentLabels(intPairs).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap
    assert(intLabels == labels, s"distributed loop: $intLabels")
  }

  test("BPE encode: empty merges, short docs, and chained merges") {
    val docs = Seq((1L, "a b c"), (2L, "x"), (3L, ""), (4L, "a b a b"))
      .toDF("doc_id", "text")
    def counts(merges: Seq[(String, String)]): Map[Long, (Long, Long)] =
      TextAnalysis.bpeEncode(spark, docs, merges)
        .as[(Long, Long, Long)].collect().map { case (id, r, b) => id -> (r, b) }.toMap
    // no merges: encoded == raw
    assert(counts(Nil) == Map(1L -> ((3L, 3L)), 2L -> ((1L, 1L)),
      3L -> ((0L, 0L)), 4L -> ((4L, 4L))))
    // chained merges: (a,b) then (a_b,c) — a merged token merges again;
    // greedy non-overlap on doc 4 gives two a_b pairs
    assert(counts(Seq(("a", "b"), ("a_b", "c"))) ==
      Map(1L -> ((3L, 1L)), 2L -> ((1L, 1L)), 3L -> ((0L, 0L)), 4L -> ((4L, 2L))))
  }

  test("BPE map-side encode is row-identical to the projection-chain encode") {
    // real corpus + real trained merges: the imperative per-doc pass must
    // reproduce the declarative fold exactly, including chained merges
    val docs = Tables.documents(spark, sfDir)
    val merges = TextAnalysis.bpeTrain(spark, docs, 4).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 4)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().map { case (id, r, b) => id -> (r, b) }.toMap
    val declarative = asMap(TextAnalysis.bpeEncode(spark, docs, merges))
    val mapSide = asMap(TextAnalysis.bpeEncodeMapSide(docs, merges))
    assert(declarative == mapSide)
    assert(declarative.nonEmpty && declarative.exists { case (_, (r, b)) => b < r })
  }

  test("BPE training: k=10 merge table matches the k=3 prefix (checkpoint preserves semantics)") {
    val docs = Seq((1L, "the cat sat on the cat mat"), (2L, "the cat is the cat"),
      (3L, "go go go"), (4L, "the cat sat down")).toDF("doc_id", "text")
    val m3 = TextAnalysis.bpeTrain(spark, docs, 3)
      .as[(Long, String, String, Long)].collect().toSeq
    val m6 = TextAnalysis.bpeTrain(spark, docs, 6)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m6.take(m3.length) == m3)
    assert(m3.head == ((1L, "the", "cat", 5L)))
  }

  test("crossSourceLeakage: only sources sharing a fingerprint pair up") {
    val docs = Seq(
      ("same one", "a"), ("same one", "b"), ("  Same   ONE ", "b"),
      ("other", "a"), ("other", "c"), ("only here", "b"))
      .toDF("text", "source")
    val out = operators.Dedup.crossSourceLeakage(docs)
      .as[(String, String, Long)].collect().toSeq
    // "same one" leaks a↔b (whitespace/case-normalized), "other" leaks
    // a↔c; nothing pairs b with c.
    assert(out === Seq(("a", "b", 1L), ("a", "c", 1L)))
  }

  test("jsDivergence: a source distributed like the corpus scores 0 bits") {
    val docs = (Seq.fill(4)(("a", 0L)) ++ Seq.fill(4)(("a", 100L)) ++
      Seq.fill(2)(("b", 0L)) ++ Seq.fill(2)(("b", 100L))).toDF("src", "v")
    val out = operators.Analytics.jsDivergence(docs, col("v"), "src", 10)
      .as[(String, Long, Double)].collect().toSeq
    // Both sources are 50/50 over the same two bins = exactly the global
    // mix, so every per-bin term has p = q = m and JS collapses to 0.
    assert(out === Seq(("a", 8L, 0.0), ("b", 4L, 0.0)))
  }

  test("pmi: a bigram of exclusive partners scores log2(4) at p1=p2=1/2") {
    // Corpus of three identical two-token docs: p(x y)=1, p(x)=p(y)=1/2
    // → PMI = log2(1 / (1/2 · 1/2)) = 2 exactly.
    val docs = Seq((0L, "x y"), (1L, "x y"), (2L, "x y")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pmi").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.queries("q_pmi_topk")(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(r === Seq(("x", "y", 3L, 2.0)))
  }
}
