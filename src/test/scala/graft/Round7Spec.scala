package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Round-7 additions: cross-load incremental dedup (VERDICT r6 #5). */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  test("incremental dedup drops planted cross-load overlaps, keeps the rest") {
    // hermetic corpus: per-doc disjoint vocab, so the ONLY matches are the
    // planted ones (the real documents table contains natural cross-load
    // near-dups — covered by the q_dedup_incremental oracle instead)
    def doc(i: Int): String = (0 until 8).map(t => s"tok${i}w$t").mkString(" ")
    val l1 = (1 to 100).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val l2base = (201 to 300).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val exactCopies = (1 to 10).map(i => (400L + i, doc(i))).toDF("doc_id", "text")
    val nearCopies = (11 to 20).map(i => (500L + i, doc(i) + " appended"))
      .toDF("doc_id", "text") // shingle jaccard 6/7 ≈ 0.86 ≥ 0.5
    val l2 = l2base.unionByName(exactCopies).unionByName(nearCopies)

    val store = Dedup.buildFingerprintStore(l1) // xxhash fast path
    val surv = Dedup.incrementalDedup(l2, store)

    // physical plan: candidate generation must be band-key equi-joins
    val physical = surv.queryExecution.executedPlan.toString
    assert(!physical.contains("Cartesian"), "all-pairs join in incremental dedup")

    val ids = surv.select("doc_id").as[Long].collect().toSet
    assert(ids == (201L to 300L).toSet,
      s"exactly the base load-2 docs must survive, got $ids")
  }

  test("incremental dedup on the real corpus: planted overlaps never survive") {
    val docs = Tables.documents(spark, sfDir)
    val l1 = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") < 30)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val l2base = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val l2 = l2base.unionByName(planted)
    val surv = Dedup.incrementalDedup(l2, Dedup.buildFingerprintStore(l1))
    val ids = surv.select("doc_id").as[Long].collect().toSet
    assert(!ids.exists(_ >= 10000000L), "planted exact copies must all drop")
    // natural cross-load near-dups exist in the generated corpus, so only
    // containment holds for the base docs (exact set parity is the DuckDB
    // oracle's job at every SF)
    val base = l2base.select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(base), "survivors must come from the base load")
  }

  test("incremental dedup is idempotent: re-running the appended store drops all") {
    val docs = Tables.documents(spark, sfDir)
    val l1 = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val l2 = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val store1 = Dedup.buildFingerprintStore(l1)
    val surv = Dedup.incrementalDedup(l2, store1)
    // append the survivors' store rows (the documented load-completion step)
    val store2 = store1.unionByName(
      Dedup.buildFingerprintStore(
        l2.join(surv.select("doc_id"), Seq("doc_id"), "left_semi")))
    assert(Dedup.incrementalDedup(l2, store2).count() == 0L,
      "replaying the same load against the appended store must drop every doc")
  }

  test("events loader normalizes both physical ts layouts identically") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the driver's generator has shipped events.ts as INT64 raw nanos AND
    // as TIMESTAMP(MICROS) NTZ across rounds; the loaders must read either
    // into identical session-UTC timestamps
    val base = Scratch.dir("tslayout")
    Scratch.clear(base)
    val instants = Seq( // (event_id, epoch micros)
      (1L, 1704067200000000L), // 2024-01-01T00:00:00Z
      (2L, 1704110400123456L), // 2024-01-01T12:00:00.123456Z
      (3L, 1706738399999999L))
    val rest = (-1L, "x", 0.0, "{}")
    val microsRows = instants.map { case (id, us) =>
      Row(id, java.time.LocalDateTime.ofEpochSecond(
        us / 1000000L, ((us % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC), rest._1, rest._2, rest._3, rest._4)
    }
    val nanosRows = instants.map { case (id, us) =>
      Row(id, us * 1000L, rest._1, rest._2, rest._3, rest._4)
    }
    def schema(tsT: DataType) = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsT),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    import scala.jdk.CollectionConverters._
    // the real testdata ships events.parquet as a single FILE (the stream
    // source's pathGlobFilter relies on that) — write to a tmp dir and
    // move the part file into place
    def writeAsFile(rows: Seq[Row], tsT: DataType, dir: String): Unit = {
      val tmp = s"$dir.tmp"
      spark.createDataFrame(rows.asJava, schema(tsT))
        .coalesce(1).write.parquet(tmp)
      new java.io.File(dir).mkdirs()
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      Scratch.clear(tmp)
    }
    val tzRows = instants.map { case (id, us) =>
      Row(id, java.sql.Timestamp.from(
        java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)),
        rest._1, rest._2, rest._3, rest._4)
    }
    writeAsFile(microsRows, TimestampNTZType, s"$base/micros")
    writeAsFile(nanosRows, LongType, s"$base/nanos")
    writeAsFile(tzRows, TimestampType, s"$base/tz")
    def readBack(dir: String) =
      Tables.events(spark, dir).select("event_id", "ts")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    val a = readBack(s"$base/micros")
    val b = readBack(s"$base/nanos")
    val c = readBack(s"$base/tz") // third layout: tz-adjusted TIMESTAMP
    assert(a == b && a == c, s"layouts disagree: $a vs $b vs $c")
    assert(a.map(_._2) == instants.map(_._2 / 1000L).toSet, // epoch millis
      "normalized instants must equal the planted UTC instants")

    // the STREAMING source path (explicit schema + normTs) must agree too
    def streamBack(dir: String, name: String) = {
      val ckpt = s"$base/ckpt_$name"
      val agg = graft.streaming.StreamOps.eventsStream(spark, dir)
        .groupBy(hour(col("ts")).as("h")).agg(count(lit(1)).as("cnt"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    }
    val sa = streamBack(s"$base/micros", "ts_layout_micros")
    val sb = streamBack(s"$base/nanos", "ts_layout_nanos")
    assert(sa == sb && sa == Set((0, 1L), (12, 1L), (21, 1L)),
      s"stream layouts disagree or mis-bin: $sa vs $sb")
  }

  test("bucket cap suppresses the boilerplate storm but keeps planted recall") {
    val corpus = Dedup.plantedCorpus(Tables.documents(spark, sfDir), nPlanted = 10)
      .withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" subscribe to our newsletter terms privacy contact")))
          .otherwise(col("text")))
    val capped = Dedup.minhashNearDupsCapped(corpus, "doc_id", "text",
      maxBucket = 8)
    assert(!capped.queryExecution.executedPlan.toString.contains("Cartesian"))
    val plantedPairs = capped
      .filter(col("id_b") - col("id_a") === 10000000L).count()
    assert(plantedPairs == 10L,
      "size-2 planted buckets must survive the cap")
    // the win is at the CANDIDATE stage (the b² blowup the verify join
    // would otherwise pay): storm buckets must shrink the candidate set,
    // even though verified output barely changes (footer-inflated pairs
    // fail the 0.5 Jaccard verify anyway)
    val sig = Dedup.signatures(corpus, "doc_id", "text", 16)
    val unc = Dedup.bandedCandidates(sig, 16, 2).count()
    val cap = Dedup.bandedCandidatesCapped(sig, 16, 2, maxBucket = 8).count()
    assert(cap < unc, s"cap should cut candidates: $cap vs $unc")
  }

  test("A-ES weighted sample favors heavy docs and is rerun-stable") {
    val docs = Tables.documents(spark, sfDir)
    val s1 = graft.operators.Curation.weightedSampleK(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val s2 = graft.operators.Curation.weightedSampleK(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(s1 == s2, "hash-derived keys must make the sample rerun-stable")
    // probability ∝ tokens ⇒ the sampled docs' mean token count exceeds
    // the corpus mean (near-certain at 200 draws on this corpus)
    val toks = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("double").as("t"))
    val corpusMean = toks.agg(avg(col("t"))).head().getDouble(0)
    val ids = s1.map(_._2)
    val sampleMean = toks.filter(col("doc_id").isin(ids: _*))
      .agg(avg(col("t"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("as-of tolerance/direction: backward stales out, forward finds the next") {
    import graft.operators.TemporalJoins
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-10 12:00:00")),  // backward hit within 3d, forward hit
      (2L, 7L, ts("2024-01-20 12:00:00")),  // backward match 10d old -> stale NULL
      (3L, 8L, ts("2024-01-01 00:00:00"))   // no signup at all -> NULL both ways
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-09 00:00:00"), 10.0),
      (7L, ts("2024-01-12 00:00:00"), 20.0)
    ).toDF("user_id", "ts", "signup_value")
    def vals(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val back = vals(TemporalJoins.asofJoinWithin(
      left, right, "user_id", "ts", "signup_value", 259200L))
    assert(back == Map(1L -> Some(10.0), 2L -> None, 3L -> None), s"backward: $back")
    val fwd = vals(TemporalJoins.asofJoinWithin(
      left, right, "user_id", "ts", "signup_value", 259200L, "forward"))
    assert(fwd == Map(1L -> Some(20.0), 2L -> None, 3L -> None), s"forward: $fwd")
    // equal-ts semantics: a right row AT the left ts matches in both directions
    val eq = Seq((9L, 7L, ts("2024-01-09 00:00:00"))).toDF("event_id", "user_id", "ts")
    assert(vals(TemporalJoins.asofJoinWithin(
      eq, right, "user_id", "ts", "signup_value", 259200L)) == Map(9L -> Some(10.0)))
    assert(vals(TemporalJoins.asofJoinWithin(
      eq, right, "user_id", "ts", "signup_value", 259200L, "forward")) == Map(9L -> Some(10.0)))
  }

  test("peak concurrency: overlaps count, midnight straddle re-opens next day") {
    import graft.operators.TemporalJoins
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // three overlapping at 10:10; one straddling midnight into day 2
    val iv = Seq(
      ts("2024-03-01 10:00:00"), ts("2024-03-01 10:10:00"),
      ts("2024-03-01 10:20:00"), // overlaps: [10:00,10:30) [10:10,10:40) [10:20,10:50) -> 3 at 10:20
      ts("2024-03-01 23:50:00")  // straddles midnight -> +1 at day2 00:00
    ).toDF("ts")
    val out = TemporalJoins.peakConcurrency(iv, "ts", 1800L)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getTimestamp(2)))
    assert(out.length == 2, s"two days expected: ${out.toSeq}")
    assert(out(0) == ("2024-03-01", 3L, ts("2024-03-01 10:20:00")), s"${out(0)}")
    assert(out(1) == ("2024-03-02", 1L, ts("2024-03-02 00:00:00")), s"${out(1)}")
  }

  test("skew/kurtosis: symmetric uniform hits the closed-form values") {
    // {1..5} dollars: skew = 0; excess kurtosis = 6.8/4 - 3 = -1.3
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 5.0))
      .toDF("grp", "v")
    val r = graft.operators.Analytics.skewKurtosis(df, "grp", "v").head()
    assert(r.getLong(1) == 5L)
    assert(math.abs(r.getDouble(2)) < 1e-9, s"skew ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - (-1.3)) < 1e-9, s"kurt ${r.getDouble(3)}")
    // constant column -> m2 = 0 -> NULL moments, not NaN/crash
    val const = Seq(("g", 7.0), ("g", 7.0)).toDF("grp", "v")
    val rc = graft.operators.Analytics.skewKurtosis(const, "grp", "v").head()
    assert(rc.isNullAt(2) && rc.isNullAt(3))
  }

  test("semantic dedup: planted flips drop with dup_of = their original") {
    import graft.operators.Similarity
    val labeled = Tables.embeddings(spark, sfDir)
    val audit = Similarity.semanticDedup(
      Similarity.plantedEmbeddings(labeled), labeled, 0.95,
      graft.functions.NativeExpressions.cosineSim(spark, _, _))
    assert(!audit.queryExecution.executedPlan.toString.contains("Cartesian")
      || audit.queryExecution.executedPlan.toString.contains("Broadcast"),
      "pairwise stage must be a cluster equi-join, not all-pairs")
    val rows = audit.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // the SemDeDup contract: a planted copy IS pruned whenever the
    // assignment puts it in its original's cluster; a flip that crosses a
    // centroid boundary is the paper's documented recall limit (and the
    // reason production sizes k to cluster diameter >> perturbation)
    val planted = rows.filter(_._1 >= 10000000L)
    assert(planted.size == 20)
    // actual planted-pair cosines: a flip with a heavy last coordinate can
    // legitimately fall below τ — condition the must-drop assertion on the
    // pair really being similar (the oracle replays the same math)
    val corpus = Similarity.plantedEmbeddings(labeled)
    val pairSim = corpus.filter(col("vec_id") >= 10000000L)
      .select((col("vec_id") - 10000000L).as("o_id"), col("embedding").as("pe"))
      .join(corpus.select(col("vec_id").as("o_id"), col("embedding").as("oe")), "o_id")
      .select(col("o_id"), round(Similarity.cosine(col("pe"), col("oe")), 6).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var mustDrop = 0
    planted.foreach { case (id, (cl, kept, dupOf)) =>
      if (rows(id - 10000000L)._1 == cl && pairSim(id - 10000000L) >= 0.95) {
        mustDrop += 1
        assert(!kept, s"co-clustered similar planted $id must drop")
        assert(dupOf >= 0 && dupOf < 10000000L, s"dup_of of $id is $dupOf")
      }
    }
    assert(mustDrop >= 12,
      s"most flips should stay similar and co-clustered, got $mustDrop")
    // originals of the planted copies survive unless they themselves have
    // an earlier near-dup; at minimum most of the corpus is kept
    val keptN = rows.count(_._2._2)
    assert(keptN >= rows.size - 2 * planted.size,
      s"over-aggressive prune: only $keptN of ${rows.size} kept")
  }

  test("pca: rank-1 corpus recovers its direction, max-abs-scaled") {
    // all rows are multiples of u -> the Gram matrix is rank 1 and the
    // top component must equal u / max|u| (sign fixed by u . ones > 0)
    val u = Array(0.5f, 1.0f, -0.25f)
    val rows = (1 to 5).map(c => Tuple1(u.map(_ * c)))
    val emb = rows.toDF("embedding")
    val got = graft.operators.Similarity.pcaTopComponent(emb)
      .collect().map(r => r.getDouble(1))
    val want = Array(0.5, 1.0, -0.25)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-4, s"loading $g vs $w") // fixed-point quantization tolerance
    }
  }

  test("in-batch exact dups collapse before the store ever sees them") {
    val batch = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // in-batch exact dup of 1
      (3L, "completely different content here")).toDF("doc_id", "text")
    val store = Dedup.buildFingerprintStore(
      Seq((100L, "unrelated stored document text")).toDF("doc_id", "text"))
    val ids = Dedup.incrementalDedup(batch, store)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"min-id survivor per fp expected, got $ids")
  }
}
