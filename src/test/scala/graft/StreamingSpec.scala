package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Streaming semantics (SURVEY §5 item 4): MemoryStream-fed complete-mode
  * aggregates equal the batch result on the same data; the session_window
  * streaming extension matches the batch lag+cumsum sessionization.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("exact-gap-boundary events merge into one session (stream and batch agree)") {
    // Spark's session_window merges ADJACENT windows: an event exactly
    // `gap` after the previous one (prev.end == next.start) joins the
    // SAME session; only gap > 30 min splits. Found the hard way at
    // sf0.1 (user 511, events 1800 s apart) — this fixture pins the
    // boundary so the batch lag+cumsum formulation can never drift to
    // `>=` again.
    implicit val sqlCtx = spark.sqlContext
    val fixture = Seq(
      (ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-01 10:30:00"), 1L), // exactly 1800 s later -> SAME session
      (ts("2024-01-01 11:00:01"), 1L)) // 1801 s later -> NEW session
    val stream = MemoryStream[(Timestamp, Long)]
    val agg = stream.toDF().toDF("ts", "user_id")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_boundary")
      .outputMode("complete").start()
    val streamed = try {
      stream.addData(fixture: _*)
      q.processAllAvailable()
      spark.table("sess_boundary").select("n").as[Long].collect().sorted.toSeq
    } finally q.stop()
    assert(streamed == Seq(1L, 2L), s"session_window sizes: $streamed")
    // the batch formulation (strict > gap) must agree on the same fixture
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val batch = fixture.toDF("ts", "user_id")
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess", when(col("prev").isNull ||
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))) > 1800, 1)
        .otherwise(0))
      .withColumn("sno", sum(col("new_sess")).over(byUser))
      .groupBy("user_id", "sno").agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect().sorted.toSeq
    assert(batch == Seq(1L, 2L), s"batch sessionization sizes: $batch")
  }

  test("MemoryStream complete-mode aggregate equals batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts("2024-01-01 08:10:00"), "click"),
      (2L, ts("2024-01-01 08:40:00"), "view"),
      (3L, ts("2024-01-01 09:05:00"), "click"),
      (4L, ts("2024-01-01 09:59:59"), "click"))
    val stream = MemoryStream[(Long, Timestamp, String)]
    stream.addData(rows: _*)
    val df = stream.toDF().toDF("event_id", "ts", "event_type")
    val agg = df.groupBy(hour(col("ts")).as("h")).agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("mem_hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("mem_hourly").orderBy("h")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val batch = rows.toDF("event_id", "ts", "event_type")
      .groupBy(hour(col("ts")).as("h")).agg(count(lit(1)).as("cnt"))
      .orderBy("h").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(streamed == batch && batch == Seq((8, 2L), (9, 2L)))
  }

  test("file-stream hourly snapshot equals batch hourly aggregate") {
    val batch = Tables.events(spark, sfDir)
      .groupBy(hour(col("ts")).as("h")).agg(count(lit(1)).as("cnt"))
      .orderBy("h").collect().toSeq
    val streamed = StreamOps.queries("q_stream_hourly")(spark, sfDir)
      .collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("flatMapGroupsWithState running totals match batch aggregate after two batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Double)]
    val df = stream.toDF().toDF("user_id", "value")
    val q = StreamOps.runningUserTotals(df).toDF()
      .writeStream.format("memory").queryName("mem_user_totals")
      .outputMode("update").start()
    try {
      stream.addData((1L, 1.50), (1L, 2.25), (2L, 10.00))
      q.processAllAvailable()
      stream.addData((1L, 0.25), (3L, 5.00))
      q.processAllAvailable()
      // update mode re-emits a user's row each batch it changes: the LAST
      // emission per user is the running total
      val last = spark.table("mem_user_totals")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("total_cents"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.total_cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(last == Set((1L, 3L, 400L), (2L, 1L, 1000L), (3L, 1L, 500L)))
    } finally q.stop()
  }

  test("foreachBatch upsert keeps per-key latest across out-of-order batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val store = Scratch.dir("upsert_store_test")
    Scratch.clear(store)
    val stream = MemoryStream[(Long, String, Double, Timestamp, Long)]
    val df = stream.toDF().toDF("user_id", "event_type", "value", "ts", "event_id")
    val q = df.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) => StreamOps.upsertLatest(b.toDF(), store) }
      .start()
    try {
      stream.addData(
        (1L, "a", 1.0, ts("2024-01-01 10:00:00"), 100L),
        (2L, "b", 2.0, ts("2024-01-01 11:00:00"), 101L))
      q.processAllAvailable()
      // batch 2 arrives later but carries an OLDER event for user 2 (must
      // not clobber) and a newer one for user 1 (must replace)
      stream.addData(
        (1L, "c", 9.0, ts("2024-01-01 12:00:00"), 102L),
        (2L, "d", 0.0, ts("2024-01-01 09:00:00"), 99L))
      q.processAllAvailable()
      val got = spark.read.parquet(store)
        .select("user_id", "event_type", "value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((1L, "c", 9.0), (2L, "b", 2.0)), got.toString)
    } finally q.stop()
  }

  test("session_window streaming state op matches batch lag+cumsum sessions") {
    // batch reference: the q_sessionize pipeline
    val batchSessions = StreamOps.queries("q_sessionize")(spark, sfDir)
      .select("user_id", "sess_start", "sess_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet

    // streaming: session_window over the same (second-truncated) events
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      .as[(Long, Timestamp)].collect().toSeq
    val stream = MemoryStream[(Long, Timestamp)]
    stream.addData(evs: _*)
    val agg = stream.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("mem_sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("mem_sessions")
      .select(col("user_id"), col("w.start").as("s"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed == batchSessions && streamed.nonEmpty)
  }

  test("checkpointed restart processes only NEW files — exactly-once across runs") {
    val base = java.nio.file.Files.createTempDirectory("eo").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    new java.io.File(src).mkdirs()
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id")
    def drop(slice: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      slice.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(ev.schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drop(ev.filter(col("event_id") % 2 === 0), "00_even")
    runOnce()
    val n1 = spark.read.parquet(sink).count()
    drop(ev.filter(col("event_id") % 2 === 1), "01_odd")
    runOnce() // restart from the checkpoint: must NOT reprocess 00_even
    val out = spark.read.parquet(sink)
    assert(out.count() == ev.count())
    // every event exactly once — no dup from the restart, none missing
    assert(out.groupBy("event_id").count().filter(col("count") > 1).count() == 0)
    assert(n1 > 0 && n1 < ev.count())
  }

  test("streaming top users accumulates state ACROSS micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val q = StreamOps.streamingTopUsers(
        stream.toDF().toDF("event_type", "user_id"), 2).toDF()
      .writeStream.format("memory").queryName("mem_top_users")
      .outputMode("update").start()
    try {
      // batch 1: u1×2, u2×1 — top = (u1,2),(u2,1)
      stream.addData(("click", 1L), ("click", 1L), ("click", 2L))
      q.processAllAvailable()
      // batch 2: u2×2 more — cross-batch totals u2=3, u1=2; a per-batch
      // (state-less) computation would report u2=2 and rank u1 first
      stream.addData(("click", 2L), ("click", 2L))
      q.processAllAvailable()
      val fin = spark.table("mem_top_users")
        .groupBy("rank").agg(max(struct(col("n_seen"), col("cnt"), col("user_id"))).as("st"))
        .select(col("rank"), col("st.user_id"), col("st.cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fin == Set((1L, 2L, 3L), (2L, 1L, 2L)), fin.toString)
    } finally q.stop()
  }

  test("a drained entry records the session's shuffle partitions in its checkpoint") {
    // the state partition count is fixed when a query starts and written
    // to offsets/0 with the other execution settings; a drain takes the
    // session's count and leaves the session conf as it found it
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    StreamOps.queries("q_stream_hourly")(spark, sfDir).collect()
    assert(spark.conf.get(key) == before)
    val meta = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      Scratch.dir("ckpt_stream_hourly"), "offsets", "0")), "UTF-8")
    val recorded = ("\"" + java.util.regex.Pattern.quote(key) + "\":\"(\\d+)\"").r
      .findFirstMatchIn(meta).map(_.group(1))
    assert(recorded.contains(before), s"offsets/0 records $recorded, session has $before")
  }

  test("a drained entry rerun over the checkpoint its first run left returns the same rows") {
    Seq("q_stream_late_drop", "q_stream_upsert").foreach { q =>
      val first = StreamOps.queries(q)(spark, sfDir).collect().toSeq
      assert(new java.io.File(Scratch.dir("ckpt_" + q.stripPrefix("q_"))).isDirectory, q)
      val second = StreamOps.queries(q)(spark, sfDir).collect().toSeq
      assert(first.nonEmpty && second == first, q)
    }
  }
}
