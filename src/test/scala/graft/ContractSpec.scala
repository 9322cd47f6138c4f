package graft

import graft.operators.BboxSummary
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Contract-level assertions: the reference's pivot column contract
  * (test/test_bbox.py:36), watermark late-data semantics, and
  * partition-pruning behavior.
  */
class ContractSpec extends SparkSpec {
  import spark.implicits._

  test("driver contract: oracles and queries align, no cross-module name collisions") {
    // a typo'd oracle key silently downgrades its query to a rows-only
    // check at the driver; a duplicate query name across modules silently
    // drops one of the two in the ++-merged map — both must be loud here
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).mkString(", ")}")
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).mkString(", ")}")
    val parts = Seq(
      graft.sources.Sources.queries, graft.operators.Relational.queries,
      graft.operators.StarPipeline.queries, graft.operators.Topics.queries,
      graft.operators.Analytics.queries, graft.operators.TextAnalysis.queries,
      graft.operators.Dedup.queries, graft.operators.Similarity.queries,
      graft.operators.Multimodal.queries, graft.streaming.StreamOps.queries,
      graft.operators.BboxSummary.queries, graft.operators.TemporalJoins.queries,
      graft.operators.Pipeline.queries, graft.operators.Training.queries,
      graft.operators.Curation.queries, graft.operators.Scd.queries,
      graft.operators.Sketches.queries, graft.operators.SqlSurface.queries,
      graft.operators.Retrieval.queries, graft.operators.Evolution.queries,
      graft.operators.Graph.queries)
    val names = parts.flatMap(_.keys)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names across modules: ${dupes.mkString(", ")}")
    assert(names.size == q.size)
  }

  test("bbox summary honors the reference's 21-column contract") {
    val df = BboxSummary.summary(spark, sfDir)
    val expected = Seq("bbox_label") ++ BboxSummary.countColumns ++
      Seq("city", "county", "state", "postcode")
    assert(df.columns.toSeq == expected)
    assert(expected.size == 21)
    assert(df.count() > 0)
    val anyNegative = BboxSummary.countColumns
      .map(c => col(c) < 0).reduce(_ || _)
    assert(df.filter(anyNegative).count() == 0) // fill-0, never null/negative
  }

  test("watermark drops events later than the horizon (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val stream = MemoryStream[(Timestamp, Long)]
    val agg = stream.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      stream.addData((ts("2024-01-01 10:05:00"), 1L), (ts("2024-01-01 10:07:00"), 2L))
      q.processAllAvailable()
      stream.addData((ts("2024-01-01 11:00:00"), 3L)) // watermark → 10:50
      q.processAllAvailable()
      stream.addData((ts("2024-01-01 10:06:00"), 4L)) // later than horizon → dropped
      q.processAllAvailable()
      stream.addData((ts("2024-01-01 12:00:00"), 5L)) // flush the 11:00 window
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .select(col("w.start").cast("string").as("s"), col("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val w10 = rows.filter(_._1.startsWith("2024-01-01 10:00"))
      assert(w10 == Seq(("2024-01-01 10:00:00", 2L)),
        s"10:00 window must emit once with the late event dropped, got $rows")
    } finally q.stop()
  }

  test("partitioned write enables partition pruning at the scan") {
    val path = Scratch.dir("orders_partitioned")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val dir = new java.io.File(path)
    if (dir.exists()) rm(dir)
    Tables.orders(spark, sfDir)
      .withColumn("y", year(col("o_orderdate")))
      .write.partitionBy("y").parquet(path)
    val pruned = spark.read.parquet(path).filter(col("y") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1995"), plan)
    assert(pruned.count() > 0)
    // pruning must actually reduce files read vs the full scan
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    val allFiles = spark.read.parquet(path).select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles)
  }
}
