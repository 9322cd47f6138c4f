package graft

import graft.operators.BboxSummary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Contract-level assertions: the query registry's guards, the
  * reference's pivot column contract (test/test_bbox.py:36), watermark
  * late-data semantics, and partition-pruning behavior.
  */
class ContractSpec extends SparkSpec {
  import spark.implicits._

  test("query registry: a name listed twice or a blank oracle fails, naming the query") {
    // the engine's own registry builds: no name twice, no blank oracle
    assert(SparkEntry.oracleSql.size == SparkEntry.queries.size)
    val build: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    def q(name: String, oracle: String = "SELECT 1"): Q = Q(name, build, oracle)
    def module(qs: Q*): QueryModule = new QueryModule { def entries: Seq[Q] = qs }
    def failure(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    // within one module: a Map literal would keep only the later q_a
    val inModule = module(q("q_a"), q("q_b"), q("q_a", "SELECT 2"))
    assert(failure(inModule.queries).contains("q_a"))
    assert(failure(inModule.oracles).contains("q_a"))
    // across modules, the way SparkEntry joins them
    val across = Seq(module(q("q_a")), module(q("q_b"), q("q_a"))).flatMap(_.entries)
    assert(failure(Q.queries(across)).contains("q_a"))
    assert(failure(Q.oracles(across)).contains("q_a"))
    // blank, and null (what a val in an initialisation cycle would hold)
    assert(failure(module(q("q_a"), q("q_blank", " \n ")).oracles).contains("q_blank"))
    assert(failure(module(q("q_null", null)).oracles).contains("q_null"))
    // the query map renders no oracle
    var rendered = 0
    module(Q("q_lazy", build, { rendered += 1; "SELECT 1" })).queries
    assert(rendered == 0)
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
    Scratch.clear(path)
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
