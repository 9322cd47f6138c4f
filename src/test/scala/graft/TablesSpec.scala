package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.types._

/** Tables.load remembers each file's inferred schema: a repeat load starts
  * no Spark job, and a rewritten file is inferred afresh.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second load of the same table starts no Spark job") {
    val first = Tables.nation(spark, sfDir).schema
    var second: StructType = null
    val jobs = jobsDuring { second = Tables.nation(spark, sfDir).schema }
    assert(jobs.size == 0, "jobs on a repeat load")
    assert(second == first)
    assert(Tables.nation(spark, sfDir).collect().toSet ==
      spark.read.parquet(s"$sfDir/nation.parquet").collect().toSet)
  }

  test("a rewritten table is loaded with its new schema") {
    val dir = Scratch.dir("tables_rewrite")
    val tbl = s"$dir/t.parquet"
    Seq((1, "a"), (2, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(tbl)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "name"))
    Seq((7L, 2.5, "x")).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(tbl)
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.schema == StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("w", StringType))))
    assert(reloaded.as[(Long, Double, String)].collect().toSeq == Seq((7L, 2.5, "x")))

    // a single-file table (the layout of the test tables) replaced in place
    def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val staged = s"$dir/staged"
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$dir/f.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq((1, "a")).toDF("id", "name"))
    assert(Tables.load(spark, dir, "f").schema.fieldNames.toSeq == Seq("id", "name"))
    writeFile(Seq(("p", 3L, 4L)).toDF("s", "x", "y"))
    val file = Tables.load(spark, dir, "f")
    assert(file.schema.fieldNames.toSeq == Seq("s", "x", "y"))
    assert(file.as[(String, Long, Long)].collect().toSeq == Seq(("p", 3L, 4L)))
  }
}
