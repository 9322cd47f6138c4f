package graft

/** Plan-audit main: prints the formatted physical plan of selected queries
  * so the scale posture is inspectable (broadcast joins, pushed filters,
  * pruned schemas, whole-stage codegen spans). Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  * The session is `Session.local()`: local[$SPARK_GRAFT_CPUS].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
