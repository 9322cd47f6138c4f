package graft

/** Plan-audit main: prints the formatted physical plan of selected queries
  * so the scale posture is inspectable (broadcast joins, pushed filters,
  * pruned schemas, whole-stage codegen spans). Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  * The session is `Session.local()`: local[$SPARK_GRAFT_CPUS]. Every plan
  * that can be printed is; then each unknown or failed query is named on
  * stderr and the run exits 1.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    val failures = names.flatMap { n =>
      SparkEntry.queries.get(n) match {
        case None => Some(s"$n: unknown query")
        case Some(fn) =>
          println(s"\n========== $n ==========")
          try { fn(spark, sfDir).explain("formatted"); None }
          catch { case e: Throwable => Some(s"$n failed: ${e.getMessage}") }
      }
    }
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[explain] $f"))
      sys.exit(1)
    }
  }
}
