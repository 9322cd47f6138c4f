package graft

import org.apache.spark.sql.SparkSession

/** The engine's one local-session factory: Bench, Verify, Explain and the
  * test suites all build their session here.
  *
  * A session built anywhere else works the same: what the engine installs
  * on a session (native functions, optimizer rule, planner strategy) goes
  * on at first use, through [[graft.functions.GraftExtensions.install]].
  */
object Session {

  /** Use the sort-based shuffle writer at every partition count. The
    * bypass-merge writer opens one temp file per reducer in every map task
    * and then concatenates them, an O(maps × reducers) tiny-file syscall
    * storm measured at ~60% of sampled task time across the suite at
    * local[32]. The sort writer emits one data + index file per map task,
    * which is also the path a cluster above the bypass threshold runs.
    * Only the writer changes; results do not.
    */
  private val BypassMergeThreshold = 1L

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition per
    * core, UTC session time and no UI. The default log level is ERROR:
    * `setLogLevel` overrides log4j2.properties at runtime, and WindowExec's
    * WARNs on bounded frames would flood the tail a Bench caller parses
    * the result line from.
    */
  def local(logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", BypassMergeThreshold)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
