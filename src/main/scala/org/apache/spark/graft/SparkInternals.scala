package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}

/** `private[spark]` utilities a production operator legitimately needs,
  * re-exposed the same way [[org.apache.spark.sql.graft.Bridge]] does for
  * `Dataset.ofRows`: the executor's configured local/spill directory
  * (custom exec spills must land on `spark.local.dir`'s provisioned disks,
  * not `java.io.tmpdir`, often a small root partition), and a drain of the
  * listener bus for code that counts events with a SparkListener.
  */
object SparkInternals {
  /** A Spark local dir for scratch files, or java.io.tmpdir when no
    * SparkEnv is live (plain unit tests).
    */
  def localDir(): java.io.File = {
    val env = SparkEnv.get
    val path =
      if (env == null) System.getProperty("java.io.tmpdir")
      else org.apache.spark.util.Utils.getLocalDir(env.conf)
    val f = new java.io.File(path)
    f.mkdirs()
    f
  }

  /** Block until every event posted so far has reached the listeners
    * (at most 10 s), so a SparkListener's counts are complete.
    */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
