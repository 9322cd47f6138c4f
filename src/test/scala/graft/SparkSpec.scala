package graft

import org.apache.spark.graft.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The local properties of every Spark job started while `body` ran. */
  def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    SparkInternals.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { body; SparkInternals.waitUntilEmpty(sc) }
    finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(logLevel = "WARN")
}
