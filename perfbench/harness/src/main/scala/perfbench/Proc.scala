package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Contention readings from /proc and the JVM, so a drifted run can be
  * told apart from a slower program using the record alone.
  *
  * Per-thread counters (run-queue wait from `schedstat`, JIT-thread CPU
  * from `stat`) vanish when a thread exits, so each sample keeps the
  * largest value seen per thread id and the totals sum those: a thread
  * that exits loses only what it did since the previous sample.
  */
final class Proc {
  private val runqWaitNs = scala.collection.mutable.Map.empty[String, Long]
  private val jitTicks = scala.collection.mutable.Map.empty[String, Long]
  private val ticksPerS = 100.0 // USER_HZ on Linux

  def sample(): Unit = {
    val tasks = Try(Files.list(Paths.get("/proc/self/task")).iterator.asScala.toList)
      .getOrElse(Nil)
    tasks.foreach { t =>
      val tid = t.getFileName.toString
      read(t.resolve("schedstat")).map(_.trim.split("\\s+")).foreach { f =>
        if (f.length > 1) Try(f(1).toLong).foreach(v =>
          runqWaitNs(tid) = math.max(v, runqWaitNs.getOrElse(tid, 0L)))
      }
      val comm = read(t.resolve("comm")).map(_.trim).getOrElse("")
      if (comm.contains("CompilerThre")) read(t.resolve("stat")).foreach { st =>
        // fields after the parenthesised comm: state is field 3, so
        // utime/stime (fields 14/15) sit at offsets 11/12
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        Try(f(11).toLong + f(12).toLong).foreach(v =>
          jitTicks(tid) = math.max(v, jitTicks.getOrElse(tid, 0L)))
      }
    }
  }

  def runqWaitS: Double = runqWaitNs.values.sum / 1e9
  def jitCpuS: Double = jitTicks.values.sum / ticksPerS

  private def read(p: Path): Option[String] = Try(Files.readString(p)).toOption
}

object Proc {
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def loadavg1: Double =
    Try(Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble).getOrElse(-1.0)

  /** Host steal time in seconds since boot (all CPUs), from /proc/stat. */
  def stealS: Double = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    f(8).toDouble / 100.0
  }.getOrElse(-1.0)

  /** Peak use of the old generation, in MiB: heap that outlived the
    * young collections. With a fixed young generation the RSS peak hides
    * changes in short-lived allocation; this one shows retained memory.
    */
  def oldGenPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.contains("Old Gen")).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process, in MiB. */
  def peakRssMb: Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)
}
