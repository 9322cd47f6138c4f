package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Epoch microseconds from the monotonic clock, comparable with the
  * epoch-millisecond times Spark stamps on listener events.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Long, var endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** The traced run's span tree and per-layer counters.
  *
  * The benchmark opens the harness spans itself around its calls into
  * the engine: pass → op → {build, plan, action, drain}. Spark's public
  * listeners add job → stage below them; a job hangs under the innermost
  * harness span open when it started. Counters are taken from the same
  * events, so every count is attributed where its work happened.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def begin(kind: String, name: String): Span = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name,
      Clock.nowUs, -1L)
    spans += s
    open = s :: open
    s
  }

  def end(s: Span): Unit = {
    s.endUs = Clock.nowUs
    open = open.filterNot(_ eq s)
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = begin(kind, name)
    try body finally end(s)
  }

  // ---- listener side (written on the listener-bus threads) ----
  import Tracer.JobRec
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, (Long, Long)]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  private var stateMemPeak = 0L

  private def add(k: String, v: Double): Unit = counts(k) += v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = JobRec(e.time * 1000L, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        for (a <- i.submissionTime; b <- i.completionTime)
          stages(i.stageId) = (a * 1000L, b * 1000L)
        add("sched.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("sched.tasks", 1)
      val info = e.taskInfo
      if (info.failed || info.killed) add("sched.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("sched.task_delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime) / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("io.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add("io.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("io.write_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("io.write_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
        add("plans.aqe_replans", 1)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      add("plans.catalyst_s",
        qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      // the write node may sit inside an adaptive plan
      Tracer.Plans.foreach(qe.executedPlan) {
        case w: DataWritingCommandExec =>
          val ms = Seq("taskCommitTime", "jobCommitTime")
            .flatMap(w.cmd.metrics.get).map(_.value).sum
          add("io.commit_s", ms / 1e3)
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
        add("streaming.batches", 1)
        add("streaming.input_rows", p.numInputRows.toDouble)
        add("streaming.plan_s", ms("queryPlanning"))
        add("streaming.add_batch_s", ms("addBatch"))
        add("streaming.wal_commit_s", ms("walCommit") + ms("commitOffsets"))
        add("streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
        stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
        stateMemPeak = math.max(stateMemPeak, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Wait for every event posted so far, so none from before is
    * counted, then start listening.
    */
  def attach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(sparkListener)
    classic.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every event posted so far, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    classic.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Storage held by cached blocks right now, for `cache.peak_bytes`. */
  def sampleCache(): Unit = synchronized {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    counts("cache.peak_bytes") = math.max(counts("cache.peak_bytes"), b.toDouble)
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  private def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Job and stage spans hung under the harness spans, for the report. */
  def fullTree: Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.from(spans)
    val harness = spans.filter(_.endUs >= 0).toSeq
    jobs.toSeq.sortBy(_._1).foreach { case (id, j) if j.endUs >= 0 =>
      val parent = harness.filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
        .sortBy(_.durUs).headOption.map(_.id).getOrElse(-1)
      val js = Span(out.size, parent, "job", s"job $id", j.startUs, j.endUs)
      out += js
      j.stages.flatMap(st => stages.get(st).map(st -> _)).foreach { case (st, (a, b)) =>
        out += Span(out.size, js.id, "stage", s"stage $st", a, b)
      }
    case _ =>
    }
    out.toSeq
  }

  /** Per-layer metrics over `passes` traced passes of total wall `wallS`. */
  def layers(passes: Int, wallS: Double, cpus: Int): Map[String, Double] = synchronized {
    val tree = fullTree
    val byParent = tree.groupBy(_.parent)
    def kids(s: Span) = byParent.getOrElse(s.id, Nil)
    def total(kind: String) = tree.filter(_.kind == kind).map(_.durUs).sum / 1e6
    val jobSpans = tree.filter(_.kind == "job")
    def jobsUnder(kind: String) = {
      val ids = tree.filter(_.kind == kind).map(_.id).toSet
      jobSpans.count(j => ids(j.parent))
    }
    // gaps between the first and last job of each action: driver time
    // between consecutive jobs of one call
    val gaps = tree.filter(_.kind == "action").map { a =>
      val js = kids(a).filter(_.kind == "job").map(j => (j.startUs, j.endUs))
      if (js.isEmpty) 0L else {
        val lo = js.map(_._1).min; val hi = js.map(_._2).max
        (hi - lo) - covered(js, lo, hi)
      }
    }.sum / 1e6
    val perPass = Tracer.summed.map(_ -> 0.0).toMap ++ Map(
      "operators.build_s" -> total("build"),
      "operators.build_jobs" -> jobsUnder("build").toDouble,
      "plans.plan_s" -> total("plan"),
      "sched.jobs" -> jobSpans.size.toDouble,
      "sched.job_gap_s" -> gaps,
      "cache.drain_s" -> total("drain"),
      "streaming.state_rows" -> stateRows.values.sum.toDouble
    ) ++ counts.view.filterKeys(_ != "cache.peak_bytes").toMap
    perPass.map { case (k, v) => k -> v / passes } ++ Map(
      "exec.busy_frac" -> counts("exec.run_s") / (wallS * cpus),
      "cache.peak_bytes" -> counts("cache.peak_bytes"),
      "streaming.state_mem_bytes" -> stateMemPeak.toDouble)
  }

  /** Self time per span kind (duration minus what its children cover),
    * per traced pass.
    */
  def selfTimes(passes: Int): Map[String, Double] = synchronized {
    val tree = fullTree
    val byParent = tree.groupBy(_.parent)
    tree.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val ch = byParent.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
        s.durUs - covered(ch, s.startUs, s.endUs)
      }.sum / 1e6 / passes
    }
  }
}

object Tracer {
  private final case class JobRec(startUs: Long, var endUs: Long, stages: Seq[Int])

  private object Plans extends AdaptiveSparkPlanHelper

  /** Counters summed over the traced passes; zero when nothing fired. */
  private val summed = Seq(
    "plans.catalyst_s", "plans.aqe_replans", "sched.stages", "sched.tasks",
    "sched.failed_tasks", "sched.task_delay_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "shuffle.spill_bytes", "io.scan_bytes", "io.scan_rows", "io.write_bytes",
    "io.write_rows", "io.commit_s", "streaming.batches", "streaming.input_rows",
    "streaming.plan_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.state_commit_s")
}
