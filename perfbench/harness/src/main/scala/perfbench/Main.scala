package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark harness: one JVM runs one workload.
  *
  *   set-up → check pass → timed passes
  *
  * Set-up is session creation plus one untimed first-touch query. The
  * check pass is untimed and cold: it also writes every checked output
  * for run.py to compare with DuckDB. Timed passes then run for
  * `--seconds`, at least `--min-passes`. With
  * `--trace 1` the timed window alternates untraced and traced passes:
  * the traced ones feed the per-layer metrics, and the difference of the
  * two medians is the tracing overhead. Everything lands in
  * `<work>/record.json`, which perfbench/run.py reads.
  */
object Main {
  final case class OpResult(name: String, wallS: Double, error: Option[String])
  final case class PassResult(index: Int, kind: String, wallS: Double,
                              ops: Seq[OpResult], gcS: Double, runqWaitS: Double,
                              jitCpuS: Double, loadavg1: Double)

  private val bare = new Phases { def apply[T](kind: String)(body: => T): T = body }
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try { run(a); 0 } catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    sys.exit(code)
  }

  private def run(a: Map[String, String]): Unit = {
    val launchUs = a("launch-us").toLong
    val data = a("data")
    val work = a("work")
    val cpus = a("cpus").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val proc = new Proc
    proc.sample()
    val mainUs = Clock.nowUs

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUs = Clock.nowUs
    Workload.noop(SparkEntry.queries("q_j1_broadcast_join")(spark, data))
    val readyUs = Clock.nowUs

    val wl = Workload(a("workload"), spark, data, work, seed)
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(i: Int, kind: String, tracer: Option[Tracer],
                out: Option[String] = None): PassResult = {
      wl.prepare()
      proc.sample()
      val (g0, q0, j0) = (Proc.gcS, proc.runqWaitS, proc.jitCpuS)
      val passSpan = tracer.map(_.begin("pass", s"pass $i"))
      val t0 = System.nanoTime()
      val ops = wl.pass(i, out).map { op =>
        val ph = tracer.fold(bare) { t =>
          new Phases {
            def apply[T](k: String)(body: => T): T = {
              if (k == "drain") t.sampleCache()
              t.span(k, op.name)(body)
            }
          }
        }
        val opSpan = tracer.map(_.begin("op", op.name))
        val o0 = System.nanoTime()
        val err =
          try { op.body(ph); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(400))
          }
          finally opSpan.foreach(s => tracer.get.end(s))
        val r = OpResult(op.name, (System.nanoTime() - o0) / 1e9, err)
        err.foreach(e => failures += Map("pass" -> i, "op" -> op.name, "error" -> e))
        r
      }
      val wall = (System.nanoTime() - t0) / 1e9
      passSpan.foreach(s => tracer.get.end(s))
      proc.sample()
      PassResult(i, kind, wall, ops, Proc.gcS - g0, proc.runqWaitS - q0,
        proc.jitCpuS - j0, Proc.loadavg1)
    }

    // Runs passes until `seconds` have gone by and at least `min` ran.
    val passes = mutable.ArrayBuffer.empty[PassResult]
    def loop(seconds: Double, min: Int)(next: Int => PassResult): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) {
        passes += next(passes.size); n += 1
      }
    }
    val checkDir = s"$work/check"
    passes += runPass(0, "check", None, Some(checkDir))
    val steal0 = Proc.stealS
    val timed0 = Clock.nowUs
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val first = passes.size
    tracer match {
      case None => loop(a("seconds").toDouble, a("min-passes").toInt)(i =>
        runPass(i, "timed", None))
      case Some(t) =>
        // untraced and traced passes alternate, untraced first, so the
        // JIT slope and box drift hit both alike
        loop(a("seconds").toDouble, 3) { i =>
          if ((i - first) % 2 == 0) runPass(i, "timed", None)
          else {
            t.attach()
            try runPass(i, "traced", Some(t)) finally t.detach()
          }
        }
    }
    val timedS = (Clock.nowUs - timed0) / 1e6
    val stealS = Proc.stealS - steal0
    val peakRss = Proc.peakRssMb
    val oldGenPeak = Proc.oldGenPeakMb

    val checks = wl.checks(checkDir).map(c =>
      Map("name" -> c.name, "dir" -> c.dir, "oracle_sql" -> c.oracleSql))

    val layers = tracer.map { t =>
      val tp = passes.filter(_.kind == "traced")
      Map("metrics" -> t.layers(tp.size, tp.map(_.wallS).sum, cpus),
        "self_time_s" -> t.selfTimes(tp.size))
    }
    tracer.foreach { t =>
      val spans = t.fullTree.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
      Files.writeString(Paths.get(work, "spans.json"), json.writeValueAsString(spans))
    }

    val record = Map(
      "workload" -> a("workload"), "seed" -> seed, "cpus" -> cpus, "traced" -> traced,
      "setup" -> Map(
        "jvm_start_s" -> (mainUs - launchUs) / 1e6,
        "session_s" -> (sessionUs - mainUs) / 1e6,
        "first_touch_s" -> (readyUs - sessionUs) / 1e6,
        "total_s" -> (readyUs - launchUs) / 1e6),
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "kind" -> p.kind, "wall_s" -> p.wallS,
        "gc_s" -> p.gcS, "runq_wait_s" -> p.runqWaitS, "jit_cpu_s" -> p.jitCpuS,
        "loadavg1" -> p.loadavg1,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS,
          "failed" -> o.error.isDefined)))),
      "failures" -> failures,
      "peak_rss_mb" -> peakRss,
      "old_gen_peak_mb" -> oldGenPeak,
      "contention" -> Map(
        "timed_window_s" -> timedS, "host_steal_s" -> stealS,
        "loadavg1_end" -> Proc.loadavg1, "jvm_gc_s" -> Proc.gcS,
        "jvm_runq_wait_s" -> proc.runqWaitS, "jvm_jit_cpu_s" -> proc.jitCpuS),
      "checks" -> checks,
      "layers" -> layers)
    Files.writeString(Paths.get(work, "record.json"), json.writeValueAsString(record))

    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }
}
