package perfbench

import graft.{GraftSession, Tables}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

/** One timed operation of a workload, as the client saw it. */
final case class OpRecord(name: String, iter: Int, wallS: Double, ok: Boolean,
                          error: String, layers: Map[String, Double])

/** The benchmark JVM. One process, one client, closed loop: each
  * operation starts only after the previous one returned.
  *
  * `--workload <corpus_dedup|hub_ingest> --data <dir> --work <dir>
  *  --seconds <s> --trace <0|1> --seed <n> --out <result.json>`
  *
  * Inputs are generated before this JVM starts (see run.py); the JVM
  * never writes outside `--work` and `--out`. With `--trace 1` the
  * passive collectors are attached and the spans are written to
  * `<work>/spans.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val tracer = new Tracer(trace)
    val t0 = System.nanoTime()
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val setup = LinkedHashMap.empty[String, Double]
    val spark = tracer.span("graft.session")(GraftSession.local(cpus = cpus, appName = "perfbench"))
    setup("graft.session_s") = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) Some(new ExecListener) else None
    if (trace) LiveHeap.install()
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val h = new Harness(spark, tracer, listener, a("data"), a("work"), a("seconds").toDouble)
    val wl: Workload = a("workload") match {
      case "corpus_dedup" => new CorpusDedup(h)
      case "hub_ingest" => new HubIngest(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.span(s"workload.${a("workload")}") {
      wl.setup(setup)
      awaitGo(a("work"))
      wl.run()
    }
    tracer.endTraces()
    val extra = wl.finish()
    val result = LinkedHashMap[String, Any](
      "workload" -> a("workload"),
      "cpus" -> cpus,
      "setup" -> setup,
      "timed_wall_s" -> h.timedWall,
      "ops" -> h.ops.map(o => LinkedHashMap[String, Any](
        "name" -> o.name, "iter" -> o.iter, "wall_s" -> o.wallS, "ok" -> o.ok,
        "error" -> o.error, "layers" -> o.layers)),
      "rss_peak_mb" -> Main.rssPeakMb,
      "heap_peak_mb" -> LiveHeap.peakMb,
      "self_times" -> tracer.selfTimes.map { case (n, (k, tot, self)) =>
        n -> LinkedHashMap("count" -> k, "total_s" -> tot, "self_s" -> self) },
      "extra" -> extra)
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json.value(result))
    if (trace) Files.writeString(Paths.get(a("work"), "spans.json"), tracer.toJson(t0))
  }

  /** Set-up ends when both sides are ready: this JVM signals `ready`,
    * then waits for run.py's `go`, written once the expected outputs
    * are computed, so nothing else runs during the measured window. */
  private def awaitGo(work: String): Unit = {
    Files.writeString(Paths.get(work, "ready"), "")
    while (!Files.exists(Paths.get(work, "go"))) Thread.sleep(5)
  }

  /** peak resident set of this JVM (VmHWM), in MB */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

}

/** Peak of the heap in use right after a garbage collection, in MB: what
  * the program kept live, which the committed heap behind RSS hides.
  * Fed by the collectors' notifications (traced run only). */
object LiveHeap {
  private val peak = new java.util.concurrent.atomic.AtomicLong

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max(_, _))
          }, null, null)
      case _ =>
    }
  }

  def peakMb: Double = peak.get / 1048576.0
}

trait Workload {
  /** untimed: inputs and warm-up */
  def setup(times: LinkedHashMap[String, Double]): Unit
  /** the timed closed loop */
  def run(): Unit
  /** untimed: anything measured after the loop (kernel probe, counts) */
  def finish(): Map[String, Any] = Map.empty
}

final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val listener: Option[ExecListener], val data: String,
                    val work: String, val seconds: Double) {
  val ops = ArrayBuffer.empty[OpRecord]
  /** sum of operation walls: time spent between ops (clean-up, output
    * checks) is outside the measured window */
  var timedWall = 0.0

  def tables: Tables = Tables(spark, data)
  def deadlinePassed: Boolean = timedWall >= seconds

  def drain(): Unit = if (listener.isDefined) ListenerBusDrain.drain(spark.sparkContext)

  /** the noop sink forces full evaluation of every output column */
  def noop(df: DataFrame): Unit = tracer.span("action") {
    df.write.format("noop").mode("overwrite").save()
  }

  /** Time `body` as one operation. Exceptions mark it failed; the
    * session's cache is cleared after every op so ops stay independent.
    * With tracing on, job/task/planner numbers of the op are attached.
    * `check` runs after the op's numbers are taken and before the cache
    * is cleared, outside the measured window. */
  def op(name: String, iter: Int, check: Option[() => Unit] = None)(body: OpTimer => Unit): Boolean = {
    drain()
    val before = listener.map(_.snapshot())
    val actionsBefore = listener.map(_.actionCount).getOrElse(0)
    val timer = new OpTimer
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error =
      try { tracer.span(s"op.$name")(body(timer)); null }
      catch { case e: Throwable => Harness.describe(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    timedWall += wall
    val layers = listener.map { l =>
      drain()
      val b = before.get
      val c = l.snapshot()
      val inJob = l.inJobMs(startMs, endMs) / 1e3
      val ph = l.phasesSince(actionsBefore)
      Map(
        "queries.build_s" -> timer.buildS,
        "queries.build_jobs" -> (if (timer.buildEndMs > 0) l.jobsStartedIn(startMs, timer.buildEndMs) else 0).toDouble,
        "plans.analysis_s" -> (timer.analysisS + ph.getOrElse("analysis", 0.0)),
        "plans.optimization_s" -> ph.getOrElse("optimization", 0.0),
        "plans.planning_s" -> ph.getOrElse("planning", 0.0),
        "exec.jobs" -> (c.jobs - b.jobs).toDouble,
        "exec.stages" -> (c.stages - b.stages).toDouble,
        "exec.tasks" -> (c.tasks - b.tasks).toDouble,
        "exec.in_job_s" -> inJob,
        "exec.gap_s" -> math.max(0.0, wall - inJob),
        "exec.task_run_s" -> (c.runMs - b.runMs) / 1e3,
        "exec.task_cpu_s" -> (c.cpuNs - b.cpuNs) / 1e9,
        "exec.task_overhead_s" -> (c.overheadMs - b.overheadMs) / 1e3,
        "exec.gc_s" -> (c.gcMs - b.gcMs) / 1e3,
        "exec.shuffle_read_bytes" -> (c.shuffleRead - b.shuffleRead).toDouble,
        "exec.shuffle_write_bytes" -> (c.shuffleWrite - b.shuffleWrite).toDouble,
        "exec.spill_bytes" -> (c.spill - b.spill).toDouble,
        "exec.input_bytes" -> (c.input - b.input).toDouble,
        "exec.output_bytes" -> (c.output - b.output).toDouble,
        "exec.failed_tasks" -> (c.failedTasks - b.failedTasks).toDouble,
        "op.wall_s" -> wall)
    }.getOrElse(Map.empty)
    ops += OpRecord(name, iter, wall, error == null, error, layers)
    if (error == null) check.foreach(c => tracer.span("check")(c()))
    spark.catalog.clearCache()
    error == null
  }

  /** A declared query as one op: build the DataFrame (iterative operators
    * run their eager loops and checkpoints here), then run it into the
    * noop sink. Its output is then written, untimed, to
    * `<work>/out/<name>/<iter>` for the checks run after the JVM exits;
    * a failed write is kept in `checkErrors`. */
  def queryOp(name: String, iter: Int)(build: => DataFrame): Boolean = {
    var df: DataFrame = null
    op(name, iter, Some(() => writeForCheck(s"$name/$iter", df))) { t =>
      val s = System.nanoTime()
      df = tracer.span("queries.build")(build)
      t.buildS = (System.nanoTime() - s) / 1e9
      t.buildEndMs = System.currentTimeMillis()
      if (listener.isDefined)
        t.analysisS = df.queryExecution.tracker.phases.get("analysis").fold(0.0)(_.durationMs / 1e3)
      noop(df)
    }
  }

  val checkErrors = LinkedHashMap.empty[String, String]

  private def writeForCheck(key: String, df: DataFrame): Unit =
    try df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$key")
    catch { case e: Throwable => checkErrors(key) = Harness.describe(e) }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }
}

object Harness {
  def describe(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300)
}

final class OpTimer {
  var buildS = 0.0
  var buildEndMs = 0L
  var analysisS = 0.0
}
