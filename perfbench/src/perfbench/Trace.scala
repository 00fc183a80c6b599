package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call the benchmark makes into a layer's public function. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One top-level operation (a request, a write, a batch) whose Spark jobs
  * are attributed to it. With one operation in flight, every job that
  * starts inside the window belongs to it. */
final case class OpWindow(id: Int, kind: String, startMs: Long, endMs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val windows = mutable.ArrayBuffer.empty[OpWindow]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, parent, currentOp, t0, t1)
      }
    }

  /** Runs `body` as one operation of `kind`, in a span called `name`; its
    * spans and Spark jobs carry the operation's id. */
  def op[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = windows.size
      currentOp = id
      val t0 = System.currentTimeMillis()
      try span(name)(body)
      finally {
        windows += OpWindow(id, kind, t0, System.currentTimeMillis())
        currentOp = -1
      }
    }

  def all: Seq[Span] = spans.toSeq
  def ops: Seq[OpWindow] = windows.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** name → (calls, total ms, self ms); self = total minus direct children. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(s => s.ms - childMs(s.id)).sum)
    }.sortBy(-_._4)
  }
}

/** Per-operation Spark counters. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Benchmark-owned listener: counts jobs, stages, tasks, shuffle, spill,
  * executor run/CPU and GC time, and attributes them by event time to the
  * operation window they started in (`attribute`, after the bus drained). */
final class JobListener extends SparkListener {
  private final case class Job(start: Long, var end: Long, stages: Seq[Int])
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageDone = mutable.Set.empty[Int]
  private val stageTasks = mutable.Map.empty[Int, Array[Long]].withDefault(_ => new Array[Long](6))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageDone += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageTasks(e.stageId)
    a(0) += 1
    if (m != null) {
      a(1) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a(2) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(3) += m.executorRunTime
      a(4) += m.executorCpuTime
      a(5) += m.jvmGCTime
    }
    stageTasks(e.stageId) = a
  }

  /** Waits for the listener bus, then folds every job into its window. */
  def attribute(sc: SparkContext, windows: Seq[OpWindow]): Map[Int, OpCounters] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = mutable.Map.empty[Int, OpCounters]
      def windowOf(t: Long) = windows.find(w => t >= w.startMs && t <= w.endMs)
      jobs.foreach { case (_, j) =>
        windowOf(j.start).foreach { w =>
          val c = out.getOrElseUpdate(w.id, new OpCounters)
          c.jobs += 1
          c.jobIntervals += ((j.start, if (j.end < 0) w.endMs else math.min(j.end, w.endMs)))
          j.stages.foreach { s =>
            if (stageDone(s)) c.stages += 1
            stageTasks.get(s).foreach { a =>
              c.tasks += a(0); c.shuffleBytes += a(1); c.spillBytes += a(2)
              c.runMs += a(3); c.cpuNs += a(4); c.gcMs += a(5)
            }
          }
        }
      }
      out.toMap
    }
  }
}

object JobListener {
  /** Wall time of the window during which none of its jobs is running. */
  def driverMs(w: OpWindow, c: OpCounters): Double = {
    val iv = c.jobIntervals.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) busy += curE - curS
    math.max(0L, (w.endMs - w.startMs) - busy).toDouble
  }

  val SparkFields: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_bytes",
    "spill_bytes", "executor_run_ms", "executor_cpu_ms", "gc_ms", "driver_ms")
  val SparkUnits: Map[String, String] = Map("jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms", "gc_ms" -> "ms", "driver_ms" -> "ms")

  /** Mean per operation of `kind`, as spark.<kind>.<field>; 0 when the
    * workload runs no such operation. */
  def perKind(kind: String, windows: Seq[OpWindow], counters: Map[Int, OpCounters]): Seq[(String, Double)] = {
    val ws = windows.filter(_.kind == kind)
    def mean(f: (OpWindow, OpCounters) => Double): Double =
      if (ws.isEmpty) 0.0
      else ws.map(w => f(w, counters.getOrElse(w.id, new OpCounters))).sum / ws.size
    Seq(
      "jobs" -> mean((_, c) => c.jobs.toDouble),
      "stages" -> mean((_, c) => c.stages.toDouble),
      "tasks" -> mean((_, c) => c.tasks.toDouble),
      "shuffle_bytes" -> mean((_, c) => c.shuffleBytes.toDouble),
      "spill_bytes" -> mean((_, c) => c.spillBytes.toDouble),
      "executor_run_ms" -> mean((_, c) => c.runMs.toDouble),
      "executor_cpu_ms" -> mean((_, c) => c.cpuNs / 1e6),
      "gc_ms" -> mean((_, c) => c.gcMs.toDouble),
      "driver_ms" -> mean((w, c) => driverMs(w, c))
    ).map { case (f, v) => s"spark.$kind.$f" -> v }
  }
}
