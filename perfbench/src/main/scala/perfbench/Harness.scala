package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts attempted and failed operations. A failed operation yields no
  * timing, so a failure can never read as a fast sample. */
final class Ops(log: String => Unit = s => System.err.println(s)) {
  private var attemptedN = 0L
  private var failedN = 0L

  def attempted: Long = attemptedN
  def failed: Long = failedN

  /** Run `f`, returning its value and wall seconds, or None if it threw. */
  def timed[A](name: String)(f: => A): Option[(A, Double)] = {
    attemptedN += 1
    val t0 = System.nanoTime()
    try {
      val a = f
      Some((a, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failedN += 1
        log(s"[perfbench] operation $name failed: $e")
        None
    }
  }
}

/** Output checks: any failed check makes the run incorrect. */
final class Checks {
  private val failures = mutable.ArrayBuffer.empty[String]
  def ok: Boolean = failures.isEmpty

  def check(name: String, cond: Boolean, detail: => String = ""): Unit = {
    println(s"[check] ${if (cond) "ok  " else "FAIL"} $name $detail".trim)
    if (!cond) failures += s"$name $detail"
  }
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** `f`'s value and wall seconds. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One finished task's metrics. */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long,
    peakMem: Long)

/** Task metrics summed over a set of tasks. */
final case class EngineAgg(tasks: Seq[TaskRec]) {
  def runS: Double = tasks.map(_.runMs).sum / 1e3
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def shuffleMb: Double = tasks.map(_.shuffleBytes).sum / 1e6
  def spillMb: Double = tasks.map(_.spillBytes).sum / 1e6
  def peakMemMb: Double = if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1e6
}

/**
 * Attributes Spark task metrics to job groups: a stage inherits the job
 * group of the job that submitted it, and each finished task adds its
 * metrics to that group. The tracer sets the job group to the span id.
 */
final class EngineListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[TaskRec]]()
  @volatile var peakExecMemBytes = 0L

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    stageGroup.put(e.stageInfo.stageId, g)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m == null) return
    val g = stageGroup.getOrDefault(te.stageId, "-")
    groups.computeIfAbsent(g, _ => new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]())
      .add(TaskRec(te.taskInfo.launchTime, te.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    if (m.peakExecutionMemory > peakExecMemBytes)
      peakExecMemBytes = m.peakExecutionMemory
  }

  def group(id: String): Seq[TaskRec] =
    Option(groups.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
}

final case class Span(id: String, name: String, parent: String,
    runId: String, startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around calls into the program's layers. Disabled, `span` only runs
 * its body. Enabled, each span gets an id, its parent and the run id, and
 * the Spark job group is set to the span id for the span's duration, so
 * the [[EngineListener]] can attribute task metrics to it. Spans stay in
 * memory until [[write]].
 */
final class Tracer(spark: SparkSession, enabled: Boolean,
    val runId: String) {
  /** Whether spans are recorded now; the harness turns it off for the
    * untraced laps of a traced run. */
  var on: Boolean = enabled
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Extra job groups that belong to a span (a streaming query runs its
    * batches under its own run id, not the caller's job group). */
  private val aliases = mutable.Map.empty[String, mutable.Set[String]]

  def spans: Seq[Span] = all.toSeq

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val s = Span(s"$runId-${all.length}", name,
        stack.headOption.map(_.id).orNull, runId,
        System.currentTimeMillis(), System.nanoTime())
      all += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s.id, name)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prevDesc)
      }
    }

  /** The id of the innermost open span, if tracing. */
  def current: Option[String] = stack.headOption.map(_.id)

  def alias(spanId: String, group: String): Unit =
    aliases.getOrElseUpdate(spanId, mutable.Set.empty) += group

  private def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val covered = union(children(s).map(c => (c.startNs, c.endNs)))
    s.seconds - covered / 1e9
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0.0
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += (curE - curS)
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += (curE - curS)
    total
  }

  /** Task metrics of a span and its descendants: the tasks of their job
    * groups, plus the tasks of aliased groups that started inside the span. */
  def engine(s: Span, l: EngineListener): EngineAgg = {
    def tasks(sp: Span): Seq[TaskRec] = {
      val endMs = sp.startMs + (sp.endNs - sp.startNs) / 1000000L
      l.group(sp.id) ++ aliases.getOrElse(sp.id, Nil).toSeq.flatMap(g =>
        l.group(g).filter(t => t.launchMs >= sp.startMs && t.launchMs <= endMs)) ++
        children(sp).flatMap(tasks)
    }
    EngineAgg(tasks(s))
  }

  /** Wall seconds of the span during which none of its tasks ran. */
  def driverGapSeconds(s: Span, a: EngineAgg): Double = {
    val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
    val clipped = a.tasks.map(t =>
      (math.max(t.launchMs, s.startMs), math.min(t.finishMs, endMs)))
      .filter { case (b, e) => e > b }
    math.max(0.0, s.seconds - union(clipped) / 1e3)
  }

  /** Write every span with its self time and task metrics, one JSON
    * object per line. */
  def write(path: java.nio.file.Path, l: EngineListener): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val a = engine(s, l)
      w.write(Json.obj(Seq(
        "id" -> Json.str(s.id), "name" -> Json.str(s.name),
        "parent" -> (if (s.parent == null) "null" else Json.str(s.parent)),
        "run_id" -> Json.str(s.runId),
        "start_ms" -> s.startMs.toString,
        "wall_s" -> Json.num(s.seconds),
        "self_s" -> Json.num(selfSeconds(s)),
        "tasks" -> a.tasks.length.toString,
        "run_s" -> Json.num(a.runS),
        "cpu_s" -> Json.num(a.cpuS),
        "gc_s" -> Json.num(a.gcS),
        "shuffle_mb" -> Json.num(a.shuffleMb),
        "spill_mb" -> Json.num(a.spillMb),
        "peak_mem_mb" -> Json.num(a.peakMemMb),
        "driver_gap_s" -> Json.num(driverGapSeconds(s, a)))))
      w.newLine()
    } finally w.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
