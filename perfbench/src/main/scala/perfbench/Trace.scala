package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters summed over every job the session runs. A snapshot
  * taken before and after an operation gives that operation's share;
  * the traced run replays operations one at a time and drains the
  * listener bus between them, so the deltas belong to one operation. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    jobMs: Double = 0, taskCpuMs: Double = 0, taskRunMs: Double = 0,
    schedDelayMs: Double = 0, gcMs: Double = 0, planMs: Double = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, filesRead: Long = 0, allocBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, jobMs - o.jobMs,
    taskCpuMs - o.taskCpuMs, taskRunMs - o.taskRunMs,
    schedDelayMs - o.schedDelayMs, gcMs - o.gcMs, planMs - o.planMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, filesRead - o.filesRead,
    allocBytes - o.allocBytes)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, jobMs + o.jobMs,
    taskCpuMs + o.taskCpuMs, taskRunMs + o.taskRunMs,
    schedDelayMs + o.schedDelayMs, gcMs + o.gcMs, planMs + o.planMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, filesRead + o.filesRead,
    allocBytes + o.allocBytes)
}

/** One timed interval: a bench span around a call into a layer, or a
  * Spark job (layer "spark") reported by the listener. `parent` is the
  * enclosing bench span; `op` groups the spans of one operation. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The bench's own SparkListener + QueryExecutionListener. Job spans
  * carry the job group the bench set for the operation. */
final class EngineListener extends SparkListener
    with QueryExecutionListener {
  private var c = Counters()
  private val jobStart = mutable.Map[Int, (Long, String)]()
  val jobSpans = mutable.ArrayBuffer[(String, Long, Long)]()
  // listener-bus clock is epoch ms; spans use nanoTime — keep the
  // offset so job spans land on the bench's time line
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def snapshot: Counters = synchronized(c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (e.time, group)
    c = c.copy(jobs = c.jobs + 1, stages = c.stages + e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, g) =>
      c = c.copy(jobMs = c.jobMs + (e.time - t0))
      jobSpans += ((g, t0 * 1000000L + nanoOffset, e.time * 1000000L + nanoOffset))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val run = m.executorRunTime
      val delay = math.max(0L, info.duration - run -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      c = c.copy(tasks = c.tasks + 1,
        taskCpuMs = c.taskCpuMs + m.executorCpuTime / 1e6,
        taskRunMs = c.taskRunMs + run,
        schedDelayMs = c.schedDelayMs + delay,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val files = ScanFiles(qe.executedPlan)
    synchronized {
      c = c.copy(planMs = c.planMs + plan, filesRead = c.filesRead + files)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Files read by the file scans of an executed plan (AQE-aware). */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Long =
    try collectWithSubqueries(p) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    catch { case _: Exception => 0L }
}

/** In-memory span recorder. Off, it only runs the body; on, it tags
  * the operation's Spark jobs with a job group and records a span
  * around each call into a layer. Written out once, at the end. */
final class Tracer(spark: SparkSession, var on: Boolean,
                   listener: EngineListener) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Long]()
  private var nextId = 1L
  private var op = 0L

  /** One operation: its own job group, its own top-level span. */
  def op[T](layer: String, name: String)(f: => T): T = {
    op += 1
    if (on) spark.sparkContext.setJobGroup(s"op-$op", name,
      interruptOnCancel = false)
    try span(layer, name)(f)
    finally if (on) spark.sparkContext.clearJobGroup()
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        stack.pop()
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
      }
    }

  /** Bench spans plus the listener's job spans, each job parented to
    * the innermost bench span of its operation that contains it. */
  def all: Seq[Span] = {
    val bench = spans.toSeq
    val byOp = bench.groupBy(_.op)
    val jobs = listener.synchronized(listener.jobSpans.toSeq).collect {
      case (g, s, e) if g.startsWith("op-") =>
        val o = g.stripPrefix("op-").toLong
        val parent = byOp.getOrElse(o, Nil)
          .filter(b => b.startNs <= s && b.endNs >= s)
          .sortBy(b => b.endNs - b.startNs).headOption.map(_.id).getOrElse(0L)
        Span(0, parent, o, "spark", "job", s, e)
    }
    bench ++ jobs
  }

  def opCount: Long = op

  /** Self time per layer over the operations `keep` selects: each span
    * minus the part of its interval its children cover. */
  def selfMsByLayer(keep: Long => Boolean = _ => true): Map[String, Double] = {
    val ss = all.filter(s => keep(s.op))
    val kids = ss.filter(_.parent > 0).groupBy(_.parent)
    ss.map { s =>
      // job spans carry id 0 and have no children
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(i => i._2 > i._1))
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map(c => c._2 - c._1).getOrElse(0L)
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => num(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case s: String => str(s)
      case m: Map[_, _] => obj(m.toSeq.map { case (a, b) => a.toString -> b }
        .sortBy(_._1))
      case xs: Seq[_] => xs.map {
        case d: Double => num(d)
        case s: String => str(s)
        case o => o.toString
      }.mkString("[", ",", "]")
      case null => "null"
      case o => str(o.toString)
    })
  }.mkString("{", ",", "}")
}
