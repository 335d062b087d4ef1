package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events use, so job spans and harness spans line up. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: String) {
  def json: String = Json(Map("id" -> id, "name" -> name, "start_ms" -> start,
    "end_ms" -> end, "parent" -> parent, "op" -> op))
}

/** Spans recorded around the calls into each layer, kept in memory and
  * written as JSON lines when the run ends. With `enabled = false` every
  * call is a pass-through: no job group, no listener, no span. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private[perfbench] val ids = new AtomicLong(1L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] // (span id, op id)

  def record(name: String, start: Long, end: Long, parent: Long, op: String): Long = {
    val id = ids.getAndIncrement()
    if (enabled) spans.add(Span(id, name, start, end, parent, op))
    id
  }

  /** Run `body` as op `opId`. Traced, every Spark job it starts (from this
    * thread or threads it spawns) carries the op's job group. */
  def op[T](opId: String, name: String)(body: => T): T = span(name, opId, root = true)(body)

  /** A child span of the enclosing op on this thread. */
  def phase[T](name: String)(body: => T): T = {
    val cur = current.get()
    if (!enabled || cur == null) body else span(name, cur._2, root = false)(body)
  }

  private def span[T](name: String, opId: String, root: Boolean)(body: => T): T = {
    if (!enabled) return body
    val id = ids.getAndIncrement()
    val parent = Option(current.get()).map(_._1).getOrElse(0L)
    val ctx = sc
    if (root) ctx.setJobGroup(opId, opId, interruptOnCancel = false)
    val prevSpan = ctx.getLocalProperty(Tracer.SpanKey)
    ctx.setLocalProperty(Tracer.SpanKey, id.toString)
    val saved = current.get()
    current.set((id, opId))
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.add(Span(id, name, t0, System.currentTimeMillis(), parent, opId))
      current.set(saved)
      ctx.setLocalProperty(Tracer.SpanKey, prevSpan)
      if (root) ctx.clearJobGroup()
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Harness spans plus one span per Spark job the listener saw. */
  def write(path: String, listener: Option[JobListener]): Int = {
    val out = (all ++ listener.map(_.jobSpans(ids)).getOrElse(Nil)).sortBy(s => (s.start, s.id))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try out.foreach(s => w.println(s.json))
    finally w.close()
    out.size
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val GroupKey = "spark.jobGroup.id"
}

/** Per-stage task totals (all attempts). */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var input = 0L; var output = 0L; var completed = false
}

final class JobRec(val id: Int, val group: String, val span: Long, val start: Long,
    val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** Attributes Spark jobs to ops through the job group each op sets, and
  * task metrics to jobs through their stage ids. Events arrive on the
  * listener bus thread; readers call [[quiesce]] first. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty(Tracer.GroupKey))).orNull
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, group, span, e.time, e.stageIds))
    lastEvent.set(System.currentTimeMillis())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    lastEvent.set(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.completed = true }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment, so totals read afterwards are complete. */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      System.currentTimeMillis() - lastEvent.get() > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def jobsOf(op: String): Seq[JobRec] = jobs.values.asScala.filter(_.group == op).toSeq

  /** Spans for every job (child of the harness span that started it). */
  def jobSpans(ids: AtomicLong): Seq[Span] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Span(ids.getAndIncrement(), s"spark.job.${j.id}", j.start, math.max(j.end, j.start),
      j.span, Option(j.group).getOrElse(""))
  }
}

/** Per-op engine numbers derived from the listener: one entry per
  * timed op, aggregated by [[Layers.spark]]. */
object Layers {
  final case class OpWindow(id: String, start: Long, end: Long)

  /** Spark-engine layer metrics over the timed ops. Counts and byte totals
    * are means per op; busy time and driver gap are medians per op. */
  def spark(l: JobListener, ops: Seq[OpWindow], windowStart: Long, windowEnd: Long)
      : Seq[(String, Double)] = {
    case class PerOp(jobs: Int, stages: Int, tasks: Long, busy: Double, gap: Double,
        run: Double, shR: Long, shW: Long, spill: Long, in: Long, out: Long)
    val per = ops.map { o =>
      val js = l.jobsOf(o.id)
      val iv = js.map(j => (j.start, math.max(j.end, j.start)))
      val ss = js.flatMap(_.stageIds).distinct.flatMap(id => Option(l.stages.get(id)))
        .filter(_.completed)
      PerOp(js.size, ss.size, ss.map(_.tasks).sum,
        Stats.unionLength(iv, o.start, o.end) / 1e3, Stats.driverGap(o.start, o.end, iv) / 1e3,
        ss.map(_.runMs).sum / 1e3, ss.map(_.shuffleRead).sum, ss.map(_.shuffleWrite).sum,
        ss.map(_.spill).sum, ss.map(_.input).sum, ss.map(_.output).sum)
    }
    val unattributed = l.jobs.values.asScala.count(j =>
      j.group == null && j.start >= windowStart && j.start <= windowEnd)
    def mean(f: PerOp => Double) = Stats.mean(per.map(f))
    def med(f: PerOp => Double) = if (per.isEmpty) 0.0 else Stats.median(per.map(f))._1
    Seq(
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.job_busy_s" -> med(_.busy),
      "spark.driver_gap_s" -> med(_.gap),
      "spark.task_run_s" -> mean(_.run),
      "spark.shuffle_read_bytes" -> mean(_.shR.toDouble),
      "spark.shuffle_write_bytes" -> mean(_.shW.toDouble),
      "spark.spill_bytes" -> mean(_.spill.toDouble),
      "spark.input_bytes" -> mean(_.in.toDouble),
      "spark.output_bytes" -> mean(_.out.toDouble),
      "spark.unattributed_jobs" -> unattributed.toDouble)
  }
}
