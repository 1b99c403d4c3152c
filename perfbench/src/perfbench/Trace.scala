package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans, Spark job attribution and streaming progress for the traced
  * run. Everything here sits outside the program: spans wrap the
  * benchmark's calls into the program's public functions, jobs are tied
  * to spans through a SparkContext local property set around each call
  * (pool threads the program creates inside a call inherit it), and
  * counts come from a `SparkListener`, a `StreamingQueryListener` and
  * [[CountingFileSystem]].
  *
  * With tracing off every `span` just runs its body. */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: String, name: String, part: String,
                        parent: String, op: Long, startMs: Double,
                        var endMs: Double = Double.NaN)

  final class Job(val id: Int, val span: String, val streaming: Boolean,
                  val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L; var stages = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var inputBytes = 0L; var outputBytes = 0L
    var recordsOut = 0L
  }

  final case class Progress(atMs: Double, rows: Long,
                            durations: Map[String, Long])

  @volatile var enabled = false
  /** The innermost open span of the thread that installed tracing.
    * Spans opened on threads that inherited no span (the stream thread)
    * hang under it. */
  @volatile private var mainSpan: String = null
  @volatile private var mainThread: Thread = null
  @volatile var currentOp = 0L
  private var sc: SparkContext = _
  private val nextId = new AtomicLong
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def currentSpanId(): String = {
    val tc = TaskContext.get()
    if (tc != null) tc.getLocalProperty(SpanProp)
    else if (sc != null) sc.getLocalProperty(SpanProp)
    else null
  }

  def span[A](name: String, part: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(SpanProp)
      val onMain = Thread.currentThread eq mainThread
      val parent = if (prev != null || onMain) prev else mainSpan
      val s = Span(nextId.incrementAndGet().toString, name, part, parent,
        currentOp, nowMs())
      spans.add(s)
      sc.setLocalProperty(SpanProp, s.id)
      if (onMain) mainSpan = s.id
      try body
      finally {
        s.endMs = nowMs()
        sc.setLocalProperty(SpanProp, prev)
        if (onMain) mainSpan = prev
      }
    }

  def install(context: SparkContext): Unit = {
    sc = context
    mainThread = Thread.currentThread
    enabled = true
    context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val span = if (p == null) null else p.getProperty(SpanProp)
        val streaming = p != null &&
          p.getProperty("sql.streaming.queryId") != null
        val j = new Job(e.jobId, span, streaming, e.time)
        j.stages = e.stageIds.size.toLong
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.endMs = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageJob.get(e.stageId)
        val m = e.taskMetrics
        if (j != null && m != null) j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.recordsOut += m.outputMetrics.recordsWritten
        }
      }
    })
  }

  def streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
    : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap
      if (d.contains("addBatch"))
        progress.add(Progress(nowMs(), e.progress.numInputRows, d))
    }
  }

  def drain(): Unit = if (sc != null) PerfbenchBus.drain(sc)

  /** Every span and job as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val spanLines = spans.asScala.toSeq.map(s => Json.render(Json.obj(
      "span" -> s.id, "name" -> s.name, "part" -> s.part,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)))
    val jobLines = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      Json.render(Json.obj("job" -> j.id, "span" -> j.span,
        "streaming" -> j.streaming, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "task_ms" -> j.runMs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (spanLines ++ jobLines).mkString("", "\n", "\n"))
  }

  // ---- summaries over the timed window ---------------------------------

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def clip(iv: (Double, Double), lo: Double, hi: Double) =
    (math.max(iv._1, lo), math.min(iv._2, hi))

  /** Summary of the spans, jobs and stream windows that started in
    * `[fromMs, toMs]`, leaving out the untimed stretch `[skipFrom,
    * skipTo)` inside it. */
  final class Window(val fromMs: Double, val toMs: Double,
                     skipFrom: Double, skipTo: Double) {
    private def in(t: Double) =
      t >= fromMs && t <= toMs && !(t >= skipFrom && t < skipTo)
    val spanList: Seq[Span] = spans.asScala.toSeq
      .filter(s => in(s.startMs) && !s.endMs.isNaN)
    private val byId = spanList.map(s => s.id -> s).toMap
    private val children: Map[String, Seq[Span]] =
      spanList.filter(_.parent != null).groupBy(_.parent)
    val jobList: Seq[Job] = jobs.values.asScala.toSeq
      .filter(j => in(j.startMs.toDouble))
    val progressList: Seq[Progress] =
      progress.asScala.toSeq.filter(p => in(p.atMs))
    private val jobsBySpan = jobList.filter(_.span != null).groupBy(_.span)

    def dur(s: Span): Double = s.endMs - s.startMs
    def named(name: String, part: String = null): Seq[Span] =
      spanList.filter(s => s.name == name && (part == null || s.part == part))

    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)

    def jobsUnder(ss: Seq[Span]): Seq[Job] =
      ss.flatMap(subtree).distinct.flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

    private def jobIv(j: Job): (Double, Double) =
      (j.startMs.toDouble, if (j.endMs < 0) toMs else j.endMs.toDouble)

    /** Span time with no job of its subtree running. */
    def gapMs(ss: Seq[Span]): Double = ss.map { s =>
      dur(s) - unionLength(jobsUnder(Seq(s)).map(j =>
        clip(jobIv(j), s.startMs, s.endMs)))
    }.sum

    /** Span time not covered by child spans. */
    def selfMs(s: Span): Double =
      dur(s) - unionLength(children.getOrElse(s.id, Nil).map(c =>
        clip((c.startMs, c.endMs), s.startMs, s.endMs)))

    def wallMs: Double = toMs - fromMs - (skipTo - skipFrom)
    def allJobsGapMs: Double =
      wallMs - unionLength(jobList.map(j => clip(jobIv(j), fromMs, toMs)))
    def topLevel: Seq[Span] = spanList.filter(s =>
      s.parent == null || !byId.contains(s.parent))
  }
}
