package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the engine, and the Spark work
  * each call caused.
  *
  * A span is opened by the benchmark's own code around one call into a
  * public function of a layer. While it is open, the benchmark sets the
  * local property [[SpanKey]] on its thread; Spark copies local properties
  * into every job the call submits (and into the stream execution thread
  * a `start()` creates), so the [[Listener]] can charge jobs, stages,
  * tasks and bytes to the span that caused them. Stream triggers are
  * charged through the query id and batch id Spark puts on their jobs.
  *
  * Spans stay in memory and are summarised and written out when the run
  * ends ([[Layers]]). With tracing off, [[span]] only runs its body.
  */
object Trace {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  final class Span(val id: Int, val family: String, val name: String,
      val parent: Int, val timed: Boolean) {
    var startNs = 0L
    var endNs = 0L
    var planNs = 0L
    var execNs = 0L
    // Spark work charged to the span (written on the listener thread)
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    var bytesWritten = 0L; var rowsWritten = 0L; var rowsRead = 0L
    // set by the benchmark after the call
    var extra = mutable.LinkedHashMap.empty[String, Double]
    def durNs: Long = endNs - startNs
  }

  @volatile var on = false
  @volatile private var timedPhase = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var spark: SparkSession = _
  /** Time the tracer itself spends on probes only a traced run makes. */
  var probeNs = 0L

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  private def newSpan(family: String, name: String, parent: Int, timed: Boolean): Span =
    spans.synchronized {
      val s = new Span(spans.size, family, name, parent, timed)
      spans += s
      s
    }

  def install(s: SparkSession): Unit = {
    spark = s
    on = true
    s.sparkContext.addSparkListener(Listener)
    s.streams.addListener(StreamListener)
  }

  /** Marks the jobs the calling thread submits from now on as part of the
    * timed region (or not). */
  def setTimed(t: Boolean): Unit = {
    timedPhase = t
    if (on) spark.sparkContext.setLocalProperty(PhaseKey, if (t) "timed" else null)
  }

  def current: Option[Span] = if (stack.isEmpty) None else Some(stack.top)

  def span[A](family: String, name: String = "")(body: => A): A =
    if (!on) body
    else {
      val s = newSpan(family, name, current.map(_.id).getOrElse(-1), timedPhase)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      stack.push(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** A call that returns a lazy frame, executed by `exec`. Traced, the
    * plan is forced first (`queryExecution.executedPlan`) so planning and
    * execution are timed apart. */
  def lazyCall(family: String, name: String = "")(build: => DataFrame)(
      exec: DataFrame => Unit): Unit =
    if (!on) exec(build)
    else span(family, name) {
      val s = stack.top
      val t0 = System.nanoTime()
      val df = build
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      exec(df)
      s.planNs = t1 - t0
      s.execNs = System.nanoTime() - t1
    }

  /** Times planning only, for a lazy frame the engine builds inside a
    * larger call (traced runs only). */
  def planProbe(family: String)(build: => DataFrame): Unit =
    if (on) {
      val t0 = System.nanoTime()
      span(family, "plan") {
        val s = stack.top
        build.queryExecution.executedPlan
        s.planNs = System.nanoTime() - s.startNs
      }
      probeNs += System.nanoTime() - t0
    }

  /** Time spent making inputs inside the timed passes; it is not pass time. */
  var untimedNs = 0L

  /** Input generation inside a timed pass: excluded from pass time, and
    * its Spark jobs from the timed-region totals. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    val sc = if (on) Some(spark.sparkContext) else None
    val prev = sc.map(_.getLocalProperty(PhaseKey)).orNull
    sc.foreach(_.setLocalProperty(PhaseKey, null))
    try body
    finally {
      sc.foreach(_.setLocalProperty(PhaseKey, prev))
      untimedNs += System.nanoTime() - t0
    }
  }

  /** Work done only because tracing is on (counted as its overhead). */
  def probe[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally probeNs += System.nanoTime() - t0
  }

  def drain(): Unit = if (on) org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)

  // ---- Spark-wide totals of the timed region ------------------------------

  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var cpuNs = 0L; var schedWaitMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var bytesWritten = 0L; var bytesRead = 0L
  }
  val totals = new Totals

  // ---- stream triggers -------------------------------------------------------

  private val triggerSpans = mutable.HashMap.empty[(String, Long), Span]
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  private def msToNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  private def triggerSpan(qid: String, batch: Long, parent: Int, timed: Boolean): Span =
    triggerSpans.synchronized {
      triggerSpans.getOrElseUpdate((qid, batch), newSpan("merge", "trigger", parent, timed))
    }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      triggerSpans.synchronized {
        triggerSpans.get((p.id.toString, p.batchId)).foreach { s =>
          if (s.extra.contains("trigger_ms")) s.extra("retries") = s.extra.getOrElse("retries", 0.0) + 1
          s.extra("trigger_ms") = dur("triggerExecution").toDouble
          s.extra("add_batch_ms") = dur("addBatch").toDouble
          s.endNs = msToNs(start + dur("triggerExecution"))
          s.startNs = s.endNs - dur("addBatch") * 1000000L
        }
      }
    }
  }

  // ---- job attribution ----------------------------------------------------------

  private final class JobInfo(val span: Option[Span], val timed: Boolean)
  private val jobInfo = mutable.HashMap.empty[Int, JobInfo]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  private object Listener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val timed = prop(PhaseKey).contains("timed")
      val parent = prop(SpanKey).map(_.toInt)
      val sp = (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
        case (Some(q), Some(b)) =>
          Some(triggerSpan(q, b.toLong, parent.getOrElse(-1), timed))
        case _ => parent.map(i => spans.synchronized(spans(i)))
      }
      jobInfo(j.jobId) = new JobInfo(sp, timed)
      j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.jobId))
      sp.foreach(_.jobs += 1)
      if (timed) totals.jobs += 1
    }
    private def info(stageId: Int): Option[JobInfo] =
      stageJob.get(stageId).flatMap(jobInfo.get)
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stageSubmitMs(s.stageInfo.stageId) =
        s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      info(s.stageInfo.stageId).foreach { ji =>
        ji.span.foreach(_.stages += 1)
        if (ji.timed) totals.stages += 1
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      info(t.stageId).foreach { ji =>
        val m = t.taskMetrics
        val failed = !t.taskInfo.successful
        val wait = math.max(0L, t.taskInfo.launchTime - stageSubmitMs.getOrElse(t.stageId, t.taskInfo.launchTime))
        val (cpu, sw, sp, bw, br, rw, rr) =
          if (m == null) (0L, 0L, 0L, 0L, 0L, 0L, 0L)
          else (m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
            m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten, m.inputMetrics.recordsRead)
        ji.span.foreach { s =>
          s.tasks += 1; s.cpuNs += cpu; s.shuffleWrite += sw; s.spill += sp
          s.bytesWritten += bw; s.rowsWritten += rw; s.rowsRead += rr
        }
        if (ji.timed) {
          totals.tasks += 1; if (failed) totals.failedTasks += 1
          totals.cpuNs += cpu; totals.schedWaitMs += wait; totals.shuffleWrite += sw
          totals.spill += sp; totals.bytesWritten += bw; totals.bytesRead += br
        }
      }
  }

  // ---- summaries -----------------------------------------------------------

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.filter(_.endNs > 0)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, s.durNs - covered)
  }

  /** Per-span counter signature for the repeatability check: spans keyed
    * by family, name and their ordinal among spans of that kind. */
  def counterSignature(timedOnly: Seq[Span]): Seq[(String, Seq[Long])] = {
    val ord = mutable.HashMap.empty[(String, String), Int]
    timedOnly.sortBy(_.id).map { s =>
      val k = (s.family, s.name)
      val i = ord.getOrElse(k, 0); ord(k) = i + 1
      (s"${s.family}/${s.name}#$i", Seq(s.jobs, s.stages, s.tasks, s.rowsWritten, s.bytesWritten))
    }
  }
  val counterNames = Seq("jobs", "stages", "tasks", "rows_written", "bytes_written")
}
