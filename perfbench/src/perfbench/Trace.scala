package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded from outside the program: the harness wraps each public
  * call it makes, a StreamingQueryListener turns every Tail micro-batch into
  * a span, and a SparkListener turns every job into a span whose parent is
  * the innermost harness span containing its start. Spans stay in memory
  * and are written out when the run ends. Times are wall-clock millis,
  * because that is the clock Spark's listener events carry. */
final class Trace(val runId: String) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[A](name: String, attrs: Map[String, Double] = Map.empty)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack.set(stack.get().tail)
      spans.add(Span(id, parent, name, "call", t0, System.currentTimeMillis(), attrs))
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // Spark's own call site is exact, since it is taken when the job is
      // submitted, unless a streaming query has stamped its own over it.
      // Then the site is read from the submitting thread's stack, which is
      // only right while this job is still running: see Job.callSite.
      val stamped = Option(e.properties).exists(_.getProperty("callSite.short") != null)
      val job =
        if (stamped) Job(e.jobId, submitSite(), System.currentTimeMillis(), e.time, -1L, e.stageIds)
        else Job(e.jobId, e.stageInfos.sortBy(_.stageId).lastOption.map(_.name), e.time, e.time,
          -1L, e.stageIds)
      jobs.put(e.jobId, job)
      e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAcc(s)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = stages.computeIfAbsent(e.stageInfo.stageId, s => new StageAcc(s))
      a.synchronized {
        a.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
        a.doneMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = stages.computeIfAbsent(e.stageId, s => new StageAcc(s))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Each progress event becomes a `Tail.batch` span; `addBatch` is the
    * foreachBatch body, and walCommit + commitOffsets is the streaming
    * checkpoint. The parent is fixed later, by containment. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows == 0) return
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      spans.add(Span(ids.incrementAndGet(), -1L, "Tail.batch", "batch", start,
        start + p.batchDuration,
        Map("batchId" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble,
          "checkpointMs" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)))))
    }
  }

  def allSpans: Vector[Span] = spans.asScala.toVector
  def allJobs: Vector[Job] = jobs.values.asScala.toVector.filter(_.endMs >= 0).sortBy(_.startMs)
  def stage(id: Int): Option[StageAcc] = Option(stages.get(id))

  /** Call and batch spans with their parents resolved: a batch span (which
    * the listener records after the fact) belongs to the innermost call span
    * that contains it. */
  def resolvedSpans: Vector[Span] = {
    val all = allSpans
    val calls = all.filter(_.kind == "call")
    all.map { s =>
      if (s.parent >= 0) s
      else {
        val p = innermost(calls, s.startMs, s.endMs)
        s.copy(parent = p.map(_.id).getOrElse(0L))
      }
    }
  }

  private def innermost(cands: Seq[Span], start: Long, end: Long): Option[Span] =
    cands.filter(c => c.startMs <= start && end <= c.endMs + 1)
      .sortBy(c => (c.durMs, -c.id)).headOption

  /** The span each job belongs to: the innermost call or batch span that
    * contains the job's start. */
  def jobParents: Map[Int, Long] = {
    val ss = resolvedSpans
    allJobs.map { j =>
      j.id -> innermost(ss, j.startMs, j.startMs).map(_.id).getOrElse(0L)
    }.toMap
  }

  /** Time in [start, end] covered by at least one of the intervals. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val cl = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    cl.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Every span's self time: its duration minus the part its children
    * (spans and jobs) cover. */
  def selfTimes: Vector[(Span, Long)] = {
    val ss = resolvedSpans
    val parents = jobParents
    val jobsBySpan = allJobs.groupBy(j => parents.getOrElse(j.id, 0L))
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs))
      s -> (s.durMs - covered(s.startMs, s.endMs, iv))
    }
  }

  /** Spans and jobs as JSON lines, for offline inspection. */
  def write(path: java.nio.file.Path): Unit = {
    val parents = jobParents
    val sb = new StringBuilder
    selfTimes.sortBy(_._1.startMs).foreach { case (s, self) =>
      sb.append(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""")
        .append(s""""name":"${Json.esc(s.name)}","start":${s.startMs},"end":${s.endMs},""")
        .append(s""""attrs":${Json.obj(s.attrs + ("selfMs" -> self.toDouble))}}""").append('\n')
    }
    allJobs.foreach { j =>
      val st = j.stageIds.flatMap(stage)
      sb.append(s"""{"run":"$runId","id":"job-${j.id}","parent":${parents.getOrElse(j.id, 0L)},"kind":"job",""")
        .append(s""""name":"${Json.esc(j.callSite)}","start":${j.startMs},"end":${j.endMs},""")
        .append(s""""attrs":${Json.obj(Map(
          "tasks" -> st.map(_.tasks).sum.toDouble,
          "runMs" -> st.map(_.runMs).sum.toDouble,
          "shuffleWriteBytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
          "shuffleReadBytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
          "spillBytes" -> st.map(_.spillBytes).sum.toDouble,
          "outputBytes" -> st.map(_.outputBytes).sum.toDouble))}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  val FileRe = """at ([A-Za-z0-9_]+\.scala)""".r

  /** The call site of a job being submitted, read from the stack of the
    * thread blocked in `runJob`: the innermost graft frame and the Spark
    * method it called, as in `parquet at Merge.scala:437`. Spark's own call
    * site cannot be used: a streaming query stamps every job it runs with
    * the site of `start()`. */
  def submitSite(): Option[String] =
    Thread.getAllStackTraces.values.asScala.iterator.flatMap { st =>
      val i = st.indexWhere(_.getClassName.startsWith("graft."))
      if (i > 0 && st.iterator.take(i).exists(_.getMethodName == "runJob"))
        Some(s"${st(i - 1).getMethodName} at ${st(i).getFileName}:${st(i).getLineNumber}")
      else None
    }.nextOption()

  final case class Span(id: Long, parent: Long, name: String, kind: String,
      startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty) {
    def durMs: Long = endMs - startMs
  }

  /** Per-stage totals, summed from task-end events. */
  final class StageAcc(val stageId: Int) {
    var tasks = 0
    var runMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
    var submitMs = 0L
    var doneMs = 0L
  }

  /** A job and the call site read for it at `siteMs` (its start, when
    * Spark's own call site is used). */
  final case class Job(id: Int, site: Option[String], siteMs: Long, startMs: Long,
      var endMs: Long, stageIds: Seq[Int]) {
    /** The call site, or "?" when none was found or it was read after the
      * job ended: the submitting thread may have moved on to the next job
      * by then, so the site read may belong to another job. */
    def callSite: String = site.filter(_ => siteMs <= startMs || siteMs < endMs).getOrElse("?")
    /** Source file of the innermost non-Spark frame, e.g. `Merge.scala`. */
    def file: String = Trace.FileRe.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("?")
    /** The Spark operation at the call site, e.g. `parquet` or `collect`. */
    def op: String = callSite.takeWhile(_ != ' ')
  }
}

/** Minimal JSON output: the harness only ever writes flat objects. */
object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""${esc(k)}":${num(v)}""" }.mkString("{", ",", "}")
}
