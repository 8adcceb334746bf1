package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call the benchmark makes into the program. */
final case class Span(id: Int, name: String, parent: Int, request: String,
                      startNs: Long, startMs: Long, var endNs: Long = 0L,
                      var endMs: Long = Long.MaxValue) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the listeners saw for one Spark job, stage or micro-batch. */
final case class JobRec(span: Int, startMs: Long, endMs: Long)
final case class StageRec(span: Int, seconds: Double, tasks: Int,
                          inputBytes: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, taskMs: Seq[Long])
final case class BatchRec(startMs: Long, durations: Map[String, Long],
                          stateRows: Long, stateMemory: Long,
                          stateCommitMs: Long, stateStores: Long)

/** Spans around each call into the program, and (when enabled) the
  * Spark job, stage and streaming-progress events attributed to them.
  *
  * Attribution uses labels the benchmark sets itself: while a span is
  * open, the driver thread carries the local property `perfbench.span`
  * and a job group named after the span. Spark copies local properties
  * into the threads a call starts (streaming query threads included),
  * so every job, stage and micro-batch reports the span that caused it.
  * Untraced runs keep only the span timings: no listener is registered
  * and no label is set.
  */
final class Trace(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile var taskRunMs = 0L
  @volatile private var counting = false
  @volatile private var open = List.empty[Span]
  private var spark: SparkSession = _

  private val Prop = "perfbench.span"

  /** Run `body` as a span; returns its value and its wall time in ms. */
  def span[T](name: String, request: String = "")(body: => T): (T, Double) = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val req = if (request.nonEmpty) request else open.headOption.map(_.request).getOrElse("")
    val s = Span(spans.size, name, parent, req, System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    if (enabled) label(Some(s))
    try {
      val v = body
      (v, { s.endNs = System.nanoTime(); s.ms })
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (enabled) label(open.headOption)
    }
  }

  private def label(s: Option[Span]): Unit = if (spark != null) {
    val sc = spark.sparkContext
    s match {
      case Some(sp) =>
        sc.setLocalProperty(Prop, sp.id.toString)
        sc.setJobGroup(s"perfbench-${sp.id}", s"${sp.name} ${sp.request}")
      case None =>
        sc.setLocalProperty(Prop, null)
        sc.clearJobGroup()
    }
  }

  /** Register the listeners on a session (traced runs only). */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (!enabled) return
    val stageSpan = mutable.Map.empty[Int, Int]
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val jobStart = mutable.Map.empty[Int, (Int, Long)]
    def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt)
        .getOrElse(open.headOption.map(_.id).getOrElse(-1))
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobStart(e.jobId) = (spanOf(e.properties), e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobStart.remove(e.jobId).foreach { case (sp, t0) => jobs += JobRec(sp, t0, e.time) }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null) {
          val ms = e.taskMetrics.executorRunTime
          stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
          if (counting) taskRunMs += ms
        }
      }
      // streaming progress of every session (gates run some queries on
      // a session of their own), later attributed to the innermost span
      // open when the micro-batch started
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => synchronized {
          val pr = p.progress
          val ops = pr.stateOperators.toSeq
          batches += BatchRec(java.time.Instant.parse(pr.timestamp).toEpochMilli,
            pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ops.map(_.commitTimeMs).sum, ops.map(_.numStateStoreInstances.toLong).sum)
        }
        case _ => ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val secs = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        stages += StageRec(stageSpan.remove(si.stageId).getOrElse(-1), secs, si.numTasks,
          if (m == null) 0L else m.inputMetrics.bytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
          stageTasks.remove(si.stageId).map(_.toSeq).getOrElse(Seq.empty))
      }
    })
  }

  /** Count task run time only while the workload itself is measured. */
  def measuring(on: Boolean): Unit = counting = on

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit =
    if (enabled && spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** The innermost span open at wall-clock time `ms` (-1 if none). */
  private def spanAt(ms: Long): Int = {
    var i = spans.size - 1
    var best = -1
    while (i >= 0 && best < 0) {
      val s = spans(i)
      if (s.startMs <= ms && ms <= s.endMs) best = s.id
      i -= 1
    }
    best
  }

  /** A span and all spans opened inside it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.get(id).toSeq.flatMap(_.toSeq).flatMap(c => walk(c.id))
    walk(root).toSet
  }

  def jobsIn(ids: Set[Int]): Seq[JobRec] = jobs.filter(j => ids(j.span)).toSeq
  def stagesIn(ids: Set[Int]): Seq[StageRec] = stages.filter(st => ids(st.span)).toSeq
  def batchesIn(ids: Set[Int]): Seq[BatchRec] = batches.filter(b => ids(spanAt(b.startMs))).toSeq

  /** Seconds of the span's wall time during which none of its jobs ran. */
  def outsideJobsS(root: Span): Double = {
    val iv = jobsIn(subtree(root.id)).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, root.ms / 1e3 - covered / 1e3)
  }

  /** The spans as JSON lines: name, start, end, parent and request id. */
  def writeSpans(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val jobCount = jobs.groupBy(_.span).map { case (k, v) => k -> v.size }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""request":${Json.str(s.request)},"start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)},"jobs":${jobCount.getOrElse(s.id, 0)}}""")
    } finally w.close()
  }
}

/** Minimal JSON writing for flat metric maps. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
