package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: an API call, a Spark job, a Spark stage, or a direct call
  * into a lower layer. Times are epoch milliseconds.
  */
final case class Span(id: Long, req: Long, name: String, layer: String,
    start: Long, end: Long, parent: Long)

/** Everything the listeners saw while one request was current. */
final class ReqStats(val req: Long, val spanId: Long) {
  var jobs = 0; var taggedJobs = 0; var stages = 0; var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L
  var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
  var filesRead = 0L; var filesWritten = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskWaits = mutable.ArrayBuffer.empty[Long]
  var start = 0L; var end = 0L
}

/** The traced run's collector, registered from outside the engine: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for the scan and write nodes' file counts. Every request runs under
  * its own job tag; the listener bus is drained after each request, so
  * every event lands on the request that caused it.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: ReqStats = null
  private val jobReq = mutable.Map.empty[Int, (ReqStats, Long, Long)]
  private val stageReq = mutable.Map.empty[Int, (ReqStats, Long)]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  private def record(s: Span): Unit = synchronized { spans += s }

  private var installed = false

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    installed = false
  }

  def drain(): Unit =
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)

  /** Run `body` as request `req` of operation `op`, tagged and collected. */
  def traced[A](req: Long, op: String, layer: String)(body: => A)
      : (A, ReqStats) = {
    val tag = s"perfbench-req-$req"
    val spanId = nextId.getAndIncrement()
    val st = new ReqStats(req, spanId)
    current = st
    spark.sparkContext.addJobTag(tag)
    st.start = System.currentTimeMillis()
    try {
      val out = body
      (out, st)
    } finally {
      st.end = System.currentTimeMillis()
      spark.sparkContext.removeJobTag(tag)
      drain()
      current = null
      record(Span(spanId, req, op, layer, st.start, st.end, 0L))
    }
  }

  def writeSpans(path: String): Unit = synchronized {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(mutable.LinkedHashMap("id" -> s.id, "req" -> s.req,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent)))
    } finally w.close()
  }

  // ---- SparkListener ------------------------------------------------ //

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val st = current
    if (st != null) synchronized {
      st.jobs += 1
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .getOrElse("")
      if (tags.split(",").contains(s"perfbench-req-${st.req}"))
        st.taggedJobs += 1
      val jobSpan = nextId.getAndIncrement()
      jobReq(e.jobId) = (st, e.time, jobSpan)
      e.stageIds.foreach(s => stageReq(s) = (st, jobSpan))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobReq.remove(e.jobId).foreach { case (st, t0, jobSpan) =>
      st.jobIntervals += ((t0, e.time))
      record(Span(jobSpan, st.req, s"job ${e.jobId}", "spark", t0, e.time,
        st.spanId))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageReq.get(info.stageId).foreach { case (st, jobSpan) =>
        val t0 = info.submissionTime.getOrElse(0L)
        val t1 = info.completionTime.getOrElse(t0)
        st.stages += 1
        st.stageIntervals += ((t0, t1))
        record(Span(nextId.getAndIncrement(), st.req,
          s"stage ${info.stageId}", "spark", t0, t1, jobSpan))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageReq.get(e.stageId).foreach { case (st, _) =>
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(t =>
        st.taskWaits += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        st.inBytes += m.inputMetrics.bytesRead
        st.inRecords += m.inputMetrics.recordsRead
        st.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- QueryExecutionListener --------------------------------------- //

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val st = current
    if (st != null) {
      var read = 0L; var written = 0L
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: FileSourceScanExec =>
          read += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          written += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          w.children.foreach(walk)
        case other =>
          (other.children ++ other.subqueries).foreach(walk)
      }
      walk(qe.executedPlan)
      synchronized { st.filesRead += read; st.filesWritten += written }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def unionLength(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
