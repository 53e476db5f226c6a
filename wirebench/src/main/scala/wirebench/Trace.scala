package wirebench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.storage.Storage

/** A span: one timed piece of work at a layer boundary. Times are
  * epoch nanoseconds; `req` is the client request the span belongs to
  * (-1 when none), `parent` the span that caused it.
  */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job with the task totals of its stages. `site` is the
  * source file of the job's call site (`ParquetStorage.scala`, ...).
  */
final class JobRec(val id: Long, val req: Long, val site: String,
                   val startNs: Long) {
  @volatile var endNs: Long = startNs
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val waitMs = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  def ms: Double = (endNs - startNs) / 1e6
}

/** Traces the benchmark from outside the program, through public seams
  * only: a [[Storage]] decorator handed to the broker, a SparkListener,
  * a StreamingQueryListener. Spans stay in memory until the run ends.
  *
  * Request attribution: the broker serves each connection on one thread
  * and each connection has one request in flight, so a Storage call is
  * linked to the request its thread's connection has outstanding. The
  * decorator also sets a thread-local Spark property, which every later
  * job on that thread (the facade's own collect included) inherits.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var on = false
  private val ids = new AtomicLong
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epochOffsetNs + System.nanoTime()

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val threadConn = new ConcurrentHashMap[Thread, KafkaConn]()
  /** Connection whose first request (Metadata) is in flight. */
  @volatile var handshake: KafkaConn = null

  /** Time one client request; its server-side work is linked to it. */
  def request[T](conn: KafkaConn, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      conn.request = id
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, -1L, id, "client", name, t0, now()))
        conn.request = -1L
      }
    }

  def storage(inner: Storage): Storage =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Storage]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          def call(): AnyRef =
            try m.invoke(inner, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          val t = Thread.currentThread()
          // the Metadata handler lists topics on the thread that will
          // serve this connection for good
          if (m.getName == "topics" && handshake != null)
            threadConn.putIfAbsent(t, handshake)
          if (!on || m.getName.contains("$default$")) call()
          else {
            val conn = threadConn.get(t)
            val req = if (conn == null) -1L else conn.request
            spark.sparkContext.setLocalProperty(ReqKey, req.toString)
            val t0 = now()
            try call()
            finally spans.add(Span(ids.incrementAndGet(), req, req, "storage",
              m.getName, t0, now()))
          }
        }
      }).asInstanceOf[Storage]

  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqKey)))
        .map(_.toLong).getOrElse(-1L)
      val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val site = SiteFile.findFirstMatchIn(name).map(_.group(1)).getOrElse(name)
      val rec = new JobRec(ids.incrementAndGet(), req, site, e.time * 1000000L)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val rec = jobs.get(e.jobId)
      if (rec != null) {
        rec.endNs = e.time * 1000000L
        spans.add(Span(rec.id, rec.req, rec.req, "spark.job", rec.site,
          rec.startNs, rec.endNs))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitMs.put(e.stageInfo.stageId, java.lang.Long.valueOf(
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val rec = stageJob.get(s.stageId)
      if (rec != null) {
        rec.stages.incrementAndGet()
        spans.add(Span(ids.incrementAndGet(), rec.id, rec.req, "spark.stage",
          s.name, s.submissionTime.getOrElse(0L) * 1000000L,
          s.completionTime.getOrElse(0L) * 1000000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) {
        rec.tasks.incrementAndGet()
        rec.runMs.addAndGet(m.executorRunTime)
        val submit = stageSubmitMs.get(e.stageId)
        if (submit != null) rec.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submit))
        rec.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        rec.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        rec.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        progress.add(e)
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        spans.add(Span(ids.incrementAndGet(), -1L, -1L, "streaming", "trigger",
          start, start + dur * 1000000L))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
  }

  /** Write every span, one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(Stats.json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startNs / 1000,
        "end_us" -> s.endNs / 1000)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val ReqKey = "wirebench.request"
  private val SiteFile = """ at ([^ :]+\.(?:scala|java)):\d+""".r
}
