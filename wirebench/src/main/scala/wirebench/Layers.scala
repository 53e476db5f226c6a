package wirebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.lake.TxLog

/** Per-layer metrics of a traced window, computed from the tracer's
  * spans and jobs plus a few counts read at the window's two ends.
  */
object Layers {
  /** State read at a window's ends: JVM GC time, the heap's peak since
    * the previous probe, the lake table and the acknowledged bytes.
    */
  final case class Probe(gcMs: Long, heapPeakMb: Double, lakeVersion: Long, lakeFiles: Long,
                         lakeLogBytes: Long, userBytes: Long)

  def probe(lakeTable: String, userBytes: Long): Probe = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val peak = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    heap.foreach(_.resetPeakUsage())
    val snap = Try(TxLog.currentSnapshot(lakeTable)).toOption.flatten
    Probe(ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum, peak,
      snap.map(_.version).getOrElse(0L), snap.map(_.files.size.toLong).getOrElse(0L),
      dirBytes(Paths.get(lakeTable, "_graft_log")), userBytes)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Mean count of published batch files per partition of a topic. */
  def files(topicDir: Path): Double = {
    val parts = Try(Files.list(topicDir)).toOption.map { s =>
      try s.iterator().asScala.filter(Files.isDirectory(_)).toList finally s.close()
    }.getOrElse(Nil)
    val counts = parts.map { p =>
      val s = Files.list(p)
      try s.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      } finally s.close()
    }
    if (counts.isEmpty) 0.0 else counts.sum.toDouble / counts.size
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(f => Try(Files.delete(f)))
      finally s.close()
    }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private def mean(xs: Iterable[Double]): Double = ratio(xs.sum, xs.size)

  /** Length of the union of `iv`, clipped to [lo, hi], in ms. */
  private def coveredMs(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total / 1e6
  }

  private val MsNs = 1000000L

  def perLayer(t: Tracer, before: Probe, after: Probe,
               extra: Map[String, Double]): Map[String, Double] = {
    val spans = t.spans.asScala.toSeq
    val jobs = t.jobs.values.asScala.toSeq
    val reqs = spans.filter(_.layer == "client")
    val storageByReq = spans.filter(s => s.layer == "storage" && s.req >= 0).groupBy(_.req)
    val jobsByReq = jobs.filter(_.req >= 0).groupBy(_.req)
    def storageOf(r: Span) = storageByReq.getOrElse(r.id, Nil)
    def jobsOf(r: Span) = jobsByReq.getOrElse(r.id, Nil)
    val produces = reqs.filter(_.name == "produce")
    val fetches = reqs.filter(r => r.name == "fetch" && storageOf(r).exists(_.name == "fetch"))
    val reqJobs = reqs.flatMap(jobsOf)
    val n = reqs.size.toDouble

    val selfMs = reqs.map { r =>
      r.ms - coveredMs(r.startNs, r.endNs,
        storageOf(r).map(s => (s.startNs, s.endNs)) ++ jobsOf(r).map(j => (j.startNs, j.endNs)))
    }
    // the storage fetch span plus the jobs it leaves behind (the
    // facade's collect), which start after it on the same thread
    val fetchMs = fetches.map { r =>
      val f = storageOf(r).find(_.name == "fetch").get
      coveredMs(f.startNs, r.endNs, (f.startNs, f.endNs) +:
        jobsOf(r).filter(_.startNs >= f.startNs - MsNs).map(j => (j.startNs, j.endNs)))
    }
    val lakeJobs = jobs.filter(j => j.site.startsWith("TxLog.") || j.site.startsWith("Lake."))
    val commits = (after.lakeVersion - before.lakeVersion).toDouble
    val progress = t.progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def dur(key: String) = mean(progress.map(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))

    Map(
      "facade.self_ms" -> mean(selfMs),
      "facade.offset_stage_calls" ->
        ratio(reqs.map(r => storageOf(r).count(_.name == "offsetStage")).sum, n),
      "storage.produce_ms" -> mean(produces.flatMap(storageOf).filter(_.name == "produce").map(_.ms)),
      "storage.fetch_ms" -> mean(fetchMs),
      "storage.jobs_per_produce" -> ratio(produces.map(jobsOf(_).size).sum, produces.size),
      "storage.jobs_per_fetch" -> ratio(fetches.map(jobsOf(_).size).sum, fetches.size),
      "storage.files_per_partition" -> extra("files_per_partition"),
      "storage.bytes_read_per_byte_fetched" ->
        ratio(fetches.flatMap(jobsOf).map(_.inputBytes.get).sum, extra("fetched_bytes")),
      "storage.bytes_written_per_user_byte" ->
        ratio(produces.flatMap(jobsOf).map(_.outputBytes.get).sum, extra("user_bytes")),
      "spark.jobs_per_req" -> ratio(reqJobs.size, n),
      "spark.stages_per_req" -> ratio(reqJobs.map(_.stages.get).sum, n),
      "spark.tasks_per_req" -> ratio(reqJobs.map(_.tasks.get).sum, n),
      "spark.job_wall_ms_per_req" -> ratio(reqJobs.map(_.ms).sum, n),
      "spark.executor_run_ms_per_req" -> ratio(reqJobs.map(_.runMs.get).sum, n),
      "spark.task_wait_ms_per_req" -> ratio(reqJobs.map(_.waitMs.get).sum, n),
      "spark.shuffle_write_bytes_per_req" -> ratio(reqJobs.map(_.shuffleWriteBytes.get).sum, n),
      "lake.jobs_per_commit" -> ratio(lakeJobs.size, commits),
      "lake.job_ms_per_commit" -> ratio(lakeJobs.map(_.ms).sum, commits),
      "lake.files_per_commit" -> ratio(after.lakeFiles - before.lakeFiles, commits),
      "lake.log_bytes_per_commit" -> ratio(after.lakeLogBytes - before.lakeLogBytes, commits),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.rows_per_batch" -> mean(progress.map(_.numInputRows.toDouble)),
      "jvm.gc_ms" -> (after.gcMs - before.gcMs).toDouble,
      "jvm.heap_peak_mb" -> after.heapPeakMb,
      "gen.late_p90_ms" -> extra("late_p90_ms"),
      "gen.backlog_end" -> extra("backlog_end"))
  }
}
