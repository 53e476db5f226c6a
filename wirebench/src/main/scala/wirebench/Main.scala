package wirebench

import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.facade.BrokerServer
import graft.lake.TxLog
import graft.schema.SchemaRegistry
import graft.storage.ParquetStorage

/** Seeded inputs: record `id` always has the same key and value, so a
  * consumer checks what it receives against a regenerated copy.
  */
final class Gen(seed: Long) {
  private val keys = Array.tabulate(100)(i =>
    f"k${Stats.mix(seed, -1L - i) & 0xffffffffL}%08x".getBytes(UTF_8))

  def key(id: Long): Array[Byte] = keys(((Stats.mix(seed ^ 0x55L, id) >>> 1) % 100).toInt)

  /** 1 KiB value: the id, then seeded bytes. */
  def value(id: Long): Array[Byte] = {
    val a = new Array[Byte](1024)
    val b = ByteBuffer.wrap(a)
    b.putLong(id)
    var x = Stats.mix(seed, id)
    while (b.remaining() >= 8) { b.putLong(x); x = Stats.mix(x, id) }
    a
  }

  def idOf(value: Array[Byte]): Long = ByteBuffer.wrap(value).getLong

  /** ~100 B JSON value of the lake topic's schema. */
  def lakeValue(id: Long, sentMs: Long): Array[Byte] = {
    val h = Stats.mix(seed, id)
    val name = f"n${h & 0xffffffffffL}%010x-${(h >>> 40) & 0xffff}%04x-abcdefghijklmnopqrstuv"
    val amount = (h >>> 44) % 1000000 / 100.0
    s"""{"id":$id,"name":"$name","amount":$amount,"sent_ms":$sentMs}""".getBytes(UTF_8)
  }
}

/** What the checks compare against: every acknowledged record. */
final class Acks {
  /** offset -> record id */
  val byOffset = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  val userBytes = new AtomicLong
  val duplicates = new AtomicLong
  def add(offset: Long, id: Long, bytes: Long): Unit = {
    if (byOffset.putIfAbsent(offset, id) != null) duplicates.incrementAndGet()
    userBytes.addAndGet(bytes)
    ()
  }
  /** Record `id` was acknowledged at `offset`. */
  def at(offset: Long, id: Long): Boolean = {
    val acked = byOffset.get(offset)
    acked != null && acked.longValue == id
  }
  def count: Int = byOffset.size
  /** Offsets are unique and contiguous from 0. */
  def contiguous: Boolean = duplicates.get == 0 && {
    val offs = byOffset.keySet.asScala.map(_.longValue).toArray.sorted
    offs.indices.forall(i => offs(i) == i)
  }
  def end: Long = count.toLong
}

/** A consumer's view of one partition: it must see every offset in
  * order, once, with the acknowledged record.
  */
final class Delivery(gen: Gen) {
  @volatile private var next = -1L
  val received = new ConcurrentHashMap[Long, Long]() // offset -> id
  val errors = new LongAdder
  def expectFrom(offset: Long): Unit = next = offset
  def nextOffset: Long = next
  def accept(offset: Long, key: Array[Byte], value: Array[Byte]): Long = {
    val id = gen.idOf(value)
    if (offset != next || !java.util.Arrays.equals(value, gen.value(id)) ||
        !java.util.Arrays.equals(key, gen.key(id))) errors.increment()
    received.put(offset, id)
    next = offset + 1
    id
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean) {
  /** Reports, spans and each run's scratch, under the checkout's build dir. */
  val out: Path = Paths.get(".bench_build", "wirebench", "out")
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
          a.getOrElse("trace", "0") == "1")
        new Bench(o).run()
      } catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    System.exit(code)
  }
}

/** One workload run: set-up, a measured window, output checks, report.
  * See README.md beside this package for why each workload exists.
  */
final class Bench(o: Opts) {
  private val nproc = Runtime.getRuntime.availableProcessors
  private val Topic = "bench"
  private val host = Host.sample()
  private val cpuAtStart = Host.cpuTimes
  private val runDir = o.out.resolve(s"run-${ProcessHandle.current().pid()}")
  Files.createDirectories(runDir)
  Runtime.getRuntime.addShutdownHook(new Thread(() => Layers.deleteTree(runDir)))

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("wirebench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.local.dir", runDir.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  spark.range(1).count()
  private val sparkStartS =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private val gen = new Gen(o.seed)
  private val tracer = new Tracer(spark)

  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val checkFailures = scala.collection.mutable.ArrayBuffer.empty[String]
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) checkFailures.synchronized { checkFailures += what; failed.incrementAndGet(); () }
  private def op(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    ()
  }

  private val produceLat = new Samples
  private val fetchLat = new Samples
  private val e2eLat = new Samples
  private val lateness = new Samples
  private val fetchedRecords = new AtomicLong
  private val fetchedBytes = new AtomicLong
  private val producedRecords = new AtomicLong
  private var backlogEnd = 0L

  /** One broker over a fresh root, its topic and client connections. */
  private final class World(idx: Int, traced: Boolean) {
    val root: Path = runDir.resolve(s"world$idx")
    val data: String = root.resolve("data").toString
    val registryDir: Path = root.resolve("registry")
    Files.createDirectories(registryDir)
    if (o.workload == "lake_cdc")
      Files.writeString(registryDir.resolve(s"$Topic.json"), Bench.LakeSchema)
    val storage = new ParquetStorage(spark, data, Some(new SchemaRegistry(registryDir.toString)))
    val broker = new BrokerServer(if (traced) tracer.storage(storage) else storage)
    storage.createTopic(Topic, 1,
      if (o.workload == "lake_cdc") Map(
        "lake.param.generated.day" -> "cast(meta.timestamp as date)",
        "lake.partition" -> "day")
      else Map.empty)
    val conns: Seq[KafkaConn] = (0 until Bench.connections(o.workload)).map { i =>
      val c = new KafkaConn(broker.boundPort, i)
      tracer.handshake = c
      c.metadata(Topic)
      tracer.handshake = null
      c
    }
    val acks = new Acks
    val ids = new AtomicLong
    var query: StreamingQuery = null
    val sink = new ConcurrentHashMap[Long, java.lang.Long]() // id -> delivered ns
    val sinkDuplicates = new AtomicLong
    val stamps = new ConcurrentHashMap[Long, java.lang.Long]() // id -> stamped ns
    def lakeTable: String = s"$data/lake/$Topic"

    def close(): Unit = {
      if (query != null) Try(query.stop())
      conns.foreach(c => Try(c.close()))
      broker.close()
    }
  }

  // ------------------------------------------------------------ produce

  /** Produce records `ids` as one batch; true when acknowledged. */
  private def produce(w: World, conn: KafkaConn, ids: Seq[Long], dueNs: Long): Boolean = {
    val stampMs = System.currentTimeMillis()
    val recs = ids.map { id =>
      if (o.workload == "lake_cdc") (gen.key(id), gen.lakeValue(id, stampMs))
      else (gen.key(id), gen.value(id))
    }
    val stamp = System.nanoTime()
    ids.foreach(id => w.stamps.put(id, stamp))
    val blob = KafkaConn.batch(recs, stampMs)
    val (err, base) =
      try tracer.request(conn, "produce")(conn.produce(Topic, 0, blob))
      catch { case NonFatal(_) => (-2.toShort, -1L) }
    val t = System.nanoTime()
    val ok = err == 0
    op(ok)
    if (ok) {
      ids.zipWithIndex.foreach { case (id, i) =>
        w.acks.add(base + i, id, recs(i)._1.length + recs(i)._2.length)
      }
      produceLat.add(Stats.ms(math.min(dueNs, stamp), t))
      producedRecords.addAndGet(ids.size)
    }
    ok
  }

  private def nextIds(w: World, n: Int): Seq[Long] = {
    val first = w.ids.getAndAdd(n)
    first until first + n
  }

  /** Closed loop: each connection sends its next request on the reply. */
  private def closedLoop(w: World, conns: Seq[KafkaConn], perReq: Int, untilNs: Long): Seq[Thread] =
    conns.map { c =>
      thread(s"producer-${c.id}") {
        while (System.nanoTime() < untilNs) produce(w, c, nextIds(w, perReq), Long.MaxValue)
      }
    }

  /** Open loop: each connection is due every `periodNs`, phase-shifted,
    * whether or not its last request has returned; latency counts from
    * when a request was due, so it includes the wait a stall imposes.
    */
  private def openLoop(w: World, conns: Seq[KafkaConn], periodNs: Long, startNs: Long,
                       untilNs: Long): Seq[Thread] =
    conns.zipWithIndex.map { case (c, k) =>
      thread(s"producer-${c.id}") {
        var due = startNs + k * periodNs / conns.size
        while (due < untilNs) {
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          lateness.add(Stats.ms(due, System.nanoTime()))
          produce(w, c, nextIds(w, 1), due)
          due += periodNs
        }
        val now = System.nanoTime()
        val backlog = if (due > now) 0L else (now - due) / periodNs + 1
        synchronized { backlogEnd += backlog }
      }
    }

  // -------------------------------------------------------------- fetch

  /** Sessionless Fetch v12 reads [from, to) in order, `cap` bytes per
    * request; every non-empty response is a fetch sample.
    */
  private def readRange(c: KafkaConn, d: Delivery, from: Long, to: Long,
                        cap: Int, untilNs: Long): Long = {
    d.expectFrom(from)
    var hw = to
    while (d.nextOffset < to && System.nanoTime() < untilNs) {
      val t0 = System.nanoTime()
      val r = Try(tracer.request(c, "fetch")(c.fetch(Topic, 0, d.nextOffset, cap, 0, 0, -1)))
      val t1 = System.nanoTime()
      val part = r.toOption.flatMap(_._3)
      val ok = r.isSuccess && r.get._1 == 0 && part.exists(_.error == 0)
      op(ok)
      if (ok) {
        hw = part.get.highWatermark
        val recs = KafkaConn.records(part.get.records)
        if (recs.nonEmpty) {
          fetchLat.add(Stats.ms(t0, t1))
          fetchedRecords.addAndGet(recs.size)
          fetchedBytes.addAndGet(part.get.records.length)
          recs.foreach { case (off, k, v) => d.accept(off, k, v) }
        }
      }
    }
    hw
  }

  /** Tail consumer: one incremental fetch session from `from`; an empty
    * answer means sleep 50 ms (the broker answers at once).
    */
  private def tail(w: World, c: KafkaConn, d: Delivery, from: Long, untilNs: () => Long): Thread =
    thread("tail") {
      d.expectFrom(from)
      var session = 0
      var epoch = 0
      while (System.nanoTime() < untilNs()) {
        val r = Try(tracer.request(c, "fetch")(
          c.fetch(Topic, 0, d.nextOffset, 1 << 20, 500, session, epoch)))
        val t = System.nanoTime()
        val ok = r.isSuccess && r.get._1 == 0
        op(ok)
        if (ok) {
          session = r.get._2
          epoch = if (epoch == Int.MaxValue) 1 else epoch + 1
          val recs = r.get._3.map(p => KafkaConn.records(p.records)).getOrElse(Nil)
          recs.foreach { case (off, k, v) =>
            val id = d.accept(off, k, v)
            val s = w.stamps.get(id)
            if (s != null) e2eLat.add(Stats.ms(s, t))
          }
          if (recs.isEmpty) Thread.sleep(50)
        } else { session = 0; epoch = 0; Thread.sleep(50) }
      }
    }

  // --------------------------------------------------------------- lake

  private def startCdc(w: World): Unit = {
    val sink = (df: DataFrame, _: Long) => {
      val ids = df.filter(col("_change_type") === "insert")
        .select(col("value_struct.id")).collect().map(_.getLong(0))
      val t = System.nanoTime()
      ids.foreach { id =>
        if (w.sink.putIfAbsent(id, t) != null) w.sinkDuplicates.incrementAndGet()
        val s = w.stamps.get(id)
        if (s != null) e2eLat.add(Stats.ms(s, t))
      }
    }
    w.query = spark.readStream.format("txlog-cdc")
      .option("table", w.lakeTable)
      .option("startingVersion", "latest")
      .load()
      .writeStream
      .option("checkpointLocation", w.root.resolve("checkpoint").toString)
      .foreachBatch(sink)
      .start()
    ()
  }

  // ------------------------------------------------------------- set-up

  /** Per-workload set-up: a broker, its topic, and the state the
    * window starts from (warm connections, an aged partition, a lake
    * table with a running CDC query).
    */
  private def setUp(idx: Int, traced: Boolean): World = {
    val w = new World(idx, traced)
    o.workload match {
      case "log_mixed" =>
        val perConn = Bench.AgedFiles / w.conns.size
        join(w.conns.map(c => thread("age")((0 until perConn).foreach(_ =>
          produce(w, c, nextIds(w, 1), Long.MaxValue)))))
      case "lake_cdc" =>
        produce(w, w.conns.head, nextIds(w, Bench.LakeBatch), Long.MaxValue)
        startCdc(w)
        w.query.processAllAvailable()
    }
    w
  }

  private def resetSamples(): Unit = {
    Seq(produceLat, fetchLat, e2eLat, lateness).foreach(_.clear())
    Seq(fetchedRecords, fetchedBytes, producedRecords).foreach(_.set(0))
    backlogEnd = 0
  }

  // -------------------------------------------------------------- window

  /** The measured window; returns its length in seconds, up to when
    * the producers stopped.
    */
  private def window(w: World, seconds: Int): Double = {
    val start = System.nanoTime()
    val until = start + seconds * 1000000000L
    var producersDone = until
    o.workload match {
      case "lake_cdc" =>
        val firstBatch = w.query.lastProgress.batchId
        join(closedLoop(w, w.conns.take(1), Bench.LakeBatch, until))
        producersDone = System.nanoTime()
        val deadline = System.nanoTime() + Bench.DrainNs
        while (w.sink.size < w.acks.count - Bench.LakeBatch &&
               System.nanoTime() < deadline) Thread.sleep(20)
        // the CDC micro-batches are this workload's read path
        w.query.recentProgress.filter(p => p.batchId > firstBatch && p.numInputRows > 0)
          .foreach { p =>
            fetchLat.add(p.durationMs.get("triggerExecution").doubleValue)
            fetchedRecords.addAndGet(p.numInputRows)
          }
      case "log_mixed" =>
        val Seq(p0, p1, tc, cc) = w.conns.take(4)
        val tailD = new Delivery(gen)
        val from = w.acks.end
        @volatile var tailUntil = Long.MaxValue
        val t = tail(w, tc, tailD, from, () => tailUntil)
        val passes = scala.collection.mutable.ArrayBuffer.empty[Delivery]
        val catchUp = thread("catch-up") {
          var hw = from
          while (System.nanoTime() < until) {
            val d = new Delivery(gen)
            passes += d
            hw = readRange(cc, d, 0L, hw, Bench.CatchUpCap, until)
          }
        }
        join(openLoop(w, Seq(p0, p1), (2e9 / Bench.OfferedRecPerS).toLong, start, until))
        producersDone = System.nanoTime()
        tailUntil = System.nanoTime() + Bench.DrainNs
        while (tailD.nextOffset < w.acks.end && System.nanoTime() < tailUntil) Thread.sleep(10)
        tailUntil = 0L
        join(Seq(t, catchUp))
        check(passes.forall(d => d.errors.sum == 0 && d.received.asScala.forall {
          case (off, id) => w.acks.at(off, id) }),
          "catch-up consumer: records out of order or not as acknowledged")
        check(tailD.errors.sum == 0 && tailD.nextOffset == w.acks.end &&
          tailD.received.asScala.forall { case (off, id) => w.acks.at(off, id) },
          "tail consumer: missed, repeated or altered an acknowledged record")
    }
    (producersDone - start) / 1e9
  }

  // -------------------------------------------------------------- report

  private def pcts(prefix: String, s: Samples): Map[String, Double] = {
    val v = s.sorted
    Map(s"${prefix}_p50_ms" -> Stats.pct(v, 0.5), s"${prefix}_p90_ms" -> Stats.pct(v, 0.9))
  }

  private def endToEnd(w: World, secs: Double, setupS: Double): Map[String, Double] =
    Map(
      "setup_s" -> setupS,
      "produce_rec_per_s" -> producedRecords.get / secs,
      "fetch_rec_per_s" -> fetchedRecords.get / secs,
      "storage_bytes_per_user_byte" ->
        Layers.dirBytes(Paths.get(w.data)).toDouble / math.max(1L, w.acks.userBytes.get),
      "rss_peak_mb" -> Host.rssPeakMb()) ++
      pcts("produce", produceLat) ++ pcts("fetch", fetchLat) ++ pcts("e2e", e2eLat)

  /** Post-window checks on the broker's durable state. */
  private def verify(w: World): Unit = {
    check(w.acks.contiguous, "acknowledged offsets are not unique and contiguous")
    if (o.workload == "lake_cdc") {
      val acked = w.acks.byOffset.values.asScala.map(_.longValue).toSet
      val sunk = w.sink.keySet.asScala.toSet
      val first = (0L until Bench.LakeBatch).toSet // produced before the query started
      check(w.sinkDuplicates.get == 0 && sunk == acked -- first,
        s"CDC sink ids differ from acknowledged ids (${sunk.size} vs ${acked.size - first.size})")
      check(TxLog.countRows(w.lakeTable) == w.acks.count,
        "TxLog.countRows differs from the acknowledged count")
    }
  }

  /** One measured window on `w` with its checks: the end-to-end
    * metrics, and the sample counts behind them.
    */
  private def measure(w: World, seconds: Int, setupS: Double): Map[String, Double] = {
    resetSamples()
    val secs = window(w, seconds)
    verify(w)
    endToEnd(w, secs, setupS) ++ Map("window_s" -> secs,
      "produce_n" -> produceLat.n, "fetch_n" -> fetchLat.n, "e2e_n" -> e2eLat.n,
      "gen_late_p90_ms" -> (if (lateness.n == 0) 0.0 else lateness.pct(0.9)),
      "gen_backlog_end" -> backlogEnd.toDouble)
  }

  def run(): Int = {
    val setups = (0 until Bench.setupRounds(o.workload)).map { i =>
      val t0 = System.nanoTime()
      val w = setUp(i, traced = o.trace)
      (w, (System.nanoTime() - t0) / 1e9)
    }
    setups.init.foreach(_._1.close())
    val setupS = sparkStartS + Stats.median(setups.map(_._2))
    val w = setups.last._1
    // the same traffic first, so JIT, codegen and scheduler caches fill
    window(w, Bench.WarmUpSeconds)

    val (metrics, windows) =
      if (!o.trace) {
        val e2e = measure(w, o.seconds, setupS)
        (e2e.filter(m => Bench.EndToEnd.contains(m._1)), Map("measured" -> e2e))
      } else {
        // untraced quarter windows before and after the traced window,
        // so a partition that ages during the run biases neither side
        val quarter = math.max(1, o.seconds / 4)
        val before = measure(w, quarter, setupS)
        val start = Layers.probe(w.lakeTable, w.acks.userBytes.get)
        tracer.attach()
        tracer.on = true
        val traced = measure(w, o.seconds, setupS)
        tracer.on = false
        val layers = Layers.perLayer(tracer, start, Layers.probe(w.lakeTable, w.acks.userBytes.get), Map(
          "files_per_partition" -> Layers.files(Paths.get(w.data, "log", Topic)),
          "fetched_bytes" -> fetchedBytes.get.toDouble,
          "user_bytes" -> (w.acks.userBytes.get - start.userBytes).toDouble,
          "late_p90_ms" -> traced("gen_late_p90_ms"),
          "backlog_end" -> traced("gen_backlog_end")))
        val after = measure(w, quarter, setupS)
        tracer.writeSpans(o.out.resolve(s"${o.workload}-seed${o.seed}.spans.jsonl"))
        (layers ++ Bench.OverheadOf.map(k =>
          s"trace.overhead.$k" -> (traced(k) - (before(k) + after(k)) / 2)),
          Map("untraced_before" -> before, "traced" -> traced, "untraced_after" -> after))
      }
    w.close()

    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "spark_start_s" -> sparkStartS, "setup_rounds_s" -> setups.map(_._2),
      "offered_rec_per_s" -> (if (o.workload == "log_mixed") Bench.OfferedRecPerS else Double.NaN),
      "error_ratio" -> failed.get.toDouble / math.max(1L, attempted.get),
      "check_failures" -> checkFailures.toSeq, "windows" -> windows,
      "host_start" -> host, "host_end" -> Host.sample(),
      "host_steal_pct" -> Host.stealPct(cpuAtStart))
    val result = Map("correct" -> checkFailures.isEmpty,
      "attempted" -> math.max(1L, attempted.get), "failed" -> failed.get,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Bench.unit(k)) })
    Files.writeString(o.out.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      Stats.json(detail ++ Map("result" -> result)))
    Try(spark.stop())
    Layers.deleteTree(runDir)
    println(Stats.json(Map("wirebench" -> detail)))
    println(Stats.json(result))
    0
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"wirebench-$name")
    t.setDaemon(true)
    t.start()
    t
  }

  private def join(ts: Seq[Thread]): Unit = ts.foreach(_.join())
}

object Bench {
  val AgedFiles = 16
  val LakeBatch = 100
  val CatchUpCap = 2 << 10
  val DrainNs = 30000000000L
  val WarmUpSeconds = 4
  val OfferedRecPerS = 2.5
  /** End-to-end metrics whose tracing overhead a traced run reports. */
  val EndToEnd = Seq("setup_s", "produce_rec_per_s", "produce_p50_ms", "produce_p90_ms",
    "fetch_rec_per_s", "fetch_p50_ms", "fetch_p90_ms", "e2e_p50_ms", "e2e_p90_ms",
    "storage_bytes_per_user_byte", "rss_peak_mb")
  val OverheadOf = Seq("produce_rec_per_s", "produce_p50_ms", "produce_p90_ms",
    "fetch_rec_per_s", "fetch_p50_ms", "fetch_p90_ms", "e2e_p50_ms", "e2e_p90_ms")

  def setupRounds(workload: String): Int = if (workload == "log_mixed") 1 else 3

  /** log_mixed: two producers, a tail and a catch-up consumer. */
  def connections(workload: String): Int = if (workload == "log_mixed") 4 else 1

  val LakeSchema: String =
    """{"type":"object","properties":{"id":{"type":"integer"},""" +
      """"name":{"type":"string"},"amount":{"type":"number"},""" +
      """"sent_ms":{"type":"integer"}},"required":["id","name","amount","sent_ms"]}"""

  def unit(metric: String): String = metric.stripPrefix("trace.overhead.") match {
    case m if m.endsWith("_per_s") => "1/s"
    case m if m.contains("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.contains("_per_byte") || m.contains("_per_user_byte") => "B/B"
    case m if m.contains("bytes") => "B"
    case _ => "count"
  }

}
