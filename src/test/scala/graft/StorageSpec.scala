package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.model.Model._
import graft.operators.LogOps
import graft.storage.ParquetStorage
import graft.schema.SchemaRegistry

/** Mirrors the reference's per-API integration tests
  * (the `nisshi-storage/tests` suite; idempotence cases
  * `service/produce.rs:356-760`).
  */
class StorageSpec extends SparkSpec with PropSupport {
  import spark.implicits._

  private def newStorage(withRegistry: Boolean = false): (ParquetStorage, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-storage").toString
    val reg = if (withRegistry) {
      val rdir = java.nio.file.Files.createTempDirectory("graft-reg")
      java.nio.file.Files.writeString(rdir.resolve("person.json"),
        scala.io.Source.fromResource("schema/person.json").mkString)
      Some(new SchemaRegistry(rdir.toString))
    } else None
    (new ParquetStorage(spark, root, reg), root)
  }

  private def batch(n: Int, from: Int = 0) =
    (from until from + n).map(i =>
      (java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0${i % 10}"),
        s"k$i", s"""{"v":$i}""")).toSeq
      .toDF("timestamp", "key", "value")

  private val tp = Topition("t1", 0)

  test("produce assigns contiguous offsets; fetch round-trips") {
    val (st, _) = newStorage()
    st.createTopic("t1", 2)
    assert(st.produce(tp, batch(5)) === Right(0L))
    assert(st.produce(tp, batch(3, 5)) === Right(5L))
    assert(st.offsetStage(tp).highWatermark === 8L)
    val rows = st.fetch(tp, 2, Long.MaxValue).orderBy("offset").collect()
    assert(rows.map(_.getAs[Long]("offset")).toSeq === (2L to 7L))
    // fetch respects byte budget: min one record
    assert(st.fetch(tp, 0, 1).count() === 1)
  }

  test("max.message.bytes rejects oversized records with MESSAGE_TOO_LARGE") {
    val (st, _) = newStorage()
    st.createTopic("t1", 2, Map(ConfigKey.MaxMessageBytes -> "32"))
    // key+value within the cap: accepted
    assert(st.produce(tp, batch(3)) === Right(0L))
    // one oversized value poisons the whole batch (atomic reject: the
    // watermark must not advance past a half-accepted batch)
    val big = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k", "small"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "k", "x" * 64))
      .toDF("timestamp", "key", "value")
    assert(st.produce(tp, big) === Left(ErrorCode.MessageTooLarge))
    assert(st.offsetStage(tp).highWatermark === 3L) // nothing landed
    // routed multi-partition path enforces the same cap
    val routed = big.withColumn("partition", lit(0))
    assert(st.produceAll("t1", routed) === Left(ErrorCode.MessageTooLarge))
    // key bytes count toward the record size too
    val bigKey = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k" * 40, "v"))
      .toDF("timestamp", "key", "value")
    assert(st.produce(tp, bigKey) === Left(ErrorCode.MessageTooLarge))
    // unconfigured topics stay uncapped
    val (st2, _) = newStorage()
    st2.createTopic("t1", 1)
    assert(st2.produce(tp, big).isRight)
  }

  test("idempotent producer: duplicate and out-of-order sequences rejected") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 0).isRight)
    // duplicate (same sequence again)
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 0) === Left(ErrorCode.DuplicateSequenceNumber))
    // gap (skipped ahead)
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 99) === Left(ErrorCode.OutOfOrderSequenceNumber))
    // correct next sequence accepted
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 5).isRight)
  }

  test("schema-backed topic: invalid batch rejected, valid lands in lake") {
    val (st, root) = newStorage(withRegistry = true)
    st.createTopic("person", 1,
      Map(ConfigKey.GeneratedPrefix + "day" -> "cast(meta.timestamp as date)"))
    val ptp = Topition("person", 0)
    val bad = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada"}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, bad) === Left(ErrorCode.InvalidRecord))
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada","lastName":"L","age":3}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, good).isRight)
    val lake = spark.read.parquet(s"$root/lake/person")
    assert(lake.count() === 1)
    assert(lake.columns.contains("meta"))
    assert(lake.columns.contains("day")) // generated column
    assert(lake.select("value_struct.value.firstName").head().getString(0) === "Ada")
  }

  test("lake sink rate cap: lake.records.per.second throttles, loses nothing") {
    // the bucket's arithmetic alone: the initial burst is free, refill
    // gates the rest at the configured rate
    val rl = new graft.lake.Lake.RateLimiter(100)
    val t0 = System.nanoTime()
    rl.acquire(100) // drains the full initial bucket without waiting
    val burstS = (System.nanoTime() - t0) / 1e9
    assert(burstS < 0.5, s"initial burst blocked: $burstS s")
    rl.acquire(50) // needs ~0.5 s of refill
    val totalS = (System.nanoTime() - t0) / 1e9
    assert(totalS >= 0.4, s"refill gate returned too early: $totalS s")

    // end to end: a capped schema topic's SECOND sink write waits for
    // tokens; every row still lands in the lake table
    val (st, root) = newStorage(withRegistry = true)
    st.createTopic("person", 1,
      Map(ConfigKey.LakeRecordsPerSecond -> "4"))
    val ptp = Topition("person", 0)
    def doc(i: Int) = (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      s"k$i",
      s"""{"key":"ABC-10$i","value":{"firstName":"A$i","lastName":"L","age":3}}""")
    val w0 = System.nanoTime()
    assert(st.produce(ptp, Seq(doc(1), doc(2), doc(3), doc(4))
      .toDF("timestamp", "key", "value")).isRight) // drains the bucket
    assert(st.produce(ptp, Seq(doc(5), doc(6)).toDF("timestamp", "key", "value"))
      .isRight) // must wait ~0.5 s for 2 tokens
    val elapsedS = (System.nanoTime() - w0) / 1e9
    assert(elapsedS >= 0.4, s"capped sink never throttled: $elapsedS s")
    assert(spark.read.parquet(s"$root/lake/person").count() === 6)
  }

  test("lake.sink=true topic lands only in the lake: fetch sees an empty log") {
    val root = java.nio.file.Files.createTempDirectory("graft-lakeonly").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-lakeonly-reg")
    java.nio.file.Files.writeString(rdir.resolve("person.json"),
      scala.io.Source.fromResource("schema/person.json").mkString)
    def mkStorage() =
      new ParquetStorage(spark, root, Some(new SchemaRegistry(rdir.toString)))
    val st = mkStorage()
    st.createTopic("person", 1, Map(ConfigKey.LakeSink -> "true"))
    val ptp = Topition("person", 0)
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada","lastName":"L","age":3}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, good) === Right(0L))
    assert(st.produce(ptp, good) === Right(1L)) // offsets still advance
    // the lake table holds both rows; the LOG holds none (no objects)
    assert(spark.read.parquet(s"$root/lake/person").count() === 2)
    assert(st.fetch(ptp, 0, Long.MaxValue).count() === 0)
    // durable offsets: a fresh process over the same root keeps counting
    // (watermark.json is independent of batch files)
    assert(mkStorage().produce(ptp, good) === Right(2L))
  }

  test("lake.normalize flattens the lake table with the configured separator") {
    val (st, root) = newStorage(withRegistry = true)
    st.createTopic("person", 1, Map(
      ConfigKey.LakeNormalize -> "true",
      ConfigKey.LakeNormalizeSeparator -> "_"))
    val ptp = Topition("person", 0)
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada","lastName":"L","age":3}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, good).isRight)
    val lake = spark.read.parquet(s"$root/lake/person")
    // nested structs flattened to top-level `a_b_c` columns (reference
    // taxi_normalized, delta.rs:1203/1317 — meta_partition etc.)
    assert(lake.columns.contains("meta_partition"))
    assert(lake.columns.contains("meta_year"))
    assert(lake.columns.contains("value_struct_value_firstName"))
    assert(!lake.columns.contains("meta"))
    assert(lake.select("value_struct_value_firstName").head().getString(0)
      === "Ada")
  }

  test("Avro topic: binary payloads validated and landed typed in lake") {
    val root = java.nio.file.Files.createTempDirectory("graft-avro-topic").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-avro-reg")
    val avsc =
      """{"type":"record","name":"m","fields":[
        |{"name":"amount","type":"double"},{"name":"tag","type":"string"}]}""".stripMargin
    java.nio.file.Files.writeString(rdir.resolve("metrics.avsc"), avsc)
    val st = new graft.storage.ParquetStorage(spark, root,
      Some(new graft.schema.SchemaRegistry(rdir.toString)))
    st.createTopic("metrics", 1)
    val mtp = Topition("metrics", 0)
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      graft.schema.AvroDecoder.encode(avsc, Map("amount" -> 2.5, "tag" -> "x"))))
      .toDF("timestamp", "key", "value")
    assert(st.produce(mtp, good).isRight)
    val bad = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      Array[Byte](9, 9, 9)))
      .toDF("timestamp", "key", "value")
    assert(st.produce(mtp, bad) === Left(ErrorCode.InvalidRecord))
    val lake = spark.read.parquet(s"$root/lake/metrics")
    assert(lake.count() === 1)
    assert(lake.select("value_struct.amount").head().getDouble(0) === 2.5)
    assert(lake.select("value_struct.tag").head().getString(0) === "x")
  }

  test("group state CAS: stale version rejected (T11 substrate)") {
    val (st, _) = newStorage()
    assert(st.updateGroup("g", "Forming", -1) === Some(0L))
    assert(st.updateGroup("g", "Formed", 0) === Some(1L))
    // retry with stale version fails
    assert(st.updateGroup("g", "Forming", 0) === None)
    assert(st.groupState("g").map(_._2) === Some(1L))
  }

  test("offset commit/fetch per group") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    st.offsetCommit("g1", tp, 42)
    assert(st.offsetFetch("g1", tp) === Some(42L))
    assert(st.offsetFetch("g2", tp) === None)
  }

  test("idempotent-producer sequences recover from the log after restart") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    assert(st.produce(tp, batch(5), producerId = 9, producerEpoch = 1,
      baseSequence = 0).isRight)
    assert(st.produce(tp, batch(3, 5), producerId = 9, producerEpoch = 1,
      baseSequence = 5).isRight)

    // new process over the same root: the resumed producer's next
    // in-order batch is accepted, a replayed old batch is rejected
    val st2 = new ParquetStorage(spark, root)
    assert(st2.produce(tp, batch(2, 8), producerId = 9, producerEpoch = 1,
      baseSequence = 8).isRight)
    assert(st2.produce(tp, batch(5), producerId = 9, producerEpoch = 1,
      baseSequence = 0) === Left(ErrorCode.DuplicateSequenceNumber))
    // and a lower-epoch zombie is still fenced after restart
    assert(st2.produce(tp, batch(1), producerId = 9, producerEpoch = 0,
      baseSequence = 0) === Left(ErrorCode.ProducerFenced))
  }

  test("group state and committed offsets survive a storage restart") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    st.offsetCommit("g1", tp, 42)
    assert(st.updateGroup("grp", """{"generation":3}""", -1) === Some(0L))
    assert(st.updateGroup("grp", """{"generation":4}""", 0) === Some(1L))

    // brand-new process over the same root: all group state recovers
    val st2 = new ParquetStorage(spark, root)
    assert(st2.offsetFetch("g1", tp) === Some(42L))
    assert(st2.groupState("grp") === Some(("""{"generation":4}""", 1L)))
    // CAS continues from the recovered version
    assert(st2.updateGroup("grp", """{"generation":5}""", 0) === None)
    assert(st2.updateGroup("grp", """{"generation":5}""", 1) === Some(2L))
  }

  test("transactions: aborted ranges filtered under read_committed (T5/J3/P8)") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    val (pid, _) = st.initProducer("tx-1")
    assert(st.produce(tp, batch(3)).isRight) // committed data 0..2
    st.txnBegin(pid, tp)
    assert(st.produce(tp, batch(4), producerId = pid, producerEpoch = 0,
      baseSequence = 0).isRight) // txn data 3..6
    // open txn pins last stable at 3
    assert(st.offsetStage(tp).lastStable === 3L)
    assert(st.fetch(tp, 0, Long.MaxValue, readCommitted = true).count() === 3)
    assert(st.txnEnd(pid, commit = false) === ErrorCode.None)
    val aborted = st.abortedTxns(tp, 0, Long.MaxValue)
    assert(aborted.map(r => (r.offsetStart, r.offsetEnd)) === Seq((3L, 6L)))
    // abort marker occupies offset 7 (control batch in the log); stable
    // advances past it and consumers never see the marker row
    assert(st.offsetStage(tp).lastStable === 8L)
    assert(st.fetch(tp, 0, Long.MaxValue).count() === 7) // 0..6, marker hidden

    // restart safety (P4/T5): a brand-new process over the same root
    // recovers the aborted range from the control markers alone
    val st2 = new ParquetStorage(spark, root)
    val recovered = st2.abortedTxns(tp, 0, Long.MaxValue)
    assert(recovered.map(r => (r.offsetStart, r.offsetEnd)) === Seq((3L, 6L)))
  }

  test("deleteTopic mid-transaction: endTxn and maintain stay alive") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    st.createTopic("keep", 1)
    val (pid, _) = st.initProducer("tx-del")
    st.txnBegin(pid, tp)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = 0,
      baseSequence = 0).isRight)
    st.deleteTopic("t1")
    // ending the txn must not throw into the deleted log; maintain must
    // not be permanently poisoned by the orphan txn
    assert(st.txnEnd(pid, commit = false) === ErrorCode.None)
    st.maintain() // would previously rethrow NoSuchFileException forever
    assert(st.produce(Topition("keep", 0), batch(1)).isRight)
  }

  test("byte budget counts tombstones: null values cannot make fetch unbounded") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    val tombstones = (0 until 50).map(i =>
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"key-$i",
        null: String)).toSeq
      .toDF("timestamp", "key", "value")
    assert(st.produce(tp, tombstones).isRight)
    // a tiny budget returns a bounded prefix (min one record), never the
    // whole partition
    val n = st.fetch(tp, 0, maxBytes = 64).count()
    assert(n >= 1 && n < 50, s"got $n rows for a 64-byte budget")
  }

  test("group keys containing '.tmp' stay visible to listings") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    st.offsetCommit("etl.tmp", tp, 5L)
    assert(st.offsetFetch("etl.tmp", tp) === Some(5L))
    assert(st.groupOffsets("etl.tmp").map(_._2) === Seq(5L))
  }

  test("producer-epoch fencing: stale instance rejected (T4)") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    val (pid, e0) = st.initProducer("app-1")
    assert(e0 === 0)
    st.txnBegin(pid, tp, e0)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = e0,
      baseSequence = 0).isRight)
    // same transactional id re-initialised: epoch bumps, zombie fenced
    val (pid2, e1) = st.initProducer("app-1")
    assert(pid2 === pid && e1 === 1)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = e0,
      baseSequence = 2) === Left(ErrorCode.ProducerFenced))
    assert(st.txnEnd(pid, commit = true, producerEpoch = e0) ===
      ErrorCode.ProducerFenced)
    // the fenced instance's open txn was aborted by the re-init
    assert(st.abortedTxns(tp, 0, Long.MaxValue).nonEmpty)
    // the new epoch proceeds normally
    assert(st.txnBegin(pid, tp, e1) === ErrorCode.None)
    assert(st.produce(tp, batch(1), producerId = pid, producerEpoch = e1,
      baseSequence = 0).isRight)
    assert(st.txnEnd(pid, commit = true, producerEpoch = e1) === ErrorCode.None)
  }

  test("txn offset commit: staged offsets visible only after commit (T5)") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    val (pid, e) = st.initProducer("etl-1")
    st.txnBegin(pid, tp, e)
    assert(st.txnOffsetCommit(pid, "g1", tp, 10, e) === ErrorCode.None)
    assert(st.offsetFetch("g1", tp) === None) // not visible inside the txn
    assert(st.txnEnd(pid, commit = true, producerEpoch = e) === ErrorCode.None)
    assert(st.offsetFetch("g1", tp) === Some(10L)) // visible after commit

    // aborted txn drops its staged offsets
    st.txnBegin(pid, tp, e)
    assert(st.txnOffsetCommit(pid, "g1", tp, 20, e) === ErrorCode.None)
    assert(st.txnEnd(pid, commit = false, producerEpoch = e) === ErrorCode.None)
    assert(st.offsetFetch("g1", tp) === Some(10L)) // unchanged
    // txnEnd without an open txn is an explicit error, not silent success
    assert(st.txnEnd(pid, commit = true, producerEpoch = e) ===
      ErrorCode.InvalidTxnState)
  }

  test("transactional identity survives restart: zombie fenced, txn state recovered") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    val (pid, e0) = st.initProducer("app-1")
    assert(st.txnBegin(pid, tp, e0) === ErrorCode.None)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = e0,
      baseSequence = 0).isRight) // txn data 0..1
    assert(st.txnOffsetCommit(pid, "g1", tp, 5, e0) === ErrorCode.None)

    // crash before txnEnd: a brand-new process over the same root
    val st2 = new ParquetStorage(spark, root)
    // the open txn still pins the last-stable offset (no visibility leak)
    assert(st2.offsetStage(tp).lastStable === 0L)
    // same transactional id resolves to the SAME pid with a bumped epoch
    val (pid2, e1) = st2.initProducer("app-1")
    assert(pid2 === pid)
    assert(e1 === e0 + 1)
    // the zombie's open txn was aborted durably (marker in the log) and
    // its staged consumer offsets were dropped
    assert(st2.abortedTxns(tp, 0, Long.MaxValue)
      .map(r => (r.offsetStart, r.offsetEnd)) === Seq((0L, 1L)))
    assert(st2.offsetFetch("g1", tp) === None)
    // the pre-restart instance is fenced
    assert(st2.produce(tp, batch(1), producerId = pid, producerEpoch = e0,
      baseSequence = 2) === Left(ErrorCode.ProducerFenced))
    // and fresh pids never collide with pre-restart pids
    val (pid3, _) = st2.initProducer("")
    assert(pid3 > pid)
  }

  test("maintain applies compaction: latest per key survives (T7/T8)") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact"))
    val dupKeys = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", "v1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "b", "v2"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "a", "v3"))
      .toDF("timestamp", "key", "value")
    st.produce(tp, dupKeys)
    st.maintain()
    val after = st.fetch(tp, 0, Long.MaxValue).collect()
    assert(after.length === 2)
    val aRow = after
      .find(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8") == "a").get
    assert(new String(aRow.getAs[Array[Byte]]("value"), "UTF-8") === "v3") // latest kept, offset preserved
    assert(aRow.getAs[Long]("offset") === 2L)
  }

  test("produceAll: one routed batch lands across all partitions with contiguous offsets") {
    val (st, _) = newStorage()
    st.createTopic("t1", 3)
    val routed = (0 until 30).map(i =>
      (java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0${i % 10}"),
        s"k$i", s"v$i", i % 3)).toSeq
      .toDF("timestamp", "key", "value", "partition")
    assert(st.produceAll("t1", routed) === Right(Map(0 -> 0L, 1 -> 0L, 2 -> 0L)))
    (0 until 3).foreach { p =>
      val offs = st.fetch(Topition("t1", p), 0, Long.MaxValue)
        .select("offset").as[Long].collect().sorted
      assert(offs.toSeq === (0L until 10L))
    }
    // a second batch continues from each partition's watermark, and
    // single-partition produce interoperates with the same offsets
    assert(st.produceAll("t1", routed) === Right(Map(0 -> 10L, 1 -> 10L, 2 -> 10L)))
    assert(st.produce(Topition("t1", 0), batch(2)) === Right(20L))
    // routing outside the declared partition set is rejected
    assert(st.produceAll("t1", routed.withColumn("partition", lit(7))) ===
      Left(ErrorCode.UnknownTopicOrPartition))
  }

  test("produceAll's offset/write plan shuffles once (window exchange reused)") {
    // the rank's window exchange on `partition` already co-locates each
    // partition's rows for the partitionBy("__p") write; a separate
    // repartition would double the shuffle on the hot streaming path
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val routed = (0 until 30).map(i => (s"k$i", s"v$i", i % 3))
        .toDF("key", "value", "partition")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("partition")).orderBy(monotonically_increasing_id())
      val planned = routed
        .withColumn("offset", row_number().over(w) - 1)
        .withColumn("__p", col("partition"))
      val exchanges = planned.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("maintain is restart-aware: a fresh process compacts topics it never touched") {
    val (st, root) = newStorage()
    st.createTopic("t1", 2, Map(ConfigKey.CleanupPolicy -> "compact"))
    val dupKeys = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", "v1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "a", "v2"))
      .toDF("timestamp", "key", "value")
    st.produce(tp, dupKeys)
    st.produce(Topition("t1", 1), dupKeys)

    // brand-new process over the same root, no topic access before maintain
    val st2 = new ParquetStorage(spark, root)
    st2.maintain()
    Seq(0, 1).foreach { p =>
      val after = st2.fetch(Topition("t1", p), 0, Long.MaxValue).collect()
      assert(after.length === 1)
      assert(new String(after.head.getAs[Array[Byte]]("value"), "UTF-8") === "v2")
      assert(after.head.getAs[Long]("offset") === 1L)
    }
  }

  test("maintain splits an oversized partition into offset-named segments") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(
      ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "4"))
    // 10 distinct keys across two batches -> all survive compaction
    st.produce(tp, batch(6))
    st.produce(tp, batch(4, 6))
    st.maintain()
    // ceil(10/4) = 3 segments, each named by the min offset it contains
    val segs = java.nio.file.Files.list(
      java.nio.file.Paths.get(st.fetchLogDir(tp))).iterator()
    import scala.jdk.CollectionConverters._
    val names = segs.asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.parquet")).toSeq.sorted
    assert(names.map(_.stripSuffix(".parquet").toLong) === Seq(0L, 4L, 8L))
    // data intact, offsets preserved, and deleteRecords' filename pruning
    // still works against the rewritten segments
    val rows = st.fetch(tp, 0, Long.MaxValue).orderBy("offset").collect()
    assert(rows.map(_.getAs[Long]("offset")).toSeq === (0L to 9L))
    st.deleteRecords(tp, 5)
    val left = java.nio.file.Files.list(
      java.nio.file.Paths.get(st.fetchLogDir(tp))).iterator()
    val after = left.asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.parquet")).toSeq.sorted
    assert(after.map(_.stripSuffix(".parquet").toLong) === Seq(4L, 8L))
    assert(st.fetch(tp, 0, Long.MaxValue).agg(min("offset")).head().getLong(0) === 5L)
  }

  test("maintenance swap is crash-safe: every crash point leaves a complete copy") {
    // the data-loss window the old delete-then-move swap had: inject a
    // crash at each point of the staged swap and show a FRESH process
    // still serves every surviving offset
    Seq("staged", "committed", "deleted").foreach { point =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-swap-$point").toString
      val st = new ParquetStorage(spark, root)
      st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact"))
      val dupKeys = Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", "v1"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "b", "v2"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "a", "v3"))
        .toDF("timestamp", "key", "value")
      st.produce(tp, dupKeys)
      st.swapCrashPoint = Some(point)
      intercept[Exception](st.maintain())
      val st2 = new ParquetStorage(spark, root)
      val offs = st2.fetch(tp, 0, Long.MaxValue)
        .select("offset").as[Long].collect().sorted.toSeq
      if (point == "staged")
        assert(offs === Seq(0L, 1L, 2L)) // uncommitted: old set intact
      else
        assert(offs === Seq(1L, 2L)) // committed: recovery finished the swap
      // and the next maintenance pass runs clean over the recovered state
      st2.maintain()
      assert(st2.fetch(tp, 0, Long.MaxValue)
        .select("offset").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    }
  }

  test("retention advances the durable log-start (no phantom earliest offset)") {
    var now = 1704067200000L // 2024-01-01T00:00:00Z, matching batch() stamps
    val root = java.nio.file.Files.createTempDirectory("graft-ret").toString
    val st = new ParquetStorage(spark, root, clock = () => now)
    st.createTopic("t1", 1, Map(ConfigKey.RetentionMs -> "1000"))
    st.produce(tp, batch(5)) // timestamps 00:00:00 .. 00:00:04
    now += 3000 // cutoff = now - 1000 = 00:00:02 → offsets 0,1 age out
    st.maintain()
    assert(st.listEarliestOffset(tp) === 2L)
    assert(st.fetch(tp, 0, Long.MaxValue)
      .agg(min("offset")).head().getLong(0) === 2L)
    // durable: a fresh process reports the same log-start
    val st2 = new ParquetStorage(spark, root)
    assert(st2.listEarliestOffset(tp) === 2L)
    // aging everything out advances log-start to the high watermark
    now += 100000
    st.maintain()
    assert(st.listEarliestOffset(tp) === 5L)
    assert(st.fetch(tp, 0, Long.MaxValue).count() === 0L)
  }

  test("committed offsets of inactive groups expire after retention; active groups keep theirs") {
    var now = 1704067200000L
    val root = java.nio.file.Files.createTempDirectory("graft-oexp").toString
    val st = new ParquetStorage(spark, root, clock = () => now)
    val t0 = Topition("t", 0)
    st.offsetCommit("dead", t0, 5L)
    st.offsetCommit("alive", t0, 7L)
    assert(st.storedGroups() === Seq("alive", "dead"))
    assert(st.groupOffsets("dead").map(o => (o._1, o._2)) === Seq((t0, 5L)))

    // inside the retention window: nothing expires
    now += 1000
    assert(st.expireOffsets(5000, _ == "alive").isEmpty)
    assert(st.offsetFetch("dead", t0) === Some(5L))

    // past the window: only the inactive group's offsets go
    now += 10000
    assert(st.expireOffsets(5000, _ == "alive") === Seq(("dead", t0)))
    assert(st.offsetFetch("dead", t0) === None)
    assert(st.offsetFetch("alive", t0) === Some(7L))

    // expiry is durable: a fresh process sees the same state
    val st2 = new ParquetStorage(spark, root)
    assert(st2.offsetFetch("dead", t0) === None)
    assert(st2.offsetFetch("alive", t0) === Some(7L))

    // deleteGroup removes the remaining group wholesale
    st.deleteGroup("alive")
    assert(st.offsetFetch("alive", t0) === None)
    assert(st.storedGroups() === Nil)
  }

  test("produce rejects out-of-range partitions with an error code, not a crash") {
    val root = java.nio.file.Files.createTempDirectory("graft-oob").toString
    val st = new ParquetStorage(spark, root)
    st.createTopic("narrow", 2)
    import spark.implicits._
    val batch = Seq((new java.sql.Timestamp(1000L), "k", "v"))
      .toDF("timestamp", "key", "value")
    assert(st.produce(Topition("narrow", 5), batch) ===
      Left(ErrorCode.UnknownTopicOrPartition))
    assert(st.produce(Topition("narrow", -1), batch) ===
      Left(ErrorCode.UnknownTopicOrPartition))
    assert(st.produce(Topition("narrow", 1), batch).isRight)
  }

  test("a recreated topic starts clean: offsets from 0, fresh producer sequences") {
    val root = java.nio.file.Files.createTempDirectory("graft-recreate").toString
    val st = new ParquetStorage(spark, root)
    import spark.implicits._
    def batch(v: String) = Seq((new java.sql.Timestamp(1000L), "k", v))
      .toDF("timestamp", "key", "value")
    st.createTopic("phoenix", 1)
    val tp = Topition("phoenix", 0)
    val (pid, _) = st.initProducer(null)
    assert(st.produce(tp, batch("a"), pid, 0, 0).isRight)
    assert(st.produce(tp, batch("b"), pid, 0, 1).isRight)
    assert(st.offsetStage(tp).highWatermark === 2L)

    st.deleteTopic("phoenix")
    st.createTopic("phoenix", 1)
    // offsets restart at 0 (no stale watermark) and the producer's
    // fresh sequence 0 is accepted (no stale duplicate rejection)
    assert(st.offsetStage(tp).highWatermark === 0L)
    assert(st.produce(tp, batch("c"), pid, 0, 0) === Right(0L))
  }

  test("group and topic names containing '/' keep offsets working") {
    val root = java.nio.file.Files.createTempDirectory("graft-slash").toString
    var now = 1000L
    val st = new ParquetStorage(spark, root, clock = () => now)
    val tp = Topition("t", 0)
    st.offsetCommit("a/b", tp, 42L)
    st.offsetCommit("a", tp, 7L)
    assert(st.offsetFetch("a/b", tp) === Some(42L))
    assert(st.offsetFetch("a", tp) === Some(7L))
    assert(st.groupOffsets("a") === Seq((tp, 7L, 1000L)))
    assert(st.groupOffsets("a/b") === Seq((tp, 42L, 1000L)))
    assert(st.storedGroups().sorted === Seq("a", "a/b"))
    // the retention sweep parses the poisonous name instead of dying
    now += 100000
    val expired = st.expireOffsets(50000, _ => false)
    assert(expired.toSet === Set(("a", tp), ("a/b", tp)))
    assert(st.offsetFetch("a/b", tp) === None)
  }

  test("alterTopicConfig persists: retention set after create drives maintain()") {
    val root = java.nio.file.Files.createTempDirectory("graft-altercfg").toString
    var now = 100000L
    val st = new ParquetStorage(spark, root, clock = () => now)
    st.createTopic("cfg", 1)
    val tp = Topition("cfg", 0)
    import spark.implicits._
    st.produce(tp, Seq((new java.sql.Timestamp(now), "k", "old")).toDF(
      "timestamp", "key", "value"))
    now += 60000
    st.produce(tp, Seq((new java.sql.Timestamp(now), "k2", "new")).toDF(
      "timestamp", "key", "value"))

    // no retention configured: maintain() keeps everything
    st.maintain()
    assert(st.fetch(tp, 0, 1 << 20).count() === 2)

    // dynamically set retention.ms; a FRESH process (config recovered
    // from topic.json alone) ages out the old record on its clock
    assert(st.alterTopicConfig("cfg",
      Map("retention.ms" -> "30000", "cleanup.policy" -> "delete"), Nil))
    val st2 = new ParquetStorage(spark, root, clock = () => now)
    assert(st2.topicConfig("cfg").get("retention.ms") === Some("30000"))
    st2.maintain()
    val left = st2.fetch(tp, 0, 1 << 20)
      .select(col("value").cast("string")).as[String].collect()
    assert(left.toSeq === Seq("new"))

    // DELETE removes the key again (and persists)
    assert(st2.alterTopicConfig("cfg", Map.empty, Seq("retention.ms")))
    val st3 = new ParquetStorage(spark, root, clock = () => now)
    assert(!st3.topicConfig("cfg").contains("retention.ms"))
    assert(!st.alterTopicConfig("ghost", Map("a" -> "b"), Nil))
  }

  test("concurrent increasePartitions never regresses the durable count") {
    val (st, root) = newStorage()
    st.createTopic("grow", 2)
    // 16 racing admin calls with mixed targets: the serialized RMW must
    // end at the maximum, reject the rest, and persist monotonically
    val targets = scala.util.Random.shuffle((3 to 18).toList)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = targets.map { n =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = st.increasePartitions("grow", n)
        })
      }.map(_.get())
      assert(results.count(_ == 0) >= 1) // at least the max succeeded
      assert(st.partitionCount("grow") === 18)
      // and the persisted topic.json agrees after a restart
      val st2 = new ParquetStorage(spark, root)
      assert(st2.partitionCount("grow") === 18)
    } finally pool.shutdownNow()
  }

  private def batchDirs(st: ParquetStorage, tp: Topition): Seq[Path] = {
    val s = Files.list(Paths.get(st.fetchLogDir(tp)))
    try s.iterator().asScala.filter(_.getFileName.toString.matches("\\d{20}\\.parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def baseOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".parquet").toLong

  /** The plan fetch ran before it read batch files itself: every batch
    * file through spark.read, then the byte-budget window over all of
    * them.
    */
  private def fetchOracle(st: ParquetStorage, tp: Topition, fetchOffset: Long,
                          maxBytes: Long, readCommitted: Boolean): DataFrame = {
    val stage = st.offsetStage(tp)
    val end = if (readCommitted) stage.lastStable else stage.highWatermark
    val ranged = spark.read.parquet(batchDirs(st, tp).map(_.toString): _*)
      .filter(!col("is_control"))
      .filter(col("offset") >= math.max(fetchOffset, stage.logStart) &&
        col("offset") < end)
      .withColumn("val_len", coalesce(octet_length(col("key")), lit(0)) +
        coalesce(octet_length(col("value")), lit(0)) + lit(16))
    LogOps.fetchWithByteBudget(ranged.withColumn("topic", lit(tp.topic))
      .withColumn("partition", lit(tp.partition)), fetchOffset, maxBytes)
      .drop("running_bytes", "val_len")
  }

  // byte arrays compare by content
  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> plain(x) }.toMap
    case x => x
  }

  test("fetch returns the rows of the whole-partition byte-budget plan") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "3"))
    // microsecond timestamps: decoding must be exact, not just ordered
    def recs(from: Int, kvs: (String, String)*) =
      kvs.zipWithIndex.map { case ((k, v), i) =>
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1704067200L + from + i, 123456000L + (from + i) * 1000L)), k, v)
      }.toDF("timestamp", "key", "value")
    def txn(id: String, from: Int, n: Int, commit: Boolean): Unit = {
      val (pid, epoch) = st.initProducer(id)
      st.txnBegin(pid, tp)
      assert(st.produce(tp, recs(from, (0 until n).map(i => s"$id-$i" -> s"v$i"): _*),
        pid, epoch, 0).isRight)
      assert(st.txnEnd(pid, commit) === ErrorCode.None)
    }
    assert(st.produce(tp, recs(0, "a" -> "v0", "b" -> "v1", "c" -> "v2",
      "d" -> "v3", "e" -> "v4")) === Right(0L))                  // 0..4
    Seq("a", "b", "f").zipWithIndex.foreach { case (k, i) =>
      st.produce(tp, recs(5 + i, k -> s"w$i")) }                 // 5..7
    st.produce(tp, recs(8, "c" -> null, "g" -> null))            // tombstones 8, 9
    txn("tx-a", 10, 2, commit = true)                            // 10, 11 + marker 12
    txn("tx-b", 13, 3, commit = false)                           // 13..15 + marker 16
    st.maintain() // compaction drops 0..2; segments of 3 rows
    st.produce(tp, recs(17, "h" -> "x", "i" -> "y"))             // 17, 18
    val (open, epoch) = st.initProducer("tx-c")                  // open: 19, 20
    st.txnBegin(open, tp)
    st.produce(tp, recs(19, "j" -> "z", "k" -> "zz"), open, epoch, 0)
    st.produce(tp, recs(21, "l" -> "last"))                      // 21
    assert(st.deleteRecords(tp, 4) === 4L)
    val stage = st.offsetStage(tp)
    assert((stage.logStart, stage.lastStable, stage.highWatermark) === (4L, 19L, 22L))
    assert(batchDirs(st, tp).size >= 6)

    val gen = for {
      offset <- Gen.choose(-1L, 23L)
      maxBytes <- Gen.oneOf(Gen.choose(0L, 200L), Gen.const(Long.MaxValue))
      committed <- Gen.oneOf(false, true)
    } yield (offset, maxBytes, committed)
    forAllGen(gen, cases = 40) { case (offset, maxBytes, committed) =>
      val want = fetchOracle(st, tp, offset, maxBytes, committed)
      val cols = want.columns.toSeq
      val got = st.fetch(tp, offset, maxBytes, committed).select(cols.map(col): _*)
        .collect().map(_.toSeq.map(plain)).toSeq
      assert(got === want.orderBy("offset").collect().map(_.toSeq.map(plain)).toSeq)
    }
  }

  test("fetch never returns records past a batch that is not yet published") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact"))
    assert(st.produce(tp, batch(3)) === Right(0L))
    // producer A's write job waits once A holds offset 3 (the watermark
    // file says 4), so producer B's offset 4 is published first
    val wm = Paths.get(st.fetchLogDir(tp), "watermark.json").toString
    val hold = udf { (v: String) =>
      if (Files.readString(Paths.get(wm)).contains("\"high\":4")) {
        StorageSpec.aWriting.countDown()
        StorageSpec.aMayPublish.await(60, TimeUnit.SECONDS)
      }
      v
    }
    val a = scala.concurrent.Future(
      st.produce(tp, batch(1, 3).withColumn("value", hold(col("value")))))(
      scala.concurrent.ExecutionContext.global)
    assert(StorageSpec.aWriting.await(60, TimeUnit.SECONDS))
    try {
      assert(st.produce(tp, batch(1, 4)) === Right(4L))
      assert(st.offsetStage(tp).highWatermark === 5L)
      // offset 4 is in place but 3 is not: a consumer handed 4 would skip 3
      assert(st.fetch(tp, 3, Long.MaxValue).count() === 0L)
      assert(st.fetch(tp, 0, Long.MaxValue).collect().map(_.getAs[Long]("offset"))
        .toSeq === Seq(0L, 1L, 2L))
      // maintenance rewrites only the files below the unpublished base
      st.maintain()
      assert(batchDirs(st, tp).map(baseOf) === Seq(0L, 4L))
    } finally StorageSpec.aMayPublish.countDown()
    assert(scala.concurrent.Await.result(a,
      scala.concurrent.duration.Duration(60, "s")) === Right(3L))
    assert(st.fetch(tp, 0, Long.MaxValue).collect().map(_.getAs[Long]("offset"))
      .toSeq === (0L to 4L))
    assert(batchDirs(st, tp).map(baseOf) === Seq(0L, 3L, 4L))
  }

  test("a 2 KiB fetch of an aged partition opens at most 3 batch files and runs no Spark job") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "1"))
    // 120 distinct 1 KiB records, split by maintenance into one file each
    val kib = "x" * 1024
    assert(st.produce(tp, (0 until 120).map(i =>
      (new java.sql.Timestamp(1704067200000L + i), s"k$i", kib))
      .toDF("timestamp", "key", "value")) === Right(0L))
    st.abortedTxns(tp, 0, Long.MaxValue) // the facade's one-time recovery scan
    st.maintain()
    val dirs = batchDirs(st, tp)
    assert(dirs.map(baseOf) === (0L until 120L))
    // every other batch file is overwritten with garbage: a fetch that
    // opened one would fail
    val needed = Set(60L, 61L, 62L, 118L, 119L)
    dirs.filterNot(d => needed(baseOf(d))).foreach { d =>
      val s = Files.list(d)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .foreach(Files.writeString(_, "not parquet"))
      finally s.close()
    }
    def offsets(df: DataFrame) = df.collect().map(_.getAs[Long]("offset")).toSeq
    val jobs = jobsDuring {
      // 1043 + 1043 bytes reach the budget: file 62 is read, its row dropped
      assert(offsets(st.fetch(tp, 60, 2048)) === Seq(60L, 61L))
      assert(offsets(st.fetch(tp, 118, 2048)) === Seq(118L, 119L))
      assert(offsets(st.fetch(tp, 119, 2048)) === Seq(119L))
    }
    assert(jobs === 0)
  }

  test("a fetch ends before a batch directory whose files are being deleted") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    (0 until 3).foreach(i => assert(st.produce(tp, batch(1, i)) === Right(i.toLong)))
    // a delete removes the part files before their directory: a fetch
    // listing the directory in between must not read on past it
    val s = Files.list(batchDirs(st, tp)(1))
    try s.iterator().asScala.toList.foreach(Files.delete) finally s.close()
    assert(st.fetch(tp, 0, Long.MaxValue).collect().map(_.getAs[Long]("offset"))
      .toSeq === Seq(0L))
  }

  test("a tail fetch of a large maintained segment skips its row groups below the start") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact"))
    val rnd = new scala.util.Random(7)
    assert(st.produce(tp, (0 until 4000).map(i =>
      (new java.sql.Timestamp(1704067200000L + i), s"k$i",
        rnd.alphanumeric.take(256).mkString))
      .toDF("timestamp", "key", "value")) === Right(0L))
    // small row groups, so the one segment maintenance writes holds many
    spark.conf.set("parquet.block.size", "16384")
    try st.maintain() finally spark.conf.unset("parquet.block.size")
    val segment = batchDirs(st, tp)
    assert(segment.map(baseOf) === Seq(0L))
    val parts = { val s = Files.list(segment.head)
      try s.iterator().asScala.toList finally s.close() }
    val part = parts.filter(_.getFileName.toString.startsWith("part-")) match {
      case Seq(p) => p
      case ps => fail(s"one part file expected, found $ps")
    }
    // every row group wholly below offset 3500 is zeroed (and the
    // checksum file dropped): a fetch that read one would fail
    val footer = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.toUri), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter finally r.close()
    }
    val below = footer.getBlocks.asScala.filter(_.getColumns.asScala
      .find(_.getPath.toDotString == "offset").get.getStatistics.genericGetMax
      .asInstanceOf[java.lang.Long] < 3500L)
    assert(below.size >= 10, s"${footer.getBlocks.size} row groups")
    parts.filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.delete)
    val ch = java.nio.channels.FileChannel.open(part, java.nio.file.StandardOpenOption.WRITE)
    try below.foreach(b =>
      ch.write(java.nio.ByteBuffer.allocate(b.getCompressedSize.toInt), b.getStartingPos))
    finally ch.close()
    def offsets(df: DataFrame) = df.collect().map(_.getAs[Long]("offset")).toSeq
    intercept[Exception](offsets(st.fetch(tp, 0, 2048)))
    // 2048 / (256 + 5 + 16) rounds up to 8 rows
    assert(offsets(st.fetch(tp, 3500, 2048)) === (3500L to 3507L))
    assert(offsets(st.fetch(tp, 3990, Long.MaxValue)) === (3990L until 4000L))
  }
}

object StorageSpec {
  // the in-flight test's two producers, on a Spark task thread and the
  // test thread
  val aWriting = new CountDownLatch(1)
  val aMayPublish = new CountDownLatch(1)
}
