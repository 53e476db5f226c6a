package graft.model

import org.apache.spark.sql.types._

/** Core data model for the graft engine — the Spark-native re-expression of
  * the reference's broker/storage data model.
  *
  * Reference: `nisshi-storage/src/lib.rs:505-521` (`Topition`),
  * `nisshi-sans-io/src/record.rs:172` (`Record`),
  * `nisshi-storage/src/lib.rs:836-852` (`OffsetStage`).
  *
  * The record log is a single partitioned table with this schema; every
  * operator in [[graft.operators.LogOps]] is a DataFrame transformation over
  * it. At 100 TB the table is partitioned by (topic, partition) and
  * append-ordered by offset, so offset-range scans prune to a single
  * partition directory and min/max parquet stats skip files.
  */
object Model {

  /** Topic + partition identity (reference `Topition`). */
  final case class Topition(topic: String, partition: Int)

  /** One record in the log. Tombstone = null value
    * (reference `nisshi-sans-io/src/record.rs:293`).
    */
  final case class LogRecord(
      topic: String,
      partition: Int,
      offset: Long,
      timestamp: java.sql.Timestamp,
      key: Array[Byte],
      value: Array[Byte],
      headers: Map[String, Array[Byte]],
      producerId: Long,
      producerEpoch: Int,
      baseSequence: Int,
      isControl: Boolean
  )

  /** Offset stage per partition (reference `OffsetStage`):
    * log_start <= last_stable <= high_watermark.
    */
  final case class OffsetStage(logStart: Long, lastStable: Long, highWatermark: Long)

  /** Consumer-group committed offset (reference `ddl/040-consumer-offset.sql`). */
  final case class ConsumerOffset(
      group: String,
      topic: String,
      partition: Int,
      committedOffset: Long,
      leaderEpoch: Int,
      metadata: String
  )

  /** Transaction state machine states
    * (reference `nisshi-storage/src/lib.rs:1288-1341`).
    */
  object TxnState extends Enumeration {
    val Begin, PrepareCommit, PrepareAbort, Committed, Aborted = Value
  }

  /** An open/closed transaction's offset range in one partition — used for
    * read_committed filtering and aborted-transaction reporting
    * (reference `sql/txn_produce_offset_select_overlapping_txn.sql`).
    */
  final case class TxnRange(
      producerId: Long,
      topic: String,
      partition: Int,
      offsetStart: Long,
      offsetEnd: Long,
      state: TxnState.Value
  )

  /** What the broker stores per SASL SCRAM user and mechanism — never
    * the password (reference `Storage::upsert_user_scram_credential`,
    * `nisshi-storage/src/lib.rs:1420-1432`).
    */
  final case class ScramCredential(
      mechanism: String,
      salt: Array[Byte],
      iterations: Int,
      storedKey: Array[Byte],
      serverKey: Array[Byte]
  )

  /** One stored ACL binding (reference CreateAclsService /
    * DescribeAclsService, `nisshi-broker/src/service/storage.rs:142,163`).
    * Enum fields carry the Kafka int8 codes: resourceType 2 = topic,
    * 3 = group; patternType 3 = literal, 4 = prefixed; operation /
    * permissionType per AclOperation / AclPermissionType.
    */
  final case class AclEntry(
      resourceType: Int,
      resourceName: String,
      patternType: Int,
      principal: String,
      host: String,
      operation: Int,
      permissionType: Int
  )

  /** Canonical record-log schema (SURVEY §1.4). */
  val logSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("headers", MapType(StringType, BinaryType), nullable = true),
    StructField("producer_id", LongType, nullable = false),
    StructField("producer_epoch", IntegerType, nullable = false),
    StructField("base_sequence", IntegerType, nullable = false),
    StructField("is_control", BooleanType, nullable = false),
    // commit|abort for control marker rows, null for data rows (the
    // Kafka control-record key's marker type, reference
    // `nisshi-sans-io/src/record.rs` control batch encoding; stored as a
    // column so aborted-range recovery is a pure log scan)
    StructField("control_type", StringType, nullable = true)
  ))

  /** Kafka error codes used by the storage layer (subset; reference
    * `nisshi-sans-io` error enum).
    */
  object ErrorCode {
    val None = 0
    val OffsetOutOfRange = 1
    val MessageTooLarge = 10
    val InvalidRecord = 87
    val KafkaStorageError = 56
    val UnknownServerError = -1
    val ProducerFenced = 90
    val OutOfOrderSequenceNumber = 45
    val DuplicateSequenceNumber = 46
    val UnknownTopicOrPartition = 3
    val InvalidProducerEpoch = 47
    val InvalidTxnState = 48
    val UnknownProducerId = 59
    val InvalidPartitions = 37
    val TransactionalIdNotFound = 105
  }

  /** One transactional id's coordinator state as DescribeTransactions
    * reports it (KIP-664). `partitions` lists the OPEN transaction's
    * partitions — empty once the txn completes, per Kafka semantics.
    */
  final case class TxnDescription(txnId: String, producerId: Long,
                                  producerEpoch: Int, state: String,
                                  startTimeMs: Long, timeoutMs: Int,
                                  partitions: Seq[Topition])

  /** Topic configuration keys honoured by the engine (reference
    * `nisshi-schema/src/lake/delta.rs:210-291` `tansu.lake.*`).
    */
  object ConfigKey {
    val CleanupPolicy = "cleanup.policy"       // delete | compact | compact,delete
    val RetentionMs = "retention.ms"
    val SegmentRows = "segment.rows"           // max rows per rewritten segment
    val LakePartition = "lake.partition"       // comma-separated partition cols
    val LakeZOrder = "lake.z_order"
    val LakeNormalize = "lake.normalize"       // flatten nested structs
    val LakeNormalizeSeparator = "lake.normalize.separator" // default "."
    val LakeSink = "lake.sink"                 // lake-only topic (no log objects)
    val GeneratedPrefix = "lake.param.generated." // generated-column SQL exprs
    val LakeRecordsPerSecond = "lake.records.per.second" // sink write rate cap
    val MaxMessageBytes = "max.message.bytes"  // per-record key+value cap
  }
}
