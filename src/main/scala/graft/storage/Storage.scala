package graft.storage

import org.apache.spark.sql.DataFrame
import graft.model.Model._

/** The engine's storage contract — Spark re-expression of the reference's
  * `Storage` trait (36 async methods, `nisshi-storage/src/lib.rs:1344-1546`).
  *
  * Data-plane methods speak DataFrames; control-plane methods are
  * driver-side. Semantics preserved:
  *  - produce assigns contiguous offsets per topition via a watermark CAS
  *    (`dynostore.rs:766-791`), rejects duplicate/out-of-order producer
  *    sequences (`dynostore.rs:826-880`), validates against the schema
  *    registry (`dynostore.rs:885-898`), and materializes schema-backed
  *    topics to the lake
  *  - fetch honours offset range, byte budget, and isolation level
  *  - group state updates are CAS-versioned (`lib.rs:1472-1478`)
  */
trait Storage {

  // -- topic lifecycle (reference lib.rs:1349-1368)
  def createTopic(topic: String, partitions: Int,
                  config: Map[String, String] = Map.empty): Unit
  def deleteTopic(topic: String): Unit
  def topics: Seq[String]
  def topicConfig(topic: String): Map[String, String]
  /** IncrementalAlterConfigs: apply SET (`set`) and DELETE (`delete`)
    * operations to a topic's dynamic config, durably. Later reads of
    * [[topicConfig]] — and the maintenance jobs keyed off retention /
    * cleanup.policy — see the new values. False when the topic is
    * unknown.
    */
  def alterTopicConfig(topic: String, set: Map[String, String],
                       delete: Seq[String]): Boolean
  /** Declared partition count from createTopic — the source of truth for
    * Metadata/assignment (empty partitions included), not a data probe.
    */
  def partitionCount(topic: String): Int

  // -- produce / fetch (reference lib.rs:1370-1388)
  /** Append a batch of records to one topition; returns the assigned base
    * offset, or an ErrorCode on validation/sequence failure, or
    * KAFKA_STORAGE_ERROR when a failure left nothing stored. It throws
    * only when the outcome is unknown.
    */
  def produce(tp: Topition, batch: DataFrame,
              producerId: Long = -1L, producerEpoch: Int = -1,
              baseSequence: Int = -1): Either[Int, Long]

  /** Append one routed batch (its `partition` column selects the target
    * partition) across a whole topic in a constant number of jobs —
    * one validation/sizing aggregate + one distributed write — instead
    * of two jobs per partition. The streaming micro-batch fast path.
    * Returns the assigned base offset per non-empty partition.
    */
  def produceAll(topic: String, batch: DataFrame): Either[Int, Map[Int, Long]]

  /** Records in [fetchOffset, visibility end) up to maxBytes, where the
    * end is the high watermark (read_uncommitted) or last stable offset
    * (read_committed) — reference `dynostore.rs:1037-1043`.
    *
    * Order: rows come back in offset order, so callers need not sort,
    * and never past an offset that is reserved but not yet readable.
    * Cost: follows the bytes returned, not the partition's size or age —
    * a bounded fetch reads from the row group that holds its start up to
    * the first row past its budget, on the calling thread, and runs no
    * Spark job. An unbounded maxBytes reads the whole range into memory.
    */
  def fetch(tp: Topition, fetchOffset: Long, maxBytes: Long,
            readCommitted: Boolean = false): DataFrame

  // -- offsets (reference lib.rs:1390-1415)
  def offsetStage(tp: Topition): OffsetStage
  def listEarliestOffset(tp: Topition): Long
  def listLatestOffset(tp: Topition): Long
  def offsetForTimestamp(tp: Topition, tsMillis: Long): Option[Long]
  /** Offset of the record with the largest timestamp (ListOffsets
    * timestamp -3, KIP-734) — None on an empty partition.
    */
  def maxTimestampOffset(tp: Topition): Option[Long]

  // -- consumer groups (reference lib.rs:1399-1478)
  def offsetCommit(group: String, tp: Topition, offset: Long): Unit
  def offsetFetch(group: String, tp: Topition): Option[Long]
  /** CAS update: succeeds only when expectedVersion matches; returns the
    * new version, or None on conflict (caller refetches and retries) —
    * the stateless-broker coordination primitive.
    */
  def updateGroup(group: String, state: String, expectedVersion: Long): Option[Long]
  def groupState(group: String): Option[(String, Long)]
  /** Committed offsets of one group: (tp, offset, commit-time millis;
    * 0 when unknown). Reference `sql/consumer_offset_select_by_group.sql`.
    */
  def groupOffsets(group: String): Seq[(Topition, Long, Long)]
  /** Remove one committed offset (OffsetDelete); true when one existed. */
  def deleteOffset(group: String, tp: Topition): Boolean
  /** Remove a group's coordinator state and every committed offset
    * (DeleteGroups; reference `sql/consumer_offset_delete_by_group.sql`).
    */
  def deleteGroup(group: String): Unit
  /** Groups present in storage — coordinator state or committed offsets. */
  def storedGroups(): Seq[String]
  /** Expire committed offsets older than retentionMs (per the storage
    * clock) for groups the caller reports inactive — Kafka's
    * offsets.retention.minutes sweep. Returns what was deleted.
    */
  def expireOffsets(retentionMs: Long,
                    groupIsActive: String => Boolean): Seq[(String, Topition)]

  // -- SASL credentials (reference lib.rs:1420-1432)
  /** Durably store one user's SCRAM credential for one mechanism (the
    * server-side keys, never the password).
    */
  def upsertScramCredential(user: String, cred: ScramCredential): Unit
  def scramCredential(user: String, mechanism: String): Option[ScramCredential]
  /** (user, mechanism) pairs with stored credentials — lets a restarted
    * broker know authentication is required without any config.
    */
  def listScramCredentials(): Seq[(String, String)]
  /** Remove one credential (AlterUserScramCredentials deletion); true
    * when one existed.
    */
  def deleteScramCredential(user: String, mechanism: String): Boolean

  // -- ACLs (reference CreateAclsService/DescribeAclsService)
  /** Durably add ACL bindings (idempotent on exact duplicates). */
  def createAcls(acls: Seq[AclEntry]): Unit
  def listAcls(): Seq[AclEntry]

  // -- transactions (reference lib.rs:1480-1517)
  /** Allocate (or re-init) a producer for `txnId`. Re-initialising an
    * existing transactional id bumps the epoch, fencing the previous
    * producer instance and aborting its in-flight transaction
    * (reference `dynostore.rs:826-880` epoch check semantics).
    */
  def initProducer(txnId: String): (Long, Int) // producer id, epoch
  /** Returns an ErrorCode (0 = ok). producerEpoch -1 skips the fence
    * check (non-wire callers).
    */
  def txnBegin(producerId: Long, tp: Topition, producerEpoch: Int = -1): Int
  /** Commit/abort. On commit, offsets staged via [[txnOffsetCommit]]
    * become visible; either way a control marker row (is_control=true)
    * is appended to every partition the txn touched, so aborted ranges
    * are recoverable from the log alone (reference `pg.rs:1027-1042`).
    * Returns an ErrorCode (0 = ok).
    */
  def txnEnd(producerId: Long, commit: Boolean, producerEpoch: Int = -1): Int
  /** AddOffsetsToTxn: admit the group's offsets as transaction
    * participants ahead of [[txnOffsetCommit]] — opens the txn for the
    * commit-only EOS flow. Returns an ErrorCode (0 = ok).
    */
  def txnAddOffsets(producerId: Long, group: String,
                    producerEpoch: Int = -1): Int
  /** Stage a consumer-group offset inside the transaction: visible to
    * offsetFetch only after txnEnd(commit=true) — the EOS
    * consume-transform-produce half (reference `lib.rs:1480-1517`).
    * Returns an ErrorCode (0 = ok).
    */
  def txnOffsetCommit(producerId: Long, group: String, tp: Topition,
                      offset: Long, producerEpoch: Int = -1): Int
  def abortedTxns(tp: Topition, fromOffset: Long, toOffset: Long): Seq[TxnRange]

  // -- maintenance (reference lib.rs maintain_* + policy SQL)
  /** Apply retention + compaction per topic config; abort expired txns. */
  def maintain(): Unit

  /** DeleteRecords: advance the partition's log-start offset to
    * `beforeOffset` (capped at the high watermark), physically dropping
    * batch objects that fall entirely below it. Returns the new low
    * watermark (the admin DeleteRecords API; reference per-API service +
    * `nisshi-storage/tests`).
    */
  def deleteRecords(tp: Topition, beforeOffset: Long): Long

  // -- admin breadth (KIP-195 CreatePartitions, KIP-664 introspection,
  //    KIP-546 client quotas)

  /** Grow a topic's partition count. Returns an ErrorCode:
    * UnknownTopicOrPartition when the topic is absent, InvalidPartitions
    * when `newCount` does not exceed the current count.
    */
  def increasePartitions(topic: String, newCount: Int): Int

  /** DescribeProducers: producers that have produced to `tp`, one row
    * per producer at its latest epoch — (producerId, epoch,
    * lastSequence, currentTxnStartOffset or -1).
    */
  def describeProducers(tp: Topition): Seq[(Long, Int, Int, Long)]

  /** DescribeTransactions: one transactional id's coordinator state. */
  def describeTransaction(txnId: String): Option[TxnDescription]

  /** ListTransactions: every transactional id — (txnId, producerId,
    * Kafka state name: Ongoing / CompleteCommit / CompleteAbort /
    * Empty).
    */
  def listTransactions(): Seq[(String, Long, String)]

  /** DescribeLogDirs: the storage root this engine serves from. */
  def logDir: String

  /** DescribeLogDirs: bytes of data files in one partition directory. */
  def partitionSizeBytes(tp: Topition): Long

  /** Client-quota store (durable, restart-recovered). Key = (entityType,
    * Some(name) | None for the default entity); values = quota key →
    * value. A `None` op value removes the key.
    */
  def alterClientQuotas(
      entries: Seq[((String, Option[String]), Seq[(String, Option[Double])])]): Unit
  def listClientQuotas(): Map[(String, Option[String]), Map[String, Double]]
}
