package wirebench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import graft.facade.{WireProtocol => W}
import graft.functions.RecordBatchCodec

/** One Kafka client connection over loopback, speaking the flexible
  * Produce v9 and Fetch v12 with the codecs the broker itself ships.
  * One request is in flight at a time, as the broker serves each
  * connection on one thread.
  */
final class KafkaConn(port: Int, val id: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val buf = ByteBuffer.allocate(1 << 20)
  private var correlation = 0

  /** Request id the tracer tags this connection's server-side work with. */
  @volatile var request: Long = -1L

  private def call(apiKey: Short, version: Short)(body: ByteBuffer => Unit): ByteBuffer = {
    correlation += 1
    buf.clear()
    buf.putShort(apiKey).putShort(version).putInt(correlation)
    W.writeString(buf, "wirebench")
    W.writeEmptyTaggedFields(buf)
    body(buf)
    buf.flip()
    out.writeInt(buf.remaining())
    out.write(buf.array(), 0, buf.remaining())
    out.flush()
    val resp = new Array[Byte](in.readInt())
    in.readFully(resp)
    val r = ByteBuffer.wrap(resp)
    val echoed = r.getInt
    if (echoed != correlation)
      throw new IllegalStateException(s"correlation $echoed, expected $correlation")
    W.skipTaggedFields(r) // response header v1
    r
  }

  /** Produce v9 of one record batch to one partition: (error, base offset). */
  def produce(topic: String, partition: Int, batch: Array[Byte]): (Short, Long) = {
    val r = call(0, 9)(W.writeProduceV9(_, W.ProduceRequest(-1, 30000,
      Seq(W.ProduceTopic(topic, Seq(W.ProducePartition(partition, batch)))))))
    val (_, err, base) = W.readProduceResponseV9(r)._1.head._2.head
    (err, base)
  }

  /** Fetch v12 of one partition: (top-level error, session id, result). */
  def fetch(topic: String, partition: Int, offset: Long, partMaxBytes: Int,
            maxWaitMs: Int, sessionId: Int, sessionEpoch: Int)
      : (Short, Int, Option[W.FetchV12PartResult]) = {
    val req = W.FetchRequest(maxWaitMs, 1, 50 << 20, 0,
      Seq(W.FetchTopic(topic, Seq(W.FetchPartition(partition, offset, partMaxBytes)))),
      sessionId, sessionEpoch)
    val (err, sid, topics) =
      W.readFetchResponseV12Full(call(1, 12)(W.writeFetchV12(_, req, 12)), 12)
    (err, sid, topics.flatMap(_._2).find(_.partition == partition))
  }

  /** Metadata v9 for one topic: the first request of a connection, which
    * lets the tracer learn which broker thread serves it.
    */
  def metadata(topic: String): Unit = {
    call(3, 9)(W.writeMetadataV9(_, Some(Seq(topic))))
    ()
  }

  def close(): Unit = sock.close()
}

object KafkaConn {
  /** One magic-v2 batch of (key, value) records stamped `tsMillis`. */
  def batch(records: Seq[(Array[Byte], Array[Byte])], tsMillis: Long): Array[Byte] =
    RecordBatchCodec.encode(RecordBatchCodec.Batch(0L, 0, 0, tsMillis, tsMillis,
      -1L, -1, -1, records.zipWithIndex.map { case ((k, v), i) =>
        RecordBatchCodec.Record(i, 0L, k, v, Nil)
      }))

  /** Records of a fetched wire blob as (offset, key, value). */
  def records(blob: Array[Byte]): Seq[(Long, Array[Byte], Array[Byte])] =
    if (blob == null || blob.isEmpty) Nil
    else RecordBatchCodec.decodeAll(blob).flatMap(b =>
      b.records.map(r => (b.baseOffset + r.offsetDelta, r.key, r.value)))
}
