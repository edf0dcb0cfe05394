package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's single data abstraction: a keyed, sharded, sequenced message.
  *
  * Mirrors the reference envelope `MessageHeader {stream_key, shard_id,
  * sequence, timestamp}` + opaque payload
  * (sea-streamer-types/src/message.rs:41-48), deliberately congruent with
  * Spark's Kafka source schema so relational code treats transport rows
  * uniformly.
  */
final case class SeaMessage(
    stream_key: String,
    shard_id: Long,
    sequence: Long,
    timestamp: java.sql.Timestamp,
    payload: Array[Byte]) {

  /** (StreamKey, ShardId, SeqNo) uniquely identifies a message
    * (sea-streamer-types/src/message.rs:87-90).
    */
  def identifier: (String, Long, Long) = (stream_key, shard_id, sequence)

  def payloadUtf8: String = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
}

object Envelope {
  /** Fixed envelope schema for every source/sink DataFrame. */
  val schema: StructType = StructType(Seq(
    StructField("stream_key", StringType, nullable = false),
    StructField("shard_id", LongType, nullable = false),
    StructField("sequence", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** A message as a row of [[schema]] (timestamp in micros). */
  def toInternalRow(m: SeaMessage): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.stream_key),
      m.shard_id,
      m.sequence,
      m.timestamp.getTime * 1000L, // micros
      m.payload))

  def fromInternalRow(row: InternalRow): SeaMessage =
    SeaMessage(
      row.getUTF8String(0).toString,
      row.getLong(1),
      row.getLong(2),
      new java.sql.Timestamp(row.getLong(3) / 1000L),
      if (row.isNullAt(4)) Array.emptyByteArray else row.getBinary(4))

  /** Max stream-key length (sea-streamer-types/src/stream.rs:7). */
  val MaxStreamKeyLen = 249

  /** Reserved control stream (stream.rs:10). */
  val SeaStreamerInternal = "SEA_STREAMER_INTERNAL"

  /** Subscribe-all wildcard (sea-streamer-file/src/lib.rs:96-97). */
  val SeaStreamerWildcard = "*"

  /** Key validation `[a-zA-Z0-9._-]{0,249}` (stream.rs:89-97 — note the
    * reference accepts the empty string here; emptiness is checked at the
    * consumer API layer as StreamKeyEmpty).
    */
  def isValidStreamKey(s: String): Boolean =
    s.length <= MaxStreamKeyLen && s.forall(isValidStreamKeyChar)

  def isValidStreamKeyChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-'

  def validateStreamKey(s: String): Either[SeaStreamErr, String] =
    if (isValidStreamKey(s)) Right(s)
    else Left(SeaStreamErr.InvalidStreamKey(s))

  /** Stream position (stream.rs:34-40). */
  sealed trait SeqPos
  object SeqPos {
    case object Beginning extends SeqPos
    case object End extends SeqPos
    final case class At(seqNo: Long) extends SeqPos
  }
}
