package graft.ss

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.SeaMessage

/** The `.ss` container format — seekable, beacon-indexed, CRC-checked
  * (spec: sea-streamer-file/src/format.rs:1-59). All integers big-endian.
  *
  * Layout: 128-byte header (`0x53 0x73 0x01`, short-string file name, u64
  * created-at ms, u32 beacon interval, zero padding, 0x0D); then message
  * frames (`short-string key, u64 shard, u64 seq, u64 ts_ms, u32 len,
  * payload, u16 crc, 0x0D`), with a Beacon at every `beacon_interval`-byte
  * boundary (`0x0D, u32 remaining_message_bytes, u8 n, n × marker, 0x0D`).
  * Messages may straddle beacons (format.rs:34-37).
  */
object SsFormat {
  final val HeaderSize = 128
  final val ByteMark0 = 0x53
  final val ByteMark1 = 0x73
  final val Version = 0x01
  final val Cr: Byte = 0x0D

  /** Defaults from sea-streamer-file/src/lib.rs:92-93. */
  final val DefaultBeaconInterval: Int = 1024 * 1024
  final val DefaultFileSizeLimit: Long = 16L * 1024 * 1024 * 1024

  final val EosPayload = "EOS"

  /** Marker max byte size: short-string max (1+255) + shard + seq + ts + crc16. */
  final val MarkerMaxSize: Int = 256 + 8 + 8 + 8 + 2

  /** Max markers that fit in `space` bytes of beacon (format.rs: max_markers). */
  def maxMarkers(space: Int): Int =
    if (space < 7) 0 else math.min(255, (space - 7) / MarkerMaxSize)

  /** Reasonable marker count for an interval (format.rs: num_markers). */
  def numMarkers(beaconInterval: Int): Int = maxMarkers(beaconInterval) / 2

  final case class SsHeader(
      fileName: String,
      createdAtMillis: Long,
      beaconInterval: Int)

  /** Beacon item: latest (max) seq/ts per (stream, shard) so far, plus the
    * running checksum of that stream's message checksums.
    */
  final case class Marker(
      streamKey: String,
      shardId: Long,
      maxSeqNo: Long,
      maxTimestampMillis: Long,
      runningChecksum: Int)

  final case class Beacon(remainingMessagesBytes: Int, items: Seq[Marker]) {
    def size: Int =
      1 + 4 + 1 + items.map(m => 1 + m.streamKey.getBytes(UTF_8).length + 26).sum + 1
  }

  final case class FormatException(msg: String) extends RuntimeException(msg)
  final case class ChecksumException(received: Int, computed: Int)
      extends RuntimeException(s"Checksum error: received $received, computed $computed")

  // ---- encoding ---------------------------------------------------------

  /** Growable big-endian byte sink. [[SsWriter]] keeps one and resets it
    * per frame, so writing a frame allocates no stream, frame array or tuple.
    */
  final class Encoder(initial: Int = 512) {
    private[ss] var bytes = new Array[Byte](initial)
    private[ss] var length = 0

    def reset(): Unit = length = 0
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(bytes, length)

    private def room(n: Int): Unit =
      if (length + n > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes,
          math.max(bytes.length * 2, length + n))

    private def be(v: Long, n: Int): Unit = {
      room(n)
      var i = 0
      while (i < n) { bytes(length + i) = (v >>> (8 * (n - 1 - i))).toByte; i += 1 }
      length += n
    }
    def u8(v: Int): Unit = be(v, 1)
    def u16(v: Int): Unit = be(v, 2)
    def u32(v: Int): Unit = be(v, 4)
    def u64(v: Long): Unit = be(v, 8)
    def put(a: Array[Byte]): Unit = {
      room(a.length)
      System.arraycopy(a, 0, bytes, length, a.length)
      length += a.length
    }

    /** u8 length + UTF-8 bytes. */
    def shortString(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      require(b.length <= 255, s"String too long: ${b.length}")
      u8(b.length)
      put(b)
    }
  }

  def encodeHeader(h: SsHeader): Array[Byte] = {
    val out = new Encoder(HeaderSize)
    out.u8(ByteMark0); out.u8(ByteMark1); out.u8(Version)
    out.shortString(h.fileName)
    out.u64(h.createdAtMillis)
    out.u32(h.beaconInterval)
    val padding = HeaderSize - out.length
    require(padding >= 1, s"File name too long for header: ${h.fileName}")
    while (out.length < HeaderSize - 1) out.u8(0)
    out.u8(Cr)
    out.toByteArray
  }

  /** Appends one message frame (header + u32 size + payload + u16 crc +
    * 0x0D) to `out`; returns the payload checksum.
    */
  def encodeMessage(out: Encoder, m: SeaMessage): Int = {
    val payload = if (m.payload == null) Array.emptyByteArray else m.payload
    out.shortString(m.stream_key)
    out.u64(m.shard_id)
    out.u64(m.sequence)
    out.u64(m.timestamp.getTime)
    out.u32(payload.length)
    out.put(payload)
    val crc = Crc16Cdma2000(payload)
    out.u16(crc)
    out.u8(Cr)
    crc
  }

  /** One message frame as its own array, with its payload checksum. */
  def encodeMessage(m: SeaMessage): (Array[Byte], Int) = {
    val out = new Encoder(64 + (if (m.payload == null) 0 else m.payload.length))
    val crc = encodeMessage(out, m)
    (out.toByteArray, crc)
  }

  def encodeBeacon(b: Beacon): Array[Byte] = {
    require(b.items.length <= 255, "TooManyBeacon")
    val out = new Encoder(b.size)
    out.u8(Cr)
    out.u32(b.remainingMessagesBytes)
    out.u8(b.items.length)
    b.items.foreach { m =>
      out.shortString(m.streamKey)
      out.u64(m.shardId)
      out.u64(m.maxSeqNo)
      out.u64(m.maxTimestampMillis)
      out.u16(m.runningChecksum)
    }
    out.u8(Cr)
    out.toByteArray
  }

  // ---- decoding ---------------------------------------------------------

  /** Big-endian decode primitives. [[SsSource]] implements every one of
    * them over its buffer — in place when the field lies wholly before the
    * buffer end and the next beacon boundary, by block copy otherwise — and
    * is what every file read goes through. An in-memory reader only has to
    * supply `readByte`; the defaults compose the rest from it.
    */
  trait ByteReader {
    def readByte(): Int // 0..255, or throws EOFException

    def skipFully(n: Int): Unit = {
      var i = 0
      while (i < n) { readByte(); i += 1 }
    }
    def readFully(n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      var i = 0
      while (i < n) { a(i) = readByte().toByte; i += 1 }
      a
    }
    def readU16(): Int = (readByte() << 8) | readByte()
    def readU32(): Int = (readU16() << 16) | readU16()
    def readU64(): Long =
      (readU32().toLong << 32) | (readU32().toLong & 0xFFFFFFFFL)
    def readShortString(): String = new String(readFully(readByte()), UTF_8)
  }

  def decodeHeader(bytes: Array[Byte]): SsHeader = {
    require(bytes.length == HeaderSize, s"Header must be $HeaderSize bytes")
    if ((bytes(0) & 0xFF) != ByteMark0 || (bytes(1) & 0xFF) != ByteMark1)
      throw FormatException("Byte mark mismatch")
    if ((bytes(2) & 0xFF) != Version) throw FormatException("Version mismatch")
    val len = bytes(3) & 0xFF
    // the name leaves no room for the created-at and interval fields
    if (4 + len + 8 + 4 > HeaderSize) throw new java.io.EOFException
    val rest = java.nio.ByteBuffer.wrap(bytes, 4 + len, HeaderSize - 4 - len)
    SsHeader(new String(bytes, 4, len, UTF_8), rest.getLong(), rest.getInt())
  }

  /** Reads one message frame (a beacon in the way is the reader's to
    * consume). Returns message + its stored checksum. With `skimPayload`
    * the payload bytes are skipped, not materialized — for offset walks
    * that only need frame boundaries.
    */
  def decodeMessage(r: ByteReader, skimPayload: Boolean = false): (SeaMessage, Int) = {
    val key = r.readShortString()
    val shard = r.readU64()
    val seq = r.readU64()
    val ts = r.readU64()
    val size = r.readU32()
    // a u32 size past Int.MaxValue fits no array and no frame extent
    if (size < 0)
      throw FormatException(s"Frame size ${size & 0xFFFFFFFFL} exceeds ${Int.MaxValue}")
    // control frames (EOS) stay materialized even when skimming
    val payload =
      if (skimPayload && key != graft.core.Envelope.SeaStreamerInternal) {
        r.skipFully(size); null
      } else r.readFully(size)
    val crc = r.readU16()
    r.readByte() // 0x0D
    (SeaMessage(key, shard, seq, new java.sql.Timestamp(ts), payload), crc)
  }

  def decodeBeacon(r: ByteReader): Beacon = {
    r.readByte() // 0x0D
    val remaining = r.readU32()
    val n = r.readByte()
    val items = (0 until n).map { _ =>
      Marker(r.readShortString(), r.readU64(), r.readU64(), r.readU64(), r.readU16())
    }
    r.readByte() // 0x0D
    Beacon(remaining, items)
  }
}
