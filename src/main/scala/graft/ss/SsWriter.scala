package graft.ss

import java.io.OutputStream

import scala.collection.mutable

import graft.core.{Envelope, SeaMessage}
import graft.ss.SsFormat._

/** Muxing `.ss` sink: writes message frames, inserting a Beacon at every
  * `beaconInterval` boundary; frames that would cross the boundary are spliced
  * (behavior of sea-streamer-file/src/messages.rs:556-604).
  *
  * Beacon items carry, per (stream, shard): max seq, max ts, and the running
  * checksum of message checksums. When more streams exist than markers fit,
  * markers round-robin across beacons (messages.rs:580-604). Stream state
  * iterates in (key, shard) order — the reference's BTreeMap order — so files
  * are byte-reproducible.
  */
final class SsWriter(
    out: OutputStream,
    fileName: String,
    beaconInterval: Int = SsFormat.DefaultBeaconInterval,
    createdAtMillis: Long = System.currentTimeMillis(),
    private[ss] val resume: Option[SsWriter.Resume] = None) {

  require(beaconInterval >= HeaderSize,
    s"beaconInterval must be >= $HeaderSize")

  private final case class StreamState(
      var maxSeqNo: Long, var maxTsMillis: Long, checksum: RunningChecksum)

  private val states = mutable.TreeMap.empty[(String, Long), StreamState]
  private var beaconCount: Long = 0
  private var offsetBytes: Long = 0
  private var messages: Long = 0

  locally {
    resume match {
      case Some(r) =>
        // appending to an existing container: state recovered by the skim
        // walk in SsWriter.append — no header is written
        offsetBytes = r.offset
        beaconCount = r.markerCount
        messages = r.messages
        r.states.foreach { case ((k, sh), (mx, ts, crc)) =>
          states((k, sh)) = StreamState(mx, ts, RunningChecksum.resume(crc))
        }
        // the resume point sits exactly on a boundary whose beacon was
        // truncated/absent — readers demand one, so emit it now
        if (r.needBeacon) writeBeacon(0)
      case None =>
        val header = encodeHeader(SsHeader(fileName, createdAtMillis, beaconInterval))
        out.write(header)
        offsetBytes = header.length.toLong
        if (offsetBytes == beaconInterval.toLong) {
          // header fills exactly one interval: an empty beacon goes right after
          val b = encodeBeacon(Beacon(0, Nil))
          out.write(b)
          offsetBytes += b.length
        }
    }
  }

  def offset: Long = offsetBytes
  def messageCount: Long = messages

  // one frame buffer for the writer's life, reset per message
  private val frameOut = new Encoder()

  /** Writes one message; returns its payload checksum. */
  def write(msg: SeaMessage): Int = {
    frameOut.reset()
    val checksum = encodeMessage(frameOut, msg)
    val frame = frameOut.bytes
    val frameLength = frameOut.length
    val st = states.getOrElseUpdate((msg.stream_key, msg.shard_id),
      StreamState(msg.sequence, msg.timestamp.getTime, RunningChecksum()))
    st.maxSeqNo = math.max(st.maxSeqNo, msg.sequence)
    st.maxTsMillis = math.max(st.maxTsMillis, msg.timestamp.getTime)
    st.checksum.update(checksum)

    var pos = 0
    while (pos < frameLength) {
      val untilBoundary =
        (beaconInterval - (offsetBytes % beaconInterval)).toInt
      val n = math.min(untilBoundary, frameLength - pos)
      out.write(frame, pos, n)
      pos += n
      offsetBytes += n
      if (offsetBytes % beaconInterval == 0) writeBeacon(frameLength - pos)
    }
    messages += 1
    checksum
  }

  private def writeBeacon(remainingMessageBytes: Int): Unit = {
    val budget = numMarkers(beaconInterval)
    val all = states.iterator.toIndexedSeq
    val take = math.min(all.length, budget)
    val skip = if (all.isEmpty) 0 else (beaconCount % all.length).toInt
    val chosen = (0 until take).map { i =>
      val ((key, shard), st) = all((skip + i) % all.length)
      Marker(key, shard, st.maxSeqNo, st.maxTsMillis, st.checksum.value)
    }
    val bytes = encodeBeacon(Beacon(remainingMessageBytes, chosen))
    out.write(bytes)
    offsetBytes += bytes.length
    beaconCount += chosen.length
  }

  /** Terminates the stream with an EOS control message
    * (messages.rs:16-17,678-691).
    */
  def endOfStream(): Unit = {
    write(SeaMessage(Envelope.SeaStreamerInternal, 0, 0,
      new java.sql.Timestamp(System.currentTimeMillis()),
      EosPayload.getBytes("UTF-8")))
  }

  def flush(): Unit = out.flush()
  def close(): Unit = { out.flush(); out.close() }
}

object SsWriter {

  /** State recovered from an existing container for append mode. */
  private[ss] final case class Resume(
      offset: Long,
      states: Seq[((String, Long), (Long, Long, Int))],
      markerCount: Long,
      messages: Long,
      needBeacon: Boolean)

  /** Reopen an existing `.ss` container and continue appending — the
    * reference's single-file tail-replay/EOS-truncation behavior
    * (sea-streamer-file/src/messages.rs:420-515): a trailing EOS frame (or a
    * truncated in-flight tail from a crashed writer) is chopped off, the
    * per-stream marker states and running checksums are restored by a skim
    * walk, and writing resumes beacon-consistently at the cut point.
    */
  def append(path: String): SsWriter = {
    val r = SsReader.open(path, verifyChecksum = false, skim = true)
    val header = r.header
    val interval = header.beaconInterval
    val restored = mutable.TreeMap.empty[(String, Long), (Long, Long, RunningChecksum)]
    var end = HeaderSize.toLong
    var count = 0L
    try {
      var done = false
      while (!done) r.next() match {
        case Some(rec) =>
          val k = (rec.message.stream_key, rec.message.shard_id)
          val (mx, ts, crc) = restored.getOrElse(k,
            (Long.MinValue, Long.MinValue, RunningChecksum()))
          crc.update(rec.checksum)
          restored(k) = (math.max(mx, rec.message.sequence),
            math.max(ts, rec.message.timestamp.getTime), crc)
          end = rec.endOffset
          count += 1
        case None => done = true
      }
      // cut at the EOS frame start, or after the last complete frame
      var cut = r.eosStart.getOrElse(end)
      var needBeacon = false
      if (cut > 0 && cut % interval == 0) {
        // the cut lands exactly on a boundary: keep the beacon standing
        // there if it is complete, otherwise the resumed writer must emit
        // one (readers consume a beacon at every boundary)
        SsReader.readBeaconAt(path, cut) match {
          case Some(b) => cut += b.size
          case None => needBeacon = true
        }
      }
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(path),
        java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(cut) finally ch.close()

      // marker count across surviving beacons (rotation phase), read over
      // one channel
      var markers = 0L
      SsReader.readBeaconsAt(path,
        (1L to (cut - 1) / interval).iterator.map(_ * interval))(
        b => markers += b.items.length)
      new SsWriter(
        new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(path, true), 1 << 16),
        header.fileName, interval, header.createdAtMillis,
        Some(Resume(cut,
          restored.toSeq.map { case (key, (mx, ts, crc)) =>
            (key, (mx, ts, crc.value)) },
          markers, count, needBeacon)))
    } finally r.close()
  }
}
