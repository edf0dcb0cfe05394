package graft.ss

import java.io.EOFException

import graft.core.{Envelope, SeaMessage}
import graft.ss.SsFormat._

/** One decoded frame plus its byte extent in the file. */
final case class SsRecord(
    message: SeaMessage,
    checksum: Int,
    startOffset: Long,
    endOffset: Long)

/** Demuxing `.ss` reader: yields message frames, transparently consuming the
  * Beacon interleaved at every `beaconInterval` boundary — including beacons
  * that land mid-frame (spliced messages, format.rs:34-37).
  *
  * Decoding is block-at-a-time: an [[SsSource]] fills a 64 KiB buffer from
  * the file channel, header fields decode in place, payloads are copied in
  * contiguous runs that stop at the next beacon boundary, skim mode skips
  * payloads by moving the buffer or channel position, and a frame whose key
  * bytes repeat the previous frame's reuses its `String`.
  *
  * Can start either at the header or at the N-th beacon boundary
  * ([[SsReader.openAt]]); in the latter case the partial spliced message
  * under the beacon is skipped exactly like the reference's rewind
  * (sea-streamer-file/src/messages.rs:144-173) — this is what makes the file
  * SPLITTABLE for parallel scan: split k reads messages whose frame *starts*
  * in [beacon_k, beacon_k+stride).
  */
final class SsReader private (
    src: SsSource,
    val header: SsHeader,
    verifyChecksum: Boolean,
    /** Skip payload bytes (frames only carry header/extent) — for offset
      * walks. Incompatible with checksum verification.
      */
    skimPayload: Boolean,
    /** Surface `SEA_STREAMER_INTERNAL` control frames instead of hiding
      * them — the decoder utility prints every frame including the
      * terminating EOS, like the reference's ss-decode
      * (sea-streamer-file/src/bin/decoder.rs:66-137). EOS still ends the
      * scan: the frame is returned once, then `next()` yields None.
      */
    surfaceInternal: Boolean) extends AutoCloseable {

  private var eosSeen = false
  private var truncated = false
  private var eosStartVar: Option[Long] = None

  // Split start: drop the partial message spliced under the starting beacon.
  // Loop because a long frame can fully bridge an interval (rewind law,
  // messages.rs:144-173: skip min(remaining, interval - beaconSize)).
  try {
    while (src.atBoundary) {
      val beacon = src.crossBoundary()
      src.skipFully(math.min(beacon.remainingMessagesBytes.toLong,
        header.beaconInterval.toLong - beacon.size).toInt)
    }
  } catch { case _: EOFException => truncated = true }

  def currentOffset: Long = src.offset
  def lastBeacon: Option[Beacon] = src.lastBeacon
  def isEos: Boolean = eosSeen
  def isTruncated: Boolean = truncated

  /** Next message frame, or None at EOF / EOS / truncated tail.
    * Internal control messages (EOS) terminate; other `SEA_STREAMER_INTERNAL`
    * messages are skipped (file/src consumers never surface them).
    */
  @annotation.tailrec
  def next(): Option[SsRecord] = {
    if (eosSeen || truncated) return None
    val start = src.offset
    val decoded =
      try {
        val (msg, storedCrc) = decodeMessage(src, skimPayload)
        if (verifyChecksum && !skimPayload) {
          val computed = Crc16Cdma2000(
            if (msg.payload == null) Array.emptyByteArray else msg.payload)
          if (computed != storedCrc)
            throw ChecksumException(storedCrc, computed)
        }
        Some(SsRecord(msg, storedCrc, start, src.offset))
      } catch {
        case _: EOFException =>
          // clean EOF at frame start, or a truncated in-flight tail — both
          // end the scan (the tail becomes visible on the next micro-batch)
          truncated = src.offset != start
          None
      }
    decoded match {
      case Some(r) if r.message.stream_key == Envelope.SeaStreamerInternal =>
        if (r.message.payloadUtf8 == EosPayload) {
          eosSeen = true; eosStartVar = Some(r.startOffset)
          if (surfaceInternal) decoded else None
        } else if (surfaceInternal) decoded
        else next()
      case other => other
    }
  }

  /** Byte offset where the terminating EOS frame starts (for append-mode
    * EOS truncation, messages.rs:420-515).
    */
  def eosStart: Option[Long] = eosStartVar

  def iterator: Iterator[SsRecord] =
    Iterator.continually(next()).takeWhile(_.isDefined).map(_.get)

  def close(): Unit = src.close()
}

object SsReader {

  /** Opens `path` and decodes its header — the one header read behind
    * every entry point.
    */
  private def withHeader(path: String, bufferSize: Int): (SsSource, SsHeader) = {
    val src = SsSource.open(path, bufferSize)
    try {
      val bytes =
        try src.readFully(HeaderSize)
        catch { case _: EOFException => throw new EOFException(s"File shorter than header: $path") }
      (src, decodeHeader(bytes))
    } catch { case e: Throwable => src.close(); throw e }
  }

  /** Decode the beacons sitting at exact interval boundaries, over one
    * channel, handing each to `f` as it is read (split-pruning support: the
    * beacon's markers carry prefix-max seq/ts per stream). Offsets where the
    * file ends before or inside the beacon are passed over.
    */
  def readBeaconsAt(path: String, offsets: Iterator[Long])(f: Beacon => Unit): Unit = {
    val src = SsSource.open(path, 1 << 14)
    try {
      val size = src.size
      offsets.foreach { offset =>
        if (offset < size) {
          val b = try Some(decodeBeacon(src.at(offset)))
          catch { case _: EOFException => None }
          b.foreach(f)
        }
      }
    } finally src.close()
  }

  /** The beacon at one interval boundary; None where the file ends before
    * or inside it.
    */
  def readBeaconAt(path: String, offset: Long): Option[Beacon] = {
    var out: Option[Beacon] = None
    readBeaconsAt(path, Iterator.single(offset))(b => out = Some(b))
    out
  }

  def readHeader(path: String): SsHeader = {
    val (src, header) = withHeader(path, HeaderSize)
    src.close()
    header
  }

  /** Sequential read from the start of the data. */
  def open(path: String, verifyChecksum: Boolean = true, skim: Boolean = false,
      surfaceInternal: Boolean = false): SsReader =
    openAt(path, 0, verifyChecksum, skim, surfaceInternal)

  /** Positioned read from an exact byte offset that is known to be either a
    * frame start or a beacon boundary (used by the micro-batch stream's
    * frame-exact offsets). Offsets <= HeaderSize mean "from the header".
    */
  def openAtOffset(path: String, byteOffset: Long, verifyChecksum: Boolean = true,
      skim: Boolean = false): SsReader =
    openFrom(path, _ => math.max(byteOffset, HeaderSize.toLong),
      verifyChecksum, skim, surfaceInternal = false)

  /** Positioned read from the N-th beacon boundary (0 = right after header). */
  def openAt(path: String, nthBeacon: Long, verifyChecksum: Boolean = true,
      skim: Boolean = false, surfaceInternal: Boolean = false): SsReader =
    openFrom(path,
      h => if (nthBeacon <= 0) HeaderSize.toLong
      else nthBeacon * h.beaconInterval.toLong,
      verifyChecksum, skim, surfaceInternal)

  private def openFrom(path: String, start: SsHeader => Long,
      verifyChecksum: Boolean, skim: Boolean, surfaceInternal: Boolean): SsReader = {
    val (src, header) = withHeader(path, SsSource.BufferSize)
    try new SsReader(src.at(start(header), header.beaconInterval.toLong),
      header, verifyChecksum, skim, surfaceInternal)
    catch { case e: Throwable => src.close(); throw e }
  }
}
