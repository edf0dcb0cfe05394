package graft.ss

import java.io.EOFException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Paths, StandardOpenOption}

import graft.ss.SsFormat._

/** Block decoder over a `.ss` file: one `byte[]` filled straight from the
  * channel, fields decoded in place, payloads moved by `System.arraycopy`.
  *
  * With a beacon interval set ([[at]]), the source demuxes: the next beacon
  * boundary is kept as a buffer index (`stop`), every in-place read and
  * every copy run ends there, and the beacon standing at the boundary is
  * decoded ([[crossBoundary]]) before the next data byte — which is how a
  * frame spliced across beacons comes back together. Without an interval
  * it reads raw bytes (headers, single beacons). A field split by the
  * buffer end or a boundary is decoded a byte at a time.
  *
  * On end of file every buffered byte counts as consumed, so `offset` is
  * the file end when `EOFException` surfaces — a torn tail reads as
  * `offset != frame start`.
  */
private[ss] final class SsSource private (ch: FileChannel, buf: Array[Byte])
    extends ByteReader {

  private val view = ByteBuffer.wrap(buf)
  private var base = 0L // file offset of buf(0)
  private var pos = 0 // next unread index
  private var lim = 0 // end of the bytes read
  private var stop = 0 // min(lim, boundary index): in-place reads end here
  private var interval = 0L
  private var boundary = Long.MaxValue // next beacon boundary; MaxValue when raw

  // the last short string, reused while the same bytes repeat (stream keys)
  private val lastBytes = new Array[Byte](255)
  private var lastLen = -1
  private var last: String = _

  private var beacon: Option[Beacon] = None

  def offset: Long = base + pos

  /** The beacon decoded at the last boundary crossed; a new object each. */
  def lastBeacon: Option[Beacon] = beacon

  def atBoundary: Boolean = offset == boundary

  def size: Long = ch.size()

  /** Moves to `at`, reusing the buffered bytes when they cover it; with
    * `beaconInterval > 0` a beacon is demuxed at every multiple of it from
    * `at` on (at `at` itself when it is one).
    */
  def at(to: Long, beaconInterval: Long = 0L): SsSource = {
    if (to >= base && to <= base + lim) pos = (to - base).toInt
    else { base = to; pos = 0; lim = 0; ch.position(to) }
    interval = beaconInterval
    boundary =
      if (interval <= 0) Long.MaxValue
      else (to + interval - 1) / interval * interval
    setStop()
    this
  }

  /** Decodes the beacon standing at the current boundary and arms the next
    * boundary — the first multiple of the interval past the beacon.
    */
  def crossBoundary(): Beacon = {
    boundary = Long.MaxValue // the beacon's own bytes are never demuxed
    setStop()
    val b = decodeBeacon(this)
    beacon = Some(b)
    boundary = (offset / interval + 1) * interval
    setStop()
    b
  }

  private def setStop(): Unit =
    stop = if (boundary - base < lim) (boundary - base).toInt else lim

  /** Makes at least one byte readable in place, or throws EOFException. */
  private def more(): Unit =
    while (pos == stop) if (atBoundary) crossBoundary() else fill()

  private def fill(): Unit = {
    base += lim; pos = 0; lim = 0; stop = 0
    view.clear()
    val n = ch.read(view)
    if (n < 0) throw new EOFException
    lim = n
    setStop()
  }

  /** Copies `n` bytes into `dst`, one contiguous run per buffer/boundary. */
  private def copy(dst: Array[Byte], at: Int, n: Int): Unit = {
    var i = at
    val end = at + n
    while (i < end) {
      more()
      val k = math.min(end - i, stop - pos)
      System.arraycopy(buf, pos, dst, i, k)
      pos += k; i += k
    }
  }

  /** The next `n` (≤ 8) bytes as a big-endian number, a byte at a time —
    * for a field split by the buffer end or a beacon boundary. Nothing is
    * kept outside this call: crossing a boundary decodes a beacon, which
    * can land here again.
    */
  private def slow(n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | readByte(); i += 1 }
    v
  }

  def close(): Unit = ch.close()

  override def readByte(): Int = {
    more()
    val b = buf(pos) & 0xFF
    pos += 1
    b
  }

  override def readU16(): Int =
    if (stop - pos >= 2) { val v = view.getShort(pos); pos += 2; v & 0xFFFF }
    else slow(2).toInt

  override def readU32(): Int =
    if (stop - pos >= 4) { val v = view.getInt(pos); pos += 4; v }
    else slow(4).toInt

  override def readU64(): Long =
    if (stop - pos >= 8) { val v = view.getLong(pos); pos += 8; v }
    else slow(8)

  /** A size field past the file end (torn or corrupt) fails before the
    * allocation: the file must hold at least the `n` bytes it frames. */
  override def readFully(n: Int): Array[Byte] = {
    if (n > lim - pos && n > ch.size() - offset) {
      base = ch.size(); pos = 0; lim = 0; stop = 0
      ch.position(base)
      throw new EOFException
    }
    val a = new Array[Byte](n)
    copy(a, 0, n)
    a
  }

  /** Skips `n` bytes, still demuxing beacons; spans past the buffer move
    * the channel position instead of being read (clamped at the file end,
    * so a skip past it ends in EOFException like a read).
    */
  override def skipFully(n: Int): Unit = {
    var left = n.toLong
    while (left > 0) {
      if (pos < stop) {
        val k = math.min(left, (stop - pos).toLong).toInt
        pos += k; left -= k
      } else if (atBoundary) crossBoundary()
      else {
        val here = offset
        val jump = math.min(left, math.min(boundary, ch.size()) - here)
        if (jump <= 0) fill()
        else {
          base = here + jump; pos = 0; lim = 0; stop = 0
          ch.position(base)
          left -= jump
        }
      }
    }
  }

  override def readShortString(): String = {
    val len = readByte()
    if (stop - pos >= len) {
      val s = remember(buf, pos, len)
      pos += len
      s
    } else remember(readFully(len), 0, len)
  }

  private def remember(src: Array[Byte], from: Int, len: Int): String = {
    if (len != lastLen ||
      !java.util.Arrays.equals(src, from, from + len, lastBytes, 0, len)) {
      System.arraycopy(src, from, lastBytes, 0, len)
      lastLen = len
      last = new String(src, from, len, UTF_8)
    }
    last
  }
}

private[ss] object SsSource {

  /** Reader buffer: one read syscall per 64 KiB of file. */
  final val BufferSize: Int = 1 << 16

  def open(path: String, bufferSize: Int = BufferSize): SsSource =
    new SsSource(FileChannel.open(Paths.get(path), StandardOpenOption.READ),
      new Array[Byte](bufferSize))
}
