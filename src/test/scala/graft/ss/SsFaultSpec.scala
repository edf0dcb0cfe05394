package graft.ss

import java.io.FileOutputStream
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.TestSession
import graft.core.SeaMessage
import org.scalatest.funsuite.AnyFunSuite

/** Fault-path laws for the `.ss` file backend — the twin of
  * KafkaFaultSpec/RedisFaultSpec/IggyFaultSpec on the container-format side
  * (VERDICT r8 #5). Reference behaviors pinned:
  *
  *   - payload CRC verify on every frame
  *     (`sea-streamer-file/src/messages.rs:330-344`): corruption surfaces as
  *     a TYPED checksum error carrying received vs computed, it is not a
  *     silent wrong payload;
  *   - a torn (in-flight) final frame on a LIVE tail is invisible to the
  *     reader until the writer completes it — the next poll then delivers
  *     exactly the completed frame, no duplicates, no holes (the
  *     single-sequential-appender prefix invariant the micro-batch source's
  *     offset walk is built on; truncate-on-reopen is the append-mode twin,
  *     `messages.rs:420-515`, covered by SsAppendSpec).
  */
class SsFaultSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def ts(ms: Long) = new java.sql.Timestamp(ms)
  private def msg(i: Int) =
    SeaMessage("k", 0, i.toLong, ts(1000L + i), (f"m$i%03d-" + "x" * 28).getBytes)

  private def writeFile(path: String, n: Int, interval: Int = 1024): Unit = {
    val w = new SsWriter(new FileOutputStream(path), "f.ss", interval, 0L)
    (0 until n).foreach(i => w.write(msg(i)))
    w.close()
  }

  test("corrupt payload byte mid-stream surfaces a typed checksum error") {
    val dir = Files.createTempDirectory("ssfault1").toFile
    val path = s"$dir/a.ss"
    writeFile(path, 100)
    // flip one payload byte of message 50 ("m050-xxxx…" is unique in-file)
    val bytes = Files.readAllBytes(Paths.get(path))
    val pat = "m050-".getBytes
    val at = bytes.indexOfSlice(pat)
    assert(at > 0, "fixture payload not found")
    bytes(at + pat.length) = 'X'.toByte
    Files.write(Paths.get(path), bytes)

    val r = SsReader.open(path, verifyChecksum = true)
    try {
      // consume exactly the 50 clean frames (an iterator takeWhile would
      // pre-read — and throw on — the corrupt 51st during hasNext)
      val ok = (0 until 50).flatMap(_ => r.next())
      assert(ok.map(_.message.sequence) == (0L until 50L),
        "frames before the corruption must decode cleanly")
      val e = intercept[SsFormat.ChecksumException](r.next())
      assert(e.received != e.computed,
        "the typed error must carry the stored vs recomputed checksums")
    } finally r.close()

    // framing is length-based, CRC protects only the payload: with
    // verification off every frame still decodes and only message 50's
    // payload differs — corruption is DETECTED, not a framing loss
    val r2 = SsReader.open(path, verifyChecksum = false)
    try {
      val all = r2.iterator.toSeq
      assert(all.size == 100)
      assert(all.count(rec => new String(rec.message.payload) ==
        f"m${rec.message.sequence}%03d-" + "x" * 28) == 99,
        "exactly message 50's payload carries the flipped byte")
    } finally r2.close()

    // the Spark scan path propagates the same typed failure (not silence)
    val thrown = intercept[Throwable] {
      spark.read.format("ss").load(path).count()
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(thrown).exists(_.isInstanceOf[SsFormat.ChecksumException]),
      s"scan must surface ChecksumException, got: $thrown")
  }

  test("torn final frame on a live tail: invisible now, exactly-once after append") {
    val dir = Files.createTempDirectory("ssfault2").toFile
    val path = s"$dir/b.ss"
    val whole = s"$dir/whole.ss"
    writeFile(whole, 100)
    val full = Files.readAllBytes(Paths.get(whole))
    // live writer mid-append: all but the last 9 bytes of frame 99 are on
    // disk (the reference's tailing source waits for the rest of the frame)
    Files.write(Paths.get(path), full.dropRight(9))

    // poll 1: the offset walk stops at the last COMPLETE frame end
    val e1 = SsOffsetWalk.safeEnd(path, 0L)
    val batch0 = {
      val r0 = SsReader.open(path, verifyChecksum = true)
      try r0.iterator.takeWhile(_.endOffset <= e1.offset).map(_.message.sequence).toSeq
      finally r0.close()
    }
    assert(batch0 == (0L until 99L),
      "poll 1 must deliver exactly the 99 complete frames")
    assert(e1.offset < full.length,
      "the torn frame must sit above the safe end")

    // the writer completes the in-flight frame
    Files.write(Paths.get(path), full.takeRight(9), StandardOpenOption.APPEND)

    // poll 2: resume from the previous frame-exact offset — exactly the
    // completed frame arrives, nothing re-delivered
    val e2 = SsOffsetWalk.safeEnd(path, e1.offset)
    assert(e2.offset == full.length.toLong)
    val r2 = SsReader.openAtOffset(path, e1.offset, verifyChecksum = true)
    try {
      val tail = r2.iterator.takeWhile(_.endOffset <= e2.offset)
        .map(_.message.sequence).toSeq
      assert(tail == Seq(99L),
        "poll 2 must deliver the completed frame exactly once")
    } finally r2.close()
  }

  test("torn frame bridging a beacon boundary still converges the walk") {
    // the walk's probe law: when the EOF-straddling frame is spliced under
    // the highest beacon boundary, the entry probe fails truncated and the
    // walk steps down a boundary — the safe end must still be frame-exact
    val dir = Files.createTempDirectory("ssfault3").toFile
    val path = s"$dir/c.ss"
    val whole = s"$dir/whole.ss"
    // small interval so frames regularly splice across boundaries
    writeFile(whole, 200, interval = 256)
    val full = Files.readAllBytes(Paths.get(whole))
    // cut INSIDE the final interval so the straddling frame's splice (if
    // any) crosses EOF; walk must converge without exceptions
    Files.write(Paths.get(path), full.dropRight(5))
    val e = SsOffsetWalk.safeEnd(path, 0L)
    val r = SsReader.open(path, verifyChecksum = true)
    try {
      val seqs = r.iterator.takeWhile(_.endOffset <= e.offset)
        .map(_.message.sequence).toSeq
      assert(seqs == (0L until 199L),
        "safe end must cover exactly the complete frames")
    } finally r.close()
    // writer finishes: everything becomes visible
    Files.write(Paths.get(path), full.takeRight(5), StandardOpenOption.APPEND)
    val e2 = SsOffsetWalk.safeEnd(path, e.offset)
    assert(e2.offset == full.length.toLong)
  }

  test("a frame size field >= 2^31 is a typed format error, read or skimmed") {
    val dir = Files.createTempDirectory("ssfault4").toFile
    val path = s"$dir/d.ss"
    writeFile(path, 10)
    // first frame: u8 key length + key "k" + shard, seq, ts (3 × u64), then
    // the u32 size — set its top byte so the size reads as 2^31 + 36
    val bytes = Files.readAllBytes(Paths.get(path))
    val sizeAt = SsFormat.HeaderSize + 1 + 1 + 3 * 8
    assert(bytes(sizeAt) == 0, "fixture frame size must fit in three bytes")
    bytes(sizeAt) = 0x80.toByte
    Files.write(Paths.get(path), bytes)

    Seq(false, true).foreach { skim =>
      val r = SsReader.open(path, verifyChecksum = !skim, skim = skim)
      try intercept[SsFormat.FormatException](r.next())
      finally r.close()
    }
    // the offset walk skims the same frame: it must not plan a bogus extent
    intercept[SsFormat.FormatException](SsOffsetWalk.safeEnd(path, 0L))
  }

  test("a size field past the file end reads as a torn tail without " +
      "allocating the payload it claims") {
    val dir = Files.createTempDirectory("ssfault5").toFile
    val path = s"$dir/e.ss"
    writeFile(path, 3)
    val last = {
      val r = SsReader.open(path)
      try r.iterator.toVector.last.startOffset finally r.close()
    }
    // the last frame's u32 size (after u8 key length, key "k" and three
    // u64s) gains 2^28: it claims 256 MiB in a file of a few hundred bytes
    val bytes = Files.readAllBytes(Paths.get(path))
    val sizeAt = last.toInt + 1 + 1 + 3 * 8
    assert(bytes(sizeAt) == 0, "fixture frame size must fit in three bytes")
    bytes(sizeAt) = 0x10.toByte
    Files.write(Paths.get(path), bytes)

    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(self)
    val r = SsReader.open(path)
    val seqs = try {
      val s = r.iterator.map(_.message.sequence).toVector
      assert(r.isTruncated, "an overlong size field must read as truncated")
      s
    } finally r.close()
    val grown = mx.getThreadAllocatedBytes(self) - before
    assert(seqs == Vector(0L, 1L), "the frames before it must still read")
    assert(grown < (16L << 20),
      s"the read allocated $grown bytes for a frame the file cannot hold")
  }
}
