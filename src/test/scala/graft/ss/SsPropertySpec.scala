package graft.ss

import java.io.FileOutputStream
import java.nio.file.Files

import graft.core.SeaMessage
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: any message batch × any beacon interval roundtrips
  * byte-exactly, and beacon-split reads reconstruct the full scan.
  * (Plain ScalaCheck generators driven by fixed seeds — the scalatestplus
  * bridge isn't on the classpath.)
  */
class SsPropertySpec extends AnyFunSuite {

  private val keyGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 20)
    cs <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('.', '_', '-')))
  } yield cs.mkString

  private val msgGen: Gen[SeaMessage] = for {
    key <- keyGen
    shard <- Gen.chooseNum(0L, 8L)
    seq <- Gen.chooseNum(0L, 1000000L)
    ts <- Gen.chooseNum(0L, 4000000000000L)
    payload <- Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Arbitrary.arbitrary[Byte]))
  } yield SeaMessage(key, shard, seq, new java.sql.Timestamp(ts),
    payload.toArray)

  private val batchGen: Gen[(List[SeaMessage], Int)] = for {
    msgs <- Gen.nonEmptyListOf(msgGen)
    interval <- Gen.chooseNum(128, 4096)
  } yield (msgs, interval)

  private def cases(n: Int): Seq[(List[SeaMessage], Int)] =
    (1 to n).flatMap { i =>
      batchGen.apply(Gen.Parameters.default, Seed(i.toLong * 7919))
    }

  test("write/read roundtrip for arbitrary batches and intervals") {
    cases(25).foreach { case (msgs, interval) =>
      val dir = Files.createTempDirectory("prop").toFile
      val path = s"$dir/p.ss"
      val w = new SsWriter(new FileOutputStream(path), "p.ss", interval, 0L)
      msgs.foreach(w.write)
      w.close()

      val got = SsReader.open(path).iterator.toVector
      assert(got.size == msgs.size)
      got.zip(msgs).foreach { case (rec, m) =>
        assert(rec.message.stream_key == m.stream_key)
        assert(rec.message.shard_id == m.shard_id)
        assert(rec.message.sequence == m.sequence)
        assert(rec.message.timestamp.getTime == m.timestamp.getTime)
        assert(java.util.Arrays.equals(rec.message.payload, m.payload))
      }

      // beacon-split reads tile the file exactly: frames from consecutive
      // [a, b) beacon windows reproduce the full scan
      val size = new java.io.File(path).length()
      val nBeacons = (size - 1) / interval
      if (nBeacons >= 1) {
        val bounds = (0L to nBeacons) :+ (nBeacons + 1)
        val pieces = bounds.sliding(2).flatMap { case Seq(a, b) =>
          val r = if (a == 0) SsReader.open(path) else SsReader.openAt(path, a)
          val limit = if (b > nBeacons) Long.MaxValue else b * interval
          val out = r.iterator.takeWhile(_.startOffset < limit).toVector
          r.close()
          out
        }.toVector
        assert(pieces.map(_.message.sequence) == got.map(_.message.sequence))
      }
    }
  }

  // ---- reader laws: extents, skim, entry at frame starts, torn tails ----

  private def randomPayload(n: Int, seed: Long): Array[Byte] = {
    val a = new Array[Byte](n)
    new java.util.Random(seed).nextBytes(a)
    a
  }

  /** Keys of 0–255 UTF-8 bytes, mixing 1-, 2- and 3-byte characters. */
  private val wideKeyGen: Gen[String] = for {
    limit <- Gen.chooseNum(0, 255)
    cs <- Gen.listOfN(limit, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const('\u00e9'), 1 -> Gen.const('\u2192')))
  } yield {
    val b = new StringBuilder
    var bytes = 0
    cs.foreach { c =>
      val w = c.toString.getBytes("UTF-8").length
      if (bytes + w <= limit) { b += c; bytes += w }
    }
    b.result()
  }

  /** A batch at an interval of 128–4096 bytes with payloads up to three
    * intervals long, keys drawn from a small pool so they repeat.
    */
  private def lawGen(keys: Gen[String], maxMsgs: Int): Gen[(List[SeaMessage], Int)] =
    for {
      interval <- Gen.chooseNum(128, 4096)
      pool <- Gen.listOfN(3, keys)
      n <- Gen.chooseNum(1, maxMsgs)
      msgs <- Gen.listOfN(n, for {
        key <- Gen.oneOf(pool)
        shard <- Gen.chooseNum(0L, 8L)
        seq <- Gen.chooseNum(0L, 1000000L)
        ts <- Gen.chooseNum(0L, 4000000000000L)
        size <- Gen.chooseNum(0, 3 * interval)
        seed <- Arbitrary.arbitrary[Long]
      } yield SeaMessage(key, shard, seq, new java.sql.Timestamp(ts),
        randomPayload(size, seed)))
    } yield (msgs, interval)

  private def lawCases(n: Int, keys: Gen[String], maxMsgs: Int): Seq[(List[SeaMessage], Int)] =
    (1 to n).flatMap { i =>
      lawGen(keys, maxMsgs).apply(Gen.Parameters.default, Seed(i.toLong * 104729))
    }

  /** Writes the batch; returns the path and the writer's offset before and
    * after each write.
    */
  private def writeBatch(msgs: List[SeaMessage], interval: Int): (String, Vector[(Long, Long)]) = {
    val dir = Files.createTempDirectory("law").toFile
    val path = s"$dir/l.ss"
    val w = new SsWriter(new FileOutputStream(path), "l.ss", interval, 0L)
    val extents = msgs.map { m =>
      val before = w.offset
      w.write(m)
      (before, w.offset)
    }.toVector
    w.close()
    (path, extents)
  }

  private def readAll(path: String, skim: Boolean = false): Vector[SsRecord] = {
    val r = SsReader.open(path, verifyChecksum = !skim, skim = skim)
    try r.iterator.toVector finally r.close()
  }

  private def sameMessage(a: SeaMessage, b: SeaMessage): Boolean =
    a.stream_key == b.stream_key && a.shard_id == b.shard_id &&
      a.sequence == b.sequence && a.timestamp.getTime == b.timestamp.getTime &&
      java.util.Arrays.equals(a.payload, b.payload)

  test("law: record extents are the writer's offsets around each write") {
    lawCases(20, keyGen, 40).foreach { case (msgs, interval) =>
      val (path, extents) = writeBatch(msgs, interval)
      // a frame ending on a boundary is followed at once by that boundary's
      // beacon; the writer's offset is then past the beacon, while the
      // reader places the boundary between the frames (the beacon is read
      // with the next frame). A beacon right after the header is the
      // exception: opening the file consumes it.
      def asRead(offset: Long): Long = {
        val b = offset / interval * interval
        if (b > SsFormat.HeaderSize && SsReader.readBeaconAt(path, b).exists(b + _.size == offset)) b
        else offset
      }
      val got = readAll(path)
      assert(got.size == msgs.size)
      assert(got.map(r => (r.startOffset, r.endOffset)) ==
        extents.map { case (a, b) => (asRead(a), asRead(b)) })
      got.zip(msgs).foreach { case (r, m) => assert(sameMessage(r.message, m)) }
    }
  }

  test("law: a skim read yields the extents of a full read") {
    lawCases(20, keyGen, 40).foreach { case (msgs, interval) =>
      val (path, _) = writeBatch(msgs, interval)
      val full = readAll(path)
      val skim = readAll(path, skim = true)
      assert(skim.map(r => (r.startOffset, r.endOffset, r.checksum)) ==
        full.map(r => (r.startOffset, r.endOffset, r.checksum)))
      assert(skim.map(r => (r.message.stream_key, r.message.sequence)) ==
        full.map(r => (r.message.stream_key, r.message.sequence)))
      assert(skim.forall(_.message.payload == null))
    }
  }

  test("law: openAtOffset at every frame start yields exactly the tail") {
    lawCases(12, keyGen, 30).foreach { case (msgs, interval) =>
      val (path, _) = writeBatch(msgs, interval)
      val full = readAll(path)
      full.indices.foreach { i =>
        val r = SsReader.openAtOffset(path, full(i).startOffset)
        val tail = try r.iterator.toVector finally r.close()
        val want = full.drop(i)
        assert(tail.size == want.size)
        tail.zip(want).foreach { case (a, b) =>
          assert(sameMessage(a.message, b.message) && a.endOffset == b.endOffset)
        }
        // past the entry frame (whose start may sit after a boundary
        // beacon the entry consumed) every extent is the full read's
        assert(tail.drop(1).map(_.startOffset) == want.drop(1).map(_.startOffset))
      }
    }
  }

  test("law: a cut inside either of the last two frames reads as a complete prefix, truncated") {
    lawCases(5, keyGen, 4).foreach { case (msgs, interval) =>
      val (path, _) = writeBatch(msgs, interval)
      val full = readAll(path)
      val last = math.max(0, full.size - 2)
      // cut from the back, shrinking the same file one byte at a time
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(path), java.nio.file.StandardOpenOption.WRITE)
      try {
        (full.size - 1 to last by -1).foreach { i =>
          ((full(i).endOffset - 1) until full(i).startOffset by -1).foreach { cut =>
            ch.truncate(cut)
            Seq(false, true).foreach { skim =>
              val r = SsReader.open(path, verifyChecksum = !skim, skim = skim)
              try {
                val got = r.iterator.toVector
                assert(got.map(g => (g.startOffset, g.endOffset)) ==
                  full.take(i).map(g => (g.startOffset, g.endOffset)),
                  s"cut at $cut inside frame $i (skim=$skim)")
                assert(r.isTruncated, s"cut at $cut inside frame $i (skim=$skim)")
              } finally r.close()
            }
          }
        }
      } finally ch.close()
    }
  }

  test("law: keys of 0 to 255 bytes round-trip") {
    lawCases(20, wideKeyGen, 40).foreach { case (msgs, interval) =>
      assert(msgs.forall(_.stream_key.getBytes("UTF-8").length <= 255))
      val (path, _) = writeBatch(msgs, interval)
      val full = readAll(path)
      assert(full.size == msgs.size)
      full.zip(msgs).foreach { case (r, m) => assert(sameMessage(r.message, m)) }
      assert(readAll(path, skim = true).map(_.message.stream_key) ==
        msgs.map(_.stream_key))
    }
  }
}
