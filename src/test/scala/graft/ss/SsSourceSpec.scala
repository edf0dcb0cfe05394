package graft.ss

import java.io.{EOFException, FileOutputStream}
import java.nio.file.Files

import graft.core.SeaMessage
import graft.ss.SsFormat._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The block decoder at buffer sizes far below a frame: every field and
  * every beacon lands across buffer edges, and a frame field split by a
  * beacon boundary is finished only after the beacon — whose own fields
  * may be split by a buffer edge — has been decoded.
  */
class SsSourceSpec extends AnyFunSuite {

  /** Short frames from a wide key pool at intervals of 600–2048 (beacons
    * carrying 1–3 markers), so frame headers straddle boundaries often.
    */
  private val fileGen: Gen[(List[SeaMessage], Int)] = for {
    interval <- Gen.chooseNum(600, 2048)
    pool <- Gen.listOfN(30, Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)))
    n <- Gen.chooseNum(200, 400)
    msgs <- Gen.listOfN(n, for {
      key <- Gen.oneOf(pool)
      shard <- Gen.chooseNum(0L, 8L)
      seq <- Arbitrary.arbitrary[Long]
      ts <- Gen.chooseNum(0L, 4000000000000L)
      payload <- Gen.chooseNum(0, 60).flatMap(k =>
        Gen.listOfN(k, Arbitrary.arbitrary[Byte]))
    } yield SeaMessage(key, shard, seq, new java.sql.Timestamp(ts), payload.toArray))
  } yield (msgs, interval)

  /** Every frame as (start, end, message, stored crc), and every beacon
    * crossed, decoded straight off an [[SsSource]] of `bufferSize` bytes.
    */
  private def decodeAll(path: String, bufferSize: Int, skim: Boolean)
      : (Vector[(Long, Long, SeaMessage, Int)], Vector[Beacon]) = {
    val src = SsSource.open(path, bufferSize)
    try {
      val header = decodeHeader(src.readFully(HeaderSize))
      src.at(HeaderSize.toLong, header.beaconInterval.toLong)
      val frames = Vector.newBuilder[(Long, Long, SeaMessage, Int)]
      val beacons = Vector.newBuilder[Beacon]
      var seen: Option[Beacon] = None
      var done = false
      while (!done) {
        val start = src.offset
        try {
          val (m, crc) = decodeMessage(src, skim)
          frames += ((start, src.offset, m, crc))
          // a frame is shorter than an interval: at most one beacon each
          if (!(src.lastBeacon eq seen)) { seen = src.lastBeacon; beacons ++= seen }
        } catch { case _: EOFException => done = true }
      }
      (frames.result(), beacons.result())
    } finally src.close()
  }

  private def same(a: SeaMessage, b: SeaMessage): Boolean =
    a.stream_key == b.stream_key && a.shard_id == b.shard_id &&
      a.sequence == b.sequence && a.timestamp.getTime == b.timestamp.getTime &&
      java.util.Arrays.equals(a.payload, b.payload)

  test("buffers of 7 to 64 bytes decode frames, extents and beacons as a full buffer does") {
    (1 to 8).flatMap(i => fileGen.apply(Gen.Parameters.default, Seed(i * 6151L)))
      .foreach { case (msgs, interval) =>
        val path = s"${Files.createTempDirectory("src").toFile}/s.ss"
        val w = new SsWriter(new FileOutputStream(path), "s.ss", interval, 0L)
        msgs.foreach(w.write)
        w.close()

        val (frames, beacons) = decodeAll(path, SsSource.BufferSize, skim = false)
        assert(frames.size == msgs.size)
        frames.zip(msgs).foreach { case ((_, _, got, crc), m) =>
          assert(same(got, m))
          assert(crc == Crc16Cdma2000(m.payload))
        }
        // the reader sees the same frames at the same extents (but for a
        // beacon right after the header, which opening the reader consumes)
        val r = SsReader.open(path)
        val recs = try r.iterator.toVector finally r.close()
        assert(recs.map(_.endOffset) == frames.map(_._2))
        assert(recs.drop(1).map(_.startOffset) == frames.drop(1).map(_._1))
        assert(beacons.nonEmpty && beacons.forall(_.items.nonEmpty))

        (7 to 64).foreach { size =>
          Seq(false, true).foreach { skim =>
            val (small, smallBeacons) = decodeAll(path, size, skim)
            val ctx = s"interval $interval, buffer $size, skim $skim"
            assert(small.map(f => (f._1, f._2, f._4)) == frames.map(f => (f._1, f._2, f._4)), ctx)
            small.zip(frames).foreach { case (a, b) =>
              assert(a._3.stream_key == b._3.stream_key && a._3.shard_id == b._3.shard_id &&
                a._3.sequence == b._3.sequence &&
                a._3.timestamp.getTime == b._3.timestamp.getTime, ctx)
              if (!skim) assert(java.util.Arrays.equals(a._3.payload, b._3.payload), ctx)
            }
            assert(smallBeacons == beacons, ctx)
          }
        }
      }
  }
}
