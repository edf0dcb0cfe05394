package graft.kafka

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import KafkaWire.{Codec, KRecord}

/** The v2 record-batch layout written field by field with JDK streams —
  * the published format spelled out, record headers included — for the
  * specs to hold the one-buffer encoder and the broker's store against.
  */
object BatchLayout {
  /** A record plus its headers (`(key, value)`, value may be null). */
  final case class Rec(offsetDelta: Int, tsDelta: Long, key: Array[Byte],
      value: Array[Byte], headers: Seq[(String, Array[Byte])] = Nil)

  private def uvarlong(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.writeByte(v.toInt)
  }
  private def varint(out: DataOutputStream, v: Int): Unit =
    uvarlong(out, ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL)
  private def varlong(out: DataOutputStream, v: Long): Unit =
    uvarlong(out, (v << 1) ^ (v >> 63))
  private def field(out: DataOutputStream, b: Array[Byte]): Unit =
    if (b == null) varint(out, -1) else { varint(out, b.length); out.write(b) }

  def encode(baseOffset: Long, baseTs: Long, recs: Seq[Rec], codec: Int = 0,
      producerId: Long = -1L, producerEpoch: Int = -1, baseSequence: Int = -1,
      transactional: Boolean = false, control: Boolean = false,
      lastOffsetDelta: Option[Int] = None): Array[Byte] = {
    val records = new ByteArrayOutputStream
    recs.foreach { r =>
      val one = new ByteArrayOutputStream
      val o = new DataOutputStream(one)
      o.writeByte(0)
      varlong(o, r.tsDelta)
      varint(o, r.offsetDelta)
      field(o, r.key)
      field(o, r.value)
      varint(o, r.headers.length)
      r.headers.foreach { case (k, v) => field(o, k.getBytes("UTF-8")); field(o, v) }
      o.flush()
      val ro = new DataOutputStream(records)
      varint(ro, one.size)
      ro.flush()
      one.writeTo(records)
    }
    val recordBytes =
      if (codec == Codec.None) records.toByteArray
      else {
        val bos = new ByteArrayOutputStream
        val cs = Codec.wrap(codec, bos)
        cs.write(records.toByteArray); cs.close()
        bos.toByteArray
      }
    val body = new ByteArrayOutputStream
    val b = new DataOutputStream(body)
    b.writeShort(codec | (if (transactional) 0x10 else 0) | (if (control) 0x20 else 0))
    b.writeInt(lastOffsetDelta.getOrElse(recs.map(_.offsetDelta).max))
    b.writeLong(baseTs)
    b.writeLong(baseTs + recs.map(_.tsDelta).max)
    b.writeLong(producerId)
    b.writeShort(producerEpoch)
    b.writeInt(baseSequence)
    b.writeInt(recs.length)
    b.write(recordBytes)
    b.flush()
    val crc = new java.util.zip.CRC32C
    crc.update(body.toByteArray)
    val all = new ByteArrayOutputStream
    val a = new DataOutputStream(all)
    a.writeLong(baseOffset)
    a.writeInt(body.size + 9)
    a.writeInt(-1)
    a.writeByte(2)
    a.writeInt(crc.getValue.toInt)
    a.write(body.toByteArray)
    a.flush()
    all.toByteArray
  }

  /** The layout of `KafkaWire.encodeBatch(records, ...)`. */
  def of(records: Seq[KRecord], codec: Int = 0, producerId: Long = -1L,
      producerEpoch: Int = -1, baseSequence: Int = -1,
      transactional: Boolean = false, control: Boolean = false): Array[Byte] = {
    val base = records.head
    encode(base.offset, base.tsMs, records.map(r =>
      Rec((r.offset - base.offset).toInt, r.tsMs - base.tsMs, r.key, r.value)),
      codec, producerId, producerEpoch, baseSequence, transactional, control)
  }

  def sameRecords(a: Seq[KRecord], b: Seq[KRecord]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.offset == y.offset && x.tsMs == y.tsMs &&
        java.util.Arrays.equals(x.key, y.key) &&
        java.util.Arrays.equals(x.value, y.value)
    }
}

/** Property laws: any batch encodes and decodes back to itself under all
  * five codecs — null keys and values, timestamps running backwards, the
  * transactional and control bits, record headers — and the one-buffer
  * encoder lays down exactly the published layout. (The twin of
  * RespPropertySpec: plain ScalaCheck generators driven by fixed seeds.)
  */
class KafkaWirePropertySpec extends AnyFunSuite {
  import BatchLayout.sameRecords

  private val Codecs = Seq(Codec.None, Codec.Gzip, Codec.Snappy, Codec.Lz4, Codec.Zstd)

  private val bytesGen: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null),
    5 -> Gen.chooseNum(0, 300)
      .flatMap(n => Gen.listOfN(n, Arbitrary.arbitrary[Byte])).map(_.toArray))

  /** Dense offsets from a random base; timestamps scatter both ways
    * around the first record's, so deltas go negative. */
  private val batchGen: Gen[Seq[KRecord]] = for {
    n <- Gen.chooseNum(1, 40)
    base <- Gen.chooseNum(0L, 1L << 40)
    ts0 <- Gen.chooseNum(-1L, 1800000000000L)
    deltas <- Gen.listOfN(n, Gen.oneOf(Gen.chooseNum(-100000L, 100000L),
      Gen.chooseNum(-(1L << 40), 1L << 40)))
    keys <- Gen.listOfN(n, bytesGen)
    values <- Gen.listOfN(n, bytesGen)
  } yield (0 until n).map(i => KRecord(base + i, ts0 + deltas(i), keys(i), values(i)))

  private def sample[T](g: Gen[T], i: Int): T =
    g.apply(Gen.Parameters.default, Seed(i.toLong * 7727)).get

  test("batches roundtrip encode/decode under every codec, byte for byte " +
      "the published layout") {
    (1 to 60).foreach { i =>
      val recs = sample(batchGen, i)
      Codecs.foreach { codec =>
        val bytes = KafkaWire.encodeBatch(recs, codec)
        assert(java.util.Arrays.equals(bytes, BatchLayout.of(recs, codec)),
          s"case $i codec $codec: encoder left the published layout")
        val Seq(info) = KafkaWire.decodeBatchesInfo(bytes)
        assert(sameRecords(info.records, recs), s"case $i codec $codec")
        assert(info.codec == codec && KafkaWire.batchCodec(bytes) == codec)
        assert(info.baseOffset == recs.head.offset &&
          info.lastOffset == recs.last.offset)
        assert(info.wireAt == 0 && info.wireLength == bytes.length)
        assert(sameRecords(KafkaWire.decodeBatches(bytes), recs))
      }
    }
  }

  test("null keys and values and negative timestamp deltas survive") {
    val recs = Seq(KRecord(0L, 1000L, null, null),
      KRecord(1L, 10L, Array[Byte](), null),
      KRecord(2L, -5L, null, Array[Byte]()),
      KRecord(3L, Long.MinValue / 4, Array[Byte](1), Array[Byte](2)))
    Codecs.foreach { codec =>
      assert(sameRecords(KafkaWire.decodeBatches(
        KafkaWire.encodeBatch(recs, codec)), recs), s"codec $codec")
    }
  }

  test("transactional and control bits, producer fields and the control " +
      "type decode as encoded") {
    val fields = for {
      pid <- Gen.chooseNum(-1L, Long.MaxValue)
      epoch <- Gen.chooseNum(-1, Short.MaxValue.toInt)
      seq <- Gen.chooseNum(-1, Int.MaxValue)
      txn <- Arbitrary.arbitrary[Boolean]
      ctl <- Arbitrary.arbitrary[Boolean]
    } yield (pid, epoch, seq, txn, ctl)
    (1 to 40).foreach { i =>
      val recs = sample(batchGen, i)
      val (pid, epoch, seq, txn, ctl) = sample(fields, i)
      val codec = Codecs(i % Codecs.size)
      val bytes = KafkaWire.encodeBatch(recs, codec, pid, epoch, seq, txn, ctl)
      assert(java.util.Arrays.equals(bytes,
        BatchLayout.of(recs, codec, pid, epoch, seq, txn, ctl)), s"case $i")
      val Seq(info) = KafkaWire.decodeBatchesInfo(bytes)
      assert((info.producerId, info.producerEpoch, info.baseSequence,
        info.transactional, info.control) == ((pid, epoch, seq, txn, ctl)), s"case $i")
      assert(sameRecords(info.records, recs))
      // the plain data view drops control batches
      assert(KafkaWire.decodeBatches(bytes).isEmpty == ctl)
    }
    Seq(true, false).foreach { commit =>
      val marker = KafkaWire.encodeControlBatch(9L, 5L, 77L, 3, commit)
      val Seq(m) = KafkaWire.decodeBatchesInfo(marker)
      assert(m.control && m.transactional && m.producerId == 77L &&
        m.controlType == (if (commit) KafkaWire.Control.Commit else KafkaWire.Control.Abort))
    }
  }

  test("record headers are skipped: the records decode, and concatenated " +
      "batches locate their own bytes") {
    val hdrGen = Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.alphaStr.map(_.take(12))
      v <- bytesGen
    } yield (k, v)))
    (1 to 30).foreach { i =>
      val recs = sample(batchGen, i)
      val hdrs = sample(Gen.listOfN(recs.size, hdrGen), i)
      val codec = Codecs(i % Codecs.size)
      val base = recs.head
      val withHeaders = BatchLayout.encode(base.offset, base.tsMs,
        recs.zip(hdrs).map { case (r, h) =>
          BatchLayout.Rec((r.offset - base.offset).toInt, r.tsMs - base.tsMs,
            r.key, r.value, h)
        }, codec)
      val plain = KafkaWire.encodeBatch(recs, codec)
      val set = withHeaders ++ plain
      val infos = KafkaWire.decodeBatchesInfo(set)
      assert(infos.size == 2)
      infos.foreach(b => assert(sameRecords(b.records, recs), s"case $i"))
      assert(infos.map(b => (b.wireAt, b.wireLength)) ==
        Seq((0, withHeaders.length), (withHeaders.length, plain.length)))
      assert(java.util.Arrays.equals(set.slice(infos(1).wireAt,
        infos(1).wireAt + infos(1).wireLength), plain))
    }
  }

  test("rebase moves the base offset and keeps the batch valid") {
    val recs = sample(batchGen, 5)
    val bytes = KafkaWire.encodeBatch(recs, Codec.Lz4)
    val moved = KafkaWire.rebase(bytes.clone(), 123456789L)
    assert(java.util.Arrays.equals(moved, KafkaWire.encodeBatch(
      recs.zipWithIndex.map { case (r, i) => r.copy(offset = 123456789L + i) },
      Codec.Lz4)))
  }
}
