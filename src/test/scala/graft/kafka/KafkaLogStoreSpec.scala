package graft.kafka

import org.scalatest.funsuite.AnyFunSuite

import KafkaWire.{Api, Codec, Err, KRecord}

/** The embedded broker stores each produced batch as the producer's own
  * bytes with the assigned base offset patched in: on the plain path, the
  * transactional path and under every codec the log holds exactly what
  * `encodeBatch` writes at that base offset, record headers ride along,
  * and a batch whose offset deltas are not 0..count-1 is refused.
  */
class KafkaLogStoreSpec extends AnyFunSuite {

  /** Raw Produce v3 / Fetch v4 over one socket — the stored bytes as
    * the broker serves them, with no client-side decoding in between. */
  private final class Raw(srv: EmbeddedKafka) extends AutoCloseable {
    private val sock = new java.net.Socket(srv.host, srv.port)
    private val in = KafkaWire.buffered(sock.getInputStream)
    private val out = KafkaWire.buffered(sock.getOutputStream)
    private var corr = 0
    private def call(api: Int)(body: KafkaWire.Writer => Unit): KafkaWire.Reader = {
      corr += 1
      val w = new KafkaWire.Writer; body(w)
      KafkaWire.writeRequest(out, api, KafkaWire.Versions(api).toInt, corr,
        "spec", w.result())
      out.flush()
      val (id, rep) = KafkaWire.readResponse(in)
      assert(id == corr)
      new KafkaWire.Reader(rep)
    }
    /** (error code, base offset) of producing `recordSet`. */
    def produce(topic: String, p: Int, recordSet: Array[Byte]): (Int, Long) = {
      val r = call(Api.Produce) { w =>
        w.nullableStr(null).i16(-1).i32(30000)
        w.array(Seq(topic)) { (ww, t) =>
          ww.str(t).array(Seq(p))((www, q) => www.i32(q).nullableBytes(recordSet))
        }
      }
      r.arrayCount(); r.str(); r.arrayCount(); r.i32()
      (r.i16v(), r.i64())
    }
    /** The record-set bytes a read_uncommitted fetch from `offset` serves. */
    def fetch(topic: String, p: Int, offset: Long): Array[Byte] = {
      val r = call(Api.Fetch) { w =>
        w.i32(-1).i32(0).i32(1).i32(1 << 24).i8(0)
        w.array(Seq(topic)) { (ww, t) =>
          ww.str(t).array(Seq(p))((www, q) => www.i32(q).i64(offset).i32(1 << 24))
        }
      }
      r.i32(); r.arrayCount(); r.str(); r.arrayCount(); r.i32()
      assert(r.i16v() == Err.None)
      r.i64(); r.i64()
      Seq.fill(r.arrayCount())((r.i64(), r.i64()))
      r.nullableBytes()
    }
    override def close(): Unit = sock.close()
  }

  private def records(n: Int, salt: Int): Seq[(Long, Array[Byte], Array[Byte])] =
    (0 until n).map(i => (1700000000000L + (i * 37 % 11) - 5,
      if (i % 3 == 0) null else s"k$salt-$i".getBytes,
      if (i % 5 == 4) null else Array.fill(20 + i)((salt + i).toByte)))

  private def at(base: Long, recs: Seq[(Long, Array[Byte], Array[Byte])]) =
    recs.zipWithIndex.map { case ((ts, k, v), i) => KRecord(base + i, ts, k, v) }

  test("plain produce under every codec stores encodeBatch at the " +
      "assigned base offset") {
    val srv = new EmbeddedKafka(autoCreatePartitions = 1)
    val c = new KafkaClient(srv.host, srv.port)
    val raw = new Raw(srv)
    try {
      c.metadata(Seq("t"))
      var base = 0L
      var expected = Array.emptyByteArray
      Seq(Codec.None, Codec.Gzip, Codec.Snappy, Codec.Lz4, Codec.Zstd,
          Codec.None).zipWithIndex.foreach { case (codec, i) =>
        val recs = records(7 + i, i)
        assert(c.produce("t", 0, recs, codec) == base)
        expected ++= KafkaWire.encodeBatch(at(base, recs), codec)
        base += recs.size
      }
      assert(java.util.Arrays.equals(raw.fetch("t", 0, 0L), expected))
    } finally { raw.close(); c.close(); srv.close() }
  }

  test("transactional produce stores encodeBatch with the producer's " +
      "fields, and the marker after it") {
    val srv = new EmbeddedKafka(autoCreatePartitions = 1)
    val c = new KafkaClient(srv.host, srv.port)
    val raw = new Raw(srv)
    try {
      c.metadata(Seq("t"))
      assert(c.produce("t", 0, records(3, 9)) == 0L)
      val (pid, epoch) = c.initProducerId("tx")
      c.addPartitionsToTxn("tx", pid, epoch, Seq(("t", 0)))
      val a = records(4, 1)
      val b = records(5, 2)
      assert(c.produceTxn("t", 0, a, "tx", pid, epoch, 0, Codec.Gzip) == 3L)
      assert(c.produceTxn("t", 0, b, "tx", pid, epoch, 4) == 7L)
      c.endTxn("tx", pid, epoch, commit = true)
      val set = raw.fetch("t", 0, 3L)
      val data = KafkaWire.encodeBatch(at(3L, a), Codec.Gzip, pid, epoch, 0,
        transactional = true) ++
        KafkaWire.encodeBatch(at(7L, b), Codec.None, pid, epoch, 4,
          transactional = true)
      assert(java.util.Arrays.equals(set.take(data.length), data))
      val Seq(marker) = KafkaWire.decodeBatchesInfo(set.drop(data.length))
      assert(marker.control && marker.baseOffset == 12L &&
        marker.controlType == KafkaWire.Control.Commit)
      assert(srv.logSize("t", 0) == 13L)
    } finally { raw.close(); c.close(); srv.close() }
  }

  test("a batch with record headers is stored as sent, rebased") {
    val srv = new EmbeddedKafka(autoCreatePartitions = 1)
    val c = new KafkaClient(srv.host, srv.port)
    val raw = new Raw(srv)
    try {
      c.metadata(Seq("t"))
      assert(c.produce("t", 0, records(2, 0)) == 0L)
      val recs = (0 until 3).map(i => BatchLayout.Rec(i, i * 10L,
        s"k$i".getBytes, s"v$i".getBytes, Seq(("h", Array[Byte](i.toByte)))))
      val sent = BatchLayout.encode(0L, 1000L, recs, Codec.Snappy)
      assert(raw.produce("t", 0, sent) == ((Err.None, 2L)))
      val stored = raw.fetch("t", 0, 2L)
      assert(java.util.Arrays.equals(stored,
        BatchLayout.encode(2L, 1000L, recs, Codec.Snappy)))
      val (_, got) = c.fetch("t", 0, 2L)
      assert(got.map(r => (r.offset, r.tsMs, new String(r.value))) ==
        Seq((2L, 1000L, "v0"), (3L, 1010L, "v1"), (4L, 1020L, "v2")))
    } finally { raw.close(); c.close(); srv.close() }
  }

  test("offset deltas other than 0..count-1 are refused as " +
      "CORRUPT_MESSAGE and append nothing") {
    val srv = new EmbeddedKafka(autoCreatePartitions = 1)
    val raw = new Raw(srv)
    try {
      def rec(delta: Int) = BatchLayout.Rec(delta, 0L, null, Array[Byte](1))
      val gap = KafkaWire.encodeBatch(Seq(KRecord(0L, 1L, null, Array[Byte](1)),
        KRecord(2L, 1L, null, Array[Byte](2))))
      val offByOne = BatchLayout.encode(0L, 1L, Seq(rec(1), rec(2)))
      val badLast = BatchLayout.encode(0L, 1L, Seq(rec(0), rec(1)),
        lastOffsetDelta = Some(5))
      val good = KafkaWire.encodeBatch(Seq(KRecord(0L, 1L, null, Array[Byte](3))))
      Seq(gap, offByOne, badLast, good ++ gap).foreach { set =>
        assert(raw.produce("t", 0, set) == ((Err.CorruptMessage, -1L)))
      }
      assert(srv.logSize("t", 0) == 0L)
      assert(raw.produce("t", 0, good) == ((Err.None, 0L)))
      assert(srv.logSize("t", 0) == 1L)
    } finally { raw.close(); srv.close() }
  }
}
