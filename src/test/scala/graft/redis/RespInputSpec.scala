package graft.redis

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** `Resp.Input` at its edges: lengths RESP2 does not allow fail typed,
  * pipelines parse the same at every buffer size, and a server that
  * flushes when its input is drained answers a pipeline that ends exactly
  * at a buffer boundary.
  */
class RespInputSpec extends AnyFunSuite {

  private def parse(s: String): Resp.Value =
    Resp.parse(new ByteArrayInputStream(s.getBytes(UTF_8)))

  private def allocatedBy(f: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(self)
    f
    mx.getThreadAllocatedBytes(self) - before
  }

  test("negative lengths other than -1 are protocol errors, not nulls") {
    assert(parse("$-1\r\n") == Resp.NullBulk)
    assert(parse("*-1\r\n") == Resp.NullArr)
    Seq("$-7\r\n", "*-3\r\n", "$-2\r\n", "*-9223372036854775808\r\n").foreach { s =>
      intercept[Resp.ProtocolException](parse(s))
    }
  }

  test("an integer that does not parse is a protocol error") {
    Seq("$3000000000\r\n", "*3000000000\r\n", ":9223372036854775808\r\n",
        ":-9223372036854775809\r\n", ":12a\r\n", ":\r\n", ":-\r\n", "$+5\r\n",
        ":1\rx").foreach { s =>
      val e = intercept[Resp.ProtocolException](parse(s))
      assert(!e.isInstanceOf[NumberFormatException], s)
    }
    assert(parse(":9223372036854775807\r\n") == Resp.Num(Long.MaxValue))
    assert(parse(":-9223372036854775808\r\n") == Resp.Num(Long.MinValue))
    assert(parse(":-0\r\n") == Resp.Num(0L))
    intercept[Resp.ProtocolException](parse("?x\r\n"))
    intercept[Resp.ProtocolException](parse("$2\r\nabXY"))
  }

  test("a bulk longer than proto-max-bulk-len is refused before allocating") {
    assert(Resp.MaxBulkLen == 512L * 1024 * 1024)
    val grown = allocatedBy {
      intercept[Resp.ProtocolException](parse(s"$$${Resp.MaxBulkLen + 1}\r\nxyz"))
    }
    assert(grown < (16L << 20), s"refusal allocated $grown bytes")
    // a claimed array count allocates as items arrive, not up front
    val arrGrown = allocatedBy {
      intercept[EOFException](parse("*2000000000\r\n:1\r\n"))
    }
    assert(arrGrown < (16L << 20), s"array claim allocated $arrGrown bytes")
    // at the limit the claim is legal: a truncated stream reads as EOF
    intercept[EOFException](Resp.parse(Resp.buffered(
      new ByteArrayInputStream(s"$$${1 << 20}\r\nab".getBytes(UTF_8)))))
  }

  // ---- buffer boundaries ----

  private val lineGen: Gen[String] = Gen.chooseNum(0, 90).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', ':', 'é'))))
    .map(_.mkString)
  private val bulkGen: Gen[Resp.Value] = Gen.frequency(
    4 -> Gen.chooseNum(0, 70), 1 -> Gen.chooseNum(60, 300))
    .flatMap(n => Gen.listOfN(n, Arbitrary.arbitrary[Byte]))
    .map(bs => Resp.Bulk(bs.toArray))
  private def valueGen(depth: Int): Gen[Resp.Value] =
    if (depth <= 0) Gen.oneOf(lineGen.map(Resp.Simple.apply),
      lineGen.map(s => Resp.Err(s"ERR $s")),
      Arbitrary.arbitrary[Long].map(Resp.Num.apply), bulkGen,
      Gen.const(Resp.NullBulk), Gen.const(Resp.NullArr))
    else Gen.frequency(3 -> valueGen(0), 2 -> Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, valueGen(depth - 1))).map(Resp.Arr(_)))

  /** A value tree's shape with bulks as byte lists, so `==` compares them. */
  private def plain(v: Resp.Value): Any = v match {
    case Resp.Bulk(b) => b.toList
    case Resp.Arr(xs) => xs.map(plain).toList
    case other => other
  }

  private def parseAll(wire: Array[Byte], n: Int, bufferSize: Int): List[Any] = {
    val in = new Resp.Input(new ByteArrayInputStream(wire), bufferSize)
    val out = List.fill(n)(plain(Resp.parse(in)))
    assert(in.read() == -1, s"bytes left after $n values at buffer $bufferSize")
    out
  }

  test("seeded pipelines parse the same at every buffer size 1..64 as at " +
      "64 KiB") {
    (1 to 40).foreach { i =>
      val values = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, valueGen(2)))
        .apply(Gen.Parameters.default, Seed(i.toLong * 15485863)).get
      val wire = values.map(Resp.encodeValue).reduce(_ ++ _)
      val reference = parseAll(wire, values.size, 1 << 16)
      assert(reference == values.map(plain), s"case $i")
      (1 to 64).foreach { size =>
        assert(parseAll(wire, values.size, size) == reference,
          s"case $i buffer $size")
      }
    }
  }

  test("available() counts bytes parsed into the buffer but not consumed") {
    val wire = Resp.encodeCommandS("PING") ++ Resp.encodeCommandS("ECHO", "hi")
    // a socket with nothing more in flight reports 0 itself
    val quiet = new InputStream {
      private val under = new ByteArrayInputStream(wire)
      override def read(): Int = under.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int = under.read(b, off, len)
      override def available(): Int = 0
    }
    val in = Resp.buffered(quiet)
    Resp.parse(in)
    assert(in.available() == Resp.encodeCommandS("ECHO", "hi").length)
    Resp.parse(in)
    assert(in.available() == 0)
  }

  test("a pipeline ending exactly at a 64 KiB buffer boundary gets every " +
      "reply") {
    def set(k: Int, keyLen: Int, valLen: Int): Seq[Array[Byte]] =
      Seq("SET".getBytes(UTF_8), ("k" + s"%0${keyLen}d".format(k)).getBytes(UTF_8),
        Array.fill(valLen)('v'.toByte))
    def size(cmd: Seq[Array[Byte]]) = Resp.encodeCommand(cmd).length.toLong
    val srv = new EmbeddedRedis
    val c = new RedisClient(srv.host, srv.port, soTimeoutMs = 10000)
    try {
      Seq(65535L, 65536L, 65537L, 131072L, 196608L).foreach { total =>
        val body = Iterator.from(0).map(k => set(k, 6, 200))
        var cmds = Vector.empty[Seq[Array[Byte]]]
        var used = 0L
        while (total - used > 400) { val c0 = body.next(); cmds :+= c0; used += size(c0) }
        val last = (for (kl <- 6 to 9; vl <- 0 to 400) yield set(cmds.size, kl, vl))
          .find(c0 => size(c0) == total - used)
          .getOrElse(fail(s"no padding reaches $total"))
        cmds :+= last
        assert(cmds.map(size).sum == total)
        val replies = c.pipeline(cmds)
        assert(replies.size == cmds.size && replies.forall(_ == Resp.Simple("OK")),
          s"pipeline of $total bytes")
      }
      assert(c.commandS("PING") == Resp.Simple("PONG"))
    } finally { c.close(); srv.close() }
  }
}
