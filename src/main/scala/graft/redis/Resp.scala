package graft.redis

import java.io.{BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** RESP2 wire codec (the Redis serialization protocol), dependency-free —
  * the zero-egress build has no redis client library, and the protocol is
  * small enough that hand-rolling it is simpler than vendoring one
  * (command framing: redis.io/docs/reference/protocol-spec; the reference
  * drives the same wire through the `redis` crate,
  * sea-streamer-redis/src/connection.rs).
  */
object Resp {

  sealed trait Value
  final case class Simple(s: String) extends Value
  final case class Err(msg: String) extends Value
  final case class Num(n: Long) extends Value
  final case class Bulk(bytes: Array[Byte]) extends Value {
    def utf8: String = new String(bytes, UTF_8)
  }
  case object NullBulk extends Value
  final case class Arr(items: Seq[Value]) extends Value
  case object NullArr extends Value

  /** A malformed RESP frame: a bad type byte or terminator, an integer
    * that does not parse, or a length RESP2 does not allow (a negative one
    * other than the `-1` null, a bulk past [[MaxBulkLen]]). The stream is
    * out of step once it is thrown; the connection is not reusable.
    */
  final class ProtocolException(msg: String) extends IllegalArgumentException(msg)

  /** redis's default `proto-max-bulk-len`: the longest bulk string a peer
    * may claim. A longer claim is refused before anything is allocated. */
  val MaxBulkLen: Long = 512L << 20

  /** Encode a command as a RESP array of bulk strings. */
  def encodeCommand(args: Seq[Array[Byte]]): Array[Byte] = {
    var size = 3L + decimalLen(args.length)
    args.foreach(a => size += 5L + decimalLen(a.length) + a.length)
    require(size < Int.MaxValue - 8, s"RESP command of $size bytes")
    val out = new Out(size.toInt)
    out.header('*', args.length)
    args.foreach(out.bulk)
    out.result()
  }

  def encodeCommandS(args: String*): Array[Byte] =
    encodeCommand(args.map(_.getBytes(UTF_8)))

  /** Encode a reply (used by the in-process test server). */
  def encodeValue(v: Value): Array[Byte] = {
    val out = new Out(256)
    def go(v: Value): Unit = v match {
      case Simple(s) => out.byte('+'); out.bytes(s.getBytes(UTF_8)); out.crlf()
      case Err(m) => out.byte('-'); out.bytes(m.getBytes(UTF_8)); out.crlf()
      case Num(n) => out.header(':', n)
      case Bulk(b) => out.bulk(b)
      case NullBulk => out.header('$', -1)
      case Arr(items) =>
        out.header('*', items.length)
        items.foreach(go)
      case NullArr => out.header('*', -1)
    }
    go(v)
    out.result()
  }

  /** ASCII decimal length of `n`, sign included. */
  private def decimalLen(n: Long): Int = {
    var x = if (n < 0) n else -n // negative, so Long.MinValue fits
    var len = if (n < 0) 2 else 1
    while (x <= -10) { x /= 10; len += 1 }
    len
  }

  /** A growable, unsynchronized output buffer: headers are written as
    * ASCII digits in place, bulks in one `arraycopy`. */
  private final class Out(capacity: Int) {
    private var buf = new Array[Byte](math.max(capacity, 16))
    private var pos = 0
    private def room(n: Int): Unit = if (n > buf.length - pos) {
      val need = pos.toLong + n
      require(need < Int.MaxValue - 8, s"RESP frame of $need bytes")
      buf = java.util.Arrays.copyOf(buf,
        math.max(need, math.min(buf.length * 2L, Int.MaxValue - 8L)).toInt)
    }
    def byte(b: Int): Unit = { room(1); buf(pos) = b.toByte; pos += 1 }
    def bytes(b: Array[Byte]): Unit = {
      room(b.length); System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
    }
    def crlf(): Unit = { room(2); buf(pos) = '\r'; buf(pos + 1) = '\n'; pos += 2 }
    /** `<type><n>\r\n`. */
    def header(t: Char, n: Long): Unit = {
      val len = decimalLen(n)
      room(len + 3)
      buf(pos) = t.toByte
      var x = if (n < 0) n else -n
      var i = pos + len
      do { buf(i) = ('0' - x % 10).toByte; x /= 10; i -= 1 } while (x != 0)
      if (n < 0) buf(pos + 1) = '-'
      pos += len + 1
      crlf()
    }
    def bulk(b: Array[Byte]): Unit = { header('$', b.length); bytes(b); crlf() }
    def result(): Array[Byte] =
      if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
  }

  /** A buffered RESP input stream (unsynchronized: one reader per
    * connection). [[parse]] reads type bytes, lines and lengths in place
    * from its buffer and copies each bulk out with `arraycopy`; a bulk
    * longer than the buffer is read straight from the stream.
    * `available()` counts the buffered bytes, so a server can tell a
    * drained pipeline from one it holds but has not parsed yet.
    */
  final class Input(in: InputStream, bufferSize: Int = 1 << 16) extends InputStream {
    require(bufferSize > 0, s"RESP buffer of $bufferSize bytes")
    private val buf = new Array[Byte](bufferSize)
    private var pos = 0
    private var lim = 0

    /** Refill the drained buffer; false at end of stream. */
    private def fill(): Boolean = {
      val n = in.read(buf, 0, buf.length)
      if (n <= 0) false else { pos = 0; lim = n; true }
    }
    private def copyOut(b: Array[Byte], off: Int, len: Int): Int = {
      val n = math.min(len, lim - pos)
      System.arraycopy(buf, pos, b, off, n)
      pos += n
      n
    }

    override def read(): Int =
      if (pos == lim && !fill()) -1 else { val b = buf(pos) & 0xff; pos += 1; b }
    override def available(): Int =
      math.min(Int.MaxValue.toLong, (lim - pos).toLong + in.available()).toInt
    override def close(): Unit = in.close()

    private def next(): Byte = {
      if (pos == lim && !fill()) throw new EOFException("RESP stream closed mid-frame")
      val b = buf(pos)
      pos += 1
      b
    }
    private def crlf(what: String): Unit =
      if (next() != '\r' || next() != '\n')
        throw new ProtocolException(s"RESP $what missing \\r\\n")

    /** One value; blocks until it is complete. */
    private[Resp] def value(): Value = {
      if (pos == lim && !fill()) throw new EOFException("RESP stream closed")
      val t = buf(pos)
      pos += 1
      t match {
        case '+' => Simple(line())
        case '-' => Err(line())
        case ':' => Num(integer())
        case '$' => integer() match {
          case -1 => NullBulk
          case n if n < 0 || n > MaxBulkLen =>
            throw new ProtocolException(s"invalid RESP bulk length $n")
          case n => bulk(n.toInt)
        }
        case '*' => integer() match {
          case -1 => NullArr
          case n if n < 0 || n > Int.MaxValue =>
            throw new ProtocolException(s"invalid RESP array length $n")
          case n => items(n.toInt)
        }
        case _ => throw new ProtocolException(
          s"unknown RESP type byte '${(t & 0xff).toChar}'")
      }
    }

    /** The rest of a simple-string or error line. */
    private def line(): String = {
      var i = pos
      while (i < lim && buf(i) != '\r') i += 1
      if (i + 1 < lim) { // the line and its \r\n are buffered
        val s = new String(buf, pos, i - pos, UTF_8)
        pos = i + 1
        if (next() != '\n') throw new ProtocolException("RESP line missing \\n")
        s
      } else { // the line spans a refill
        val acc = new java.io.ByteArrayOutputStream
        var b = next()
        while (b != '\r') { acc.write(b); b = next() }
        if (next() != '\n') throw new ProtocolException("RESP line missing \\n")
        acc.toString(UTF_8)
      }
    }

    /** A signed decimal line: an integer reply or a length. */
    private def integer(): Long = {
      var b = next()
      val negative = b == '-'
      if (negative) b = next()
      var x = 0L // accumulated negative, so Long.MinValue fits
      var digits = 0
      while (b != '\r') {
        val d = b - '0'
        if (d < 0 || d > 9)
          throw new ProtocolException(s"RESP integer has byte ${b & 0xff}")
        if (x < (Long.MinValue + d) / 10)
          throw new ProtocolException("RESP integer out of the 64-bit range")
        x = x * 10 - d
        digits += 1
        b = next()
      }
      if (next() != '\n') throw new ProtocolException("RESP line missing \\n")
      if (digits == 0) throw new ProtocolException("RESP integer has no digits")
      if (negative) x
      else if (x == Long.MinValue)
        throw new ProtocolException("RESP integer out of the 64-bit range")
      else -x
    }

    private def bulk(n: Int): Bulk = {
      val out = new Array[Byte](n)
      var got = 0
      while (got < n) {
        if (pos < lim) got += copyOut(out, got, n - got)
        else if (n - got >= buf.length) {
          val r = in.read(out, got, n - got)
          if (r < 0) throw new EOFException("RESP bulk truncated")
          got += r
        } else if (!fill()) throw new EOFException("RESP bulk truncated")
      }
      crlf("bulk")
      Bulk(out)
    }

    private def items(n: Int): Arr = {
      // grown as items arrive: the claimed count alone allocates little
      var out = new Array[Value](math.min(n, 1024))
      var i = 0
      while (i < n) {
        if (i == out.length) out = java.util.Arrays.copyOf(out, math.min(n.toLong, i * 2L).toInt)
        out(i) = value()
        i += 1
      }
      Arr(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
    }
  }

  /** Parse one RESP value from the stream (blocking). An [[Input]] is
    * parsed from its buffer; any other stream is read without read-ahead,
    * so the bytes after the value stay in it.
    */
  def parse(in: InputStream): Value = in match {
    case r: Input => r.value()
    case other => new Input(other, 1).value()
  }

  /** Buffered copies — sized for pipelined command batches. */
  def buffered(in: InputStream): Input = new Input(in)
  def buffered(out: OutputStream): OutputStream = new BufferedOutputStream(out, 1 << 16)
}
