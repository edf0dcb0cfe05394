package graft.kafka

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** The Apache Kafka wire protocol — the REAL public protocol (KIP-98 v2
  * record batches, CRC32C, zigzag varints, big-endian primitives), not a
  * private framing. Everything here is from the published protocol guide
  * (kafka.apache.org/protocol) and the on-disk message-format spec:
  *
  *   - request  = `[INT32 size][header v1: api_key INT16, api_version INT16,
  *     correlation_id INT32, client_id NULLABLE_STRING][body]`
  *   - response = `[INT32 size][header v0: correlation_id INT32][body]`
  *
  * The API versions used are deliberately pre-"flexible" (no compact
  * strings / tagged fields), which pins a small, stable, fully-specified
  * wire surface:
  *
  * | api          | key | version | why this version                      |
  * |--------------|-----|---------|---------------------------------------|
  * | Produce      |  0  |   v3    | first with v2 record batches          |
  * | Fetch        |  1  |   v4    | first with v2 record batches          |
  * | ListOffsets  |  2  |   v1    | single (ts, offset) reply per part    |
  * | Metadata     |  3  |   v1    | brokers + per-topic partition leaders |
  * | ApiVersions  | 18  |   v0    | the bootstrap negotiation             |
  *
  * The reference adapter drives these same APIs through librdkafka
  * (sea-streamer-kafka/src/consumer.rs:591-687 message mapping,
  * producer.rs:97-189 sends, consumer.rs:464-494 offsets-for-times seek);
  * here the client AND the embedded broker speak the bytes directly, so
  * the whole path sits under the oracle gate with no broker install.
  */
object KafkaWire {

  object Api {
    val Produce = 0
    val Fetch = 1
    val ListOffsets = 2
    val Metadata = 3
    val OffsetCommit = 8
    val OffsetFetch = 9
    val FindCoordinator = 10
    val SaslHandshake = 17
    val ApiVersions = 18
    val InitProducerId = 22
    val AddPartitionsToTxn = 24
    val AddOffsetsToTxn = 25
    val EndTxn = 26
    val TxnOffsetCommit = 28
    val SaslAuthenticate = 36
  }

  /** Version pinned per API (see table above; the group-offset trio —
    * OffsetCommit v2 / OffsetFetch v1 / FindCoordinator v0 — are likewise
    * the last fully-specified pre-flexible layouts).
    */
  val Versions: Map[Int, Short] = Map(
    Api.Produce -> 3, Api.Fetch -> 4, Api.ListOffsets -> 1,
    Api.Metadata -> 1, Api.OffsetCommit -> 2, Api.OffsetFetch -> 1,
    Api.FindCoordinator -> 0, Api.ApiVersions -> 0,
    // the KIP-152 authentication pair: handshake v1 switches the channel
    // to header-framed SaslAuthenticate exchanges (v0's raw-token framing
    // is the pre-KIP legacy this driver does not speak)
    Api.SaslHandshake -> 1, Api.SaslAuthenticate -> 0,
    // the KIP-98 transactions quintet, pre-flexible versions: the five
    // requests behind the reference producer's init/begin/commit/abort/
    // send_offsets_to_transaction surface (producer.rs:236-301); EndTxn
    // v1 is v0's schema with throttle-time semantics finalized
    Api.InitProducerId -> 0, Api.AddPartitionsToTxn -> 0,
    Api.AddOffsetsToTxn -> 0, Api.EndTxn -> 1, Api.TxnOffsetCommit -> 0)
    .map { case (k, v) => k -> v.toShort }

  /** Public Kafka error codes (the subset this surface can produce). */
  object Err {
    val None = 0
    val OffsetOutOfRange = 1
    val CorruptMessage = 2
    val UnknownTopicOrPartition = 3
    val LeaderNotAvailable = 5
    val NotLeaderForPartition = 6
    val RequestTimedOut = 7
    val UnsupportedSaslMechanism = 33
    val IllegalSaslState = 34
    val UnsupportedVersion = 35
    /** An idempotent produce skipped ahead of the broker's expected
      * sequence (a batch was lost in between) — the producer must
      * re-establish or fail the txn (KIP-98 idempotence).
      */
    val OutOfOrderSequenceNumber = 45
    /** An idempotent produce re-sent a sequence range OLDER than the
      * broker's dedup cache — cannot be safely deduplicated.
      */
    val DuplicateSequenceNumber = 46
    /** A produce/txn request carried a producer epoch older than the
      * coordinator's — the KIP-98 FENCE: a re-initialized transactional id
      * bumps the epoch, and the zombie's writes die with this code.
      */
    val InvalidProducerEpoch = 47
    /** A transactional operation out of sequence (produce to a partition
      * never added to the txn, EndTxn for an unknown transactional id).
      */
    val InvalidTxnState = 48
    val SaslAuthenticationFailed = 58

    /** The retriable subset, per the public protocol's error table — a
      * client may safely re-send the request (the broker did not apply
      * it); everything else is terminal for the request.
      */
    val retriable: Set[Int] = Set(CorruptMessage, UnknownTopicOrPartition,
      LeaderNotAvailable, NotLeaderForPartition, RequestTimedOut)
  }

  /** Typed CRC failure — the kafka twin of `SsFormat.ChecksumException`:
    * corruption must surface as a distinct, matchable error, never a
    * silent skip (which would under-deliver) and never a retry (the bytes
    * will be identical). Extends IllegalArgumentException so the embedded
    * broker's produce-side decode guard catches it with the other
    * malformed-batch failures.
    */
  final case class CorruptBatchException(at: Int, stored: Int, computed: Int)
      extends IllegalArgumentException(
        f"record batch CRC mismatch at $at: stored 0x$stored%08x computed 0x$computed%08x")

  /** Sentinel timestamps for ListOffsets (public semantics). */
  object Ts {
    val Latest = -1L
    val Earliest = -2L
  }

  /** SASL/PLAIN initial response per RFC 4616:
    * `[authzid] NUL authcid NUL passwd` — empty authorization id (the
    * authenticated user authorizes as itself, the usual Kafka deployment).
    */
  def plainToken(username: String, password: String): Array[Byte] = {
    val u = username.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val p = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](2 + u.length + p.length)
    System.arraycopy(u, 0, out, 1, u.length)
    System.arraycopy(p, 0, out, 2 + u.length, p.length)
    out
  }

  /** Inverse of [[plainToken]] — (authcid, passwd); None if not a valid
    * three-part NUL-separated PLAIN message.
    */
  def parsePlainToken(token: Array[Byte]): Option[(String, String)] = {
    val parts = {
      val cuts = token.zipWithIndex.collect { case (0, i) => i }
      if (cuts.length != 2) return None
      Seq(token.slice(cuts(0) + 1, cuts(1)), token.drop(cuts(1) + 1))
    }
    Some((new String(parts(0), java.nio.charset.StandardCharsets.UTF_8),
      new String(parts(1), java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** SASL/OAUTHBEARER (RFC 7628) with the UNSECURED bearer tokens Kafka
    * ships for non-production use (KIP-255's default unsecured JWS:
    * `{"alg":"none"}` header, principal + lifetime claims, empty
    * signature) — the token flow a real deployment replaces with an
    * OIDC provider while keeping these exact wire frames:
    *
    *   client-initial  `n,,` SP* 0x01 `auth=Bearer <token>` 0x01 0x01
    *   server-ok       empty auth bytes
    *   server-error    a JSON challenge (`{"status":"invalid_token"}`);
    *                   the client answers one 0x01 byte (the RFC's dummy
    *                   response) and the NEXT round fails with error 58
    */
  object OAuth {
    private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
    def b64url(b: Array[Byte]): String =
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
    def unb64url(s: String): Array[Byte] =
      java.util.Base64.getUrlDecoder.decode(s)

    /** Unsecured JWS (alg=none, empty signature) carrying the principal
      * and an `[iat, exp]` second-resolution lifetime.
      */
    def unsecuredJwt(principal: String, nowSec: Long,
        lifetimeSec: Long): String =
      b64url("""{"alg":"none"}""".getBytes(Utf8)) + "." +
        b64url((s"""{"sub":"$principal","iat":$nowSec,""" +
          s""""exp":${nowSec + lifetimeSec}}""").getBytes(Utf8)) + "."

    /** RFC 7628 §3.1 initial client response (gs2 header pinned `n,,`,
      * no authzid — same deployment shape as [[plainToken]]).
      */
    def initialResponse(token: String): Array[Byte] =
      ("n,,\u0001auth=Bearer " + token + "\u0001\u0001").getBytes(Utf8)

    /** Extract the bearer token out of an initial response; None when
      * the frame shape is wrong.
      */
    def parseInitialResponse(bytes: Array[Byte]): Option[String] = {
      val s = new String(bytes, Utf8)
      if (!s.startsWith("n,,\u0001") || !s.endsWith("\u0001\u0001"))
        return None
      val kv = s.stripPrefix("n,,\u0001").stripSuffix("\u0001\u0001")
      if (kv.startsWith("auth=Bearer ")) Some(kv.stripPrefix("auth=Bearer "))
      else None
    }

    /** Parse an unsecured JWS → (principal, expSec): the header must be
      * alg=none (a SIGNED token is refused by the unsecured validator —
      * Kafka's behavior), claims must carry sub + exp.
      */
    def parseUnsecured(token: String): Option[(String, Long)] = try {
      val parts = token.split("\\.", -1)
      if (parts.length != 3 || parts(2).nonEmpty) return None
      val header = new String(unb64url(parts(0)), Utf8)
      if (!"\"alg\"\\s*:\\s*\"none\"".r.findFirstIn(header).isDefined)
        return None
      val claims = new String(unb64url(parts(1)), Utf8)
      for {
        sub <- "\"sub\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(claims)
          .map(_.group(1))
        exp <- "\"exp\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(claims)
          .map(_.group(1).toLong)
      } yield (sub, exp)
    } catch { case _: IllegalArgumentException => None } // malformed b64url

    /** The server-side error challenge + the client's dummy reply. */
    val ErrorChallenge: Array[Byte] =
      """{"status":"invalid_token"}""".getBytes(Utf8)
    val DummyResponse: Array[Byte] = Array[Byte](0x01)
  }

  /** SASL/SCRAM (RFC 5802, SHA-256 per RFC 7677) — BOTH halves of the
    * exchange as pure JDK crypto (PBKDF2 / HMAC / message digest), carried
    * over Kafka's KIP-152 header-framed SaslAuthenticate round trips:
    *
    *   client-first  `n,,n=<user>,r=<cnonce>`
    *   server-first  `r=<cnonce+snonce>,s=<b64 salt>,i=<iterations>`
    *   client-final  `c=biws,r=<nonce>,p=<b64 ClientProof>`
    *   server-final  `v=<b64 ServerSignature>` (mutual auth — the client
    *                 MUST verify, a fake broker cannot forge it without
    *                 the salted password)
    *
    * The gs2 header is pinned to `n,,` (no channel binding — Kafka's
    * SCRAM, which never uses it), so the channel-binding attribute in
    * client-final is the constant `biws` = base64("n,,").
    */
  final class Scram(val mechanism: String) {
    private val (kdf, mac, digest, bits) = mechanism match {
      case "SCRAM-SHA-256" =>
        ("PBKDF2WithHmacSHA256", "HmacSHA256", "SHA-256", 256)
      case "SCRAM-SHA-512" =>
        ("PBKDF2WithHmacSHA512", "HmacSHA512", "SHA-512", 512)
      case m => throw new IllegalArgumentException(s"not a SCRAM mechanism: $m")
    }

    /** Hi(password, salt, i) — PBKDF2 with the mechanism's HMAC. */
    def hi(password: String, salt: Array[Byte], iterations: Int): Array[Byte] =
      javax.crypto.SecretKeyFactory.getInstance(kdf)
        .generateSecret(new javax.crypto.spec.PBEKeySpec(
          password.toCharArray, salt, iterations, bits)).getEncoded

    def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance(mac)
      m.init(new javax.crypto.spec.SecretKeySpec(key, mac))
      m.doFinal(data)
    }

    def h(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance(digest).digest(b)

    def clientKey(saltedPw: Array[Byte]): Array[Byte] =
      hmac(saltedPw, "Client Key".getBytes(UTF_8))
    def storedKey(saltedPw: Array[Byte]): Array[Byte] = h(clientKey(saltedPw))
    def serverKey(saltedPw: Array[Byte]): Array[Byte] =
      hmac(saltedPw, "Server Key".getBytes(UTF_8))

    def xor(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      require(a.length == b.length, "xor operand length mismatch")
      a.indices.map(i => (a(i) ^ b(i)).toByte).toArray
    }

    def clientProof(saltedPw: Array[Byte], authMessage: String): Array[Byte] =
      xor(clientKey(saltedPw),
        hmac(storedKey(saltedPw), authMessage.getBytes(UTF_8)))

    /** Server-side proof check from the STORED key only (a real broker
      * never holds the cleartext client key): recover
      * ClientKey = proof XOR HMAC(StoredKey, AuthMessage) and require
      * H(ClientKey) == StoredKey. Constant-time compare.
      */
    def verifyClientProof(storedK: Array[Byte], authMessage: String,
        proof: Array[Byte]): Boolean = {
      if (proof.length != storedK.length) return false
      val recovered = xor(proof, hmac(storedK, authMessage.getBytes(UTF_8)))
      java.security.MessageDigest.isEqual(h(recovered), storedK)
    }

    def serverSignature(saltedPw: Array[Byte], authMessage: String): Array[Byte] =
      hmac(serverKey(saltedPw), authMessage.getBytes(UTF_8))
  }

  object Scram {
    val Sha256 = "SCRAM-SHA-256"
    val Sha512 = "SCRAM-SHA-512"
    val Mechanisms: Seq[String] = Seq(Sha256, Sha512)
    def apply(mechanism: String): Scram = new Scram(mechanism)

    def b64(b: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(b)
    def unb64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)

    /** saslname escaping (RFC 5802 §5.1): '=' → "=3D", ',' → "=2C". */
    def escapeName(n: String): String =
      n.replace("=", "=3D").replace(",", "=2C")
    def unescapeName(n: String): String =
      n.replace("=2C", ",").replace("=3D", "=")

    def clientFirstBare(user: String, cnonce: String): String =
      s"n=${escapeName(user)},r=$cnonce"
    def serverFirst(nonce: String, salt: Array[Byte], iterations: Int): String =
      s"r=$nonce,s=${b64(salt)},i=$iterations"
    def clientFinalWithoutProof(nonce: String): String = s"c=biws,r=$nonce"
    def authMessage(clientFirstBare: String, serverFirst: String,
        clientFinalWithoutProof: String): String =
      s"$clientFirstBare,$serverFirst,$clientFinalWithoutProof"

    /** `k=v,k=v` attribute list → map (values may contain '='; only the
      * first is the separator, per the RFC's one-letter attribute names).
      */
    def attrs(msg: String): Map[String, String] =
      msg.split(",").filter(_.length >= 2)
        .map(kv => kv.substring(0, 1) -> kv.substring(2)).toMap
  }

  /** One record as (offset, timestamp-ms, key, value); key may be null. */
  final case class KRecord(offset: Long, tsMs: Long,
      key: Array[Byte], value: Array[Byte])

  // ---- primitives: big-endian, per the protocol's type system ----

  /** Builds a frame in one growable, unsynchronized `byte[]`: each field
    * is stored in place, and a whole batch or request is built in one
    * buffer instead of a chain of per-part arrays copied into each other.
    */
  final class Writer(initialCapacity: Int = 256) {
    private var buf = new Array[Byte](math.max(initialCapacity, 16))
    private var pos = 0
    private def room(n: Int): Unit = if (n > buf.length - pos) {
      val need = pos.toLong + n
      require(need <= MaxFrame, s"kafka frame past ${MaxFrame >> 20} MiB ($need bytes)")
      buf = java.util.Arrays.copyOf(buf,
        math.max(need, math.min(buf.length * 2L, MaxFrame)).toInt)
    }
    private def put32(at: Int, v: Int): Unit = {
      buf(at) = (v >>> 24).toByte; buf(at + 1) = (v >>> 16).toByte
      buf(at + 2) = (v >>> 8).toByte; buf(at + 3) = v.toByte
    }
    def i8(v: Int): Writer = { room(1); buf(pos) = v.toByte; pos += 1; this }
    def i16(v: Int): Writer = {
      room(2); buf(pos) = (v >>> 8).toByte; buf(pos + 1) = v.toByte; pos += 2; this
    }
    def i32(v: Int): Writer = { room(4); put32(pos, v); pos += 4; this }
    def i64(v: Long): Writer = { i32((v >>> 32).toInt); i32(v.toInt) }
    /** STRING: INT16 length + UTF-8. */
    def str(s: String): Writer = { val b = s.getBytes(UTF_8); i16(b.length); raw(b) }
    /** NULLABLE_STRING: length -1 = null. */
    def nullableStr(s: String): Writer =
      if (s == null) i16(-1) else str(s)
    /** NULLABLE_BYTES: INT32 length, -1 = null. */
    def nullableBytes(b: Array[Byte]): Writer =
      if (b == null) i32(-1) else { i32(b.length); raw(b) }
    def raw(b: Array[Byte]): Writer = raw(b, 0, b.length)
    def raw(b: Array[Byte], off: Int, len: Int): Writer = {
      room(len); System.arraycopy(b, off, buf, pos, len); pos += len; this
    }
    /** ARRAY: INT32 count then elements (written by `each`). */
    def array[T](xs: Seq[T])(each: (Writer, T) => Unit): Writer = {
      i32(xs.length); xs.foreach(x => each(this, x)); this
    }
    /** VARINT: zigzag-encoded INT32, ULEB128 groups. */
    def varint(v: Int): Writer = uvarlong(zigzag(v))
    /** VARLONG: zigzag-encoded INT64. */
    def varlong(v: Long): Writer = uvarlong(zigzag(v))
    private def uvarlong(v0: Long): Writer = {
      room(10)
      var v = v0
      while ((v & ~0x7fL) != 0L) { buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7 }
      buf(pos) = v.toByte; pos += 1; this
    }
    /** Overwrite the INT32 at `at` — a length or CRC known only once the
      * bytes after it are written. */
    private[kafka] def patchI32(at: Int, v: Int): Unit = put32(at, v)
    /** CRC32C of the bytes from `from` to the end. */
    private[kafka] def crc32c(from: Int): Int = {
      val crc = new java.util.zip.CRC32C
      crc.update(buf, from, pos - from)
      crc.getValue.toInt
    }
    /** This buffer as the sink of a compressor. */
    private[kafka] def stream: OutputStream = new OutputStream {
      override def write(b: Int): Unit = i8(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = raw(b, off, len)
    }
    def writeTo(out: OutputStream): Unit = out.write(buf, 0, pos)
    def size: Int = pos
    /** The bytes written. A writer sized exactly hands over its buffer
      * (any later write reallocates, so the result never changes). */
    def result(): Array[Byte] =
      if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
  }

  /** Largest frame a [[Writer]] builds (the array limit, rounded down). */
  private val MaxFrame = Int.MaxValue - 15L

  private def zigzag(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  /** Bytes of an unsigned LEB128 group sequence. */
  private def uvarlongSize(v: Long): Int =
    if (v == 0L) 1 else (63 - java.lang.Long.numberOfLeadingZeros(v)) / 7 + 1

  final class Reader(payload: Array[Byte], private var pos: Int = 0) {
    def remaining: Int = payload.length - pos
    def i8(): Int = { val v = payload(pos); pos += 1; v.toInt }
    def i16v(): Int = {
      val v = ((payload(pos) & 0xff) << 8) | (payload(pos + 1) & 0xff)
      pos += 2; v.toShort.toInt
    }
    def i32(): Int = {
      val v = ((payload(pos) & 0xff) << 24) | ((payload(pos + 1) & 0xff) << 16) |
        ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
      pos += 4; v
    }
    def i64(): Long = {
      val hi = i32().toLong; val lo = i32().toLong & 0xffffffffL
      (hi << 32) | lo
    }
    def str(): String = {
      val n = i16v()
      require(n >= 0, "non-nullable STRING was null")
      val s = new String(payload, pos, n, UTF_8); pos += n; s
    }
    def nullableStr(): String = {
      val n = i16v()
      if (n < 0) null else { val s = new String(payload, pos, n, UTF_8); pos += n; s }
    }
    def nullableBytes(): Array[Byte] = {
      val n = i32()
      if (n < 0) null
      else { val b = java.util.Arrays.copyOfRange(payload, pos, pos + n); pos += n; b }
    }
    def rawBytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(payload, pos, pos + n); pos += n; b
    }
    def varint(): Int = { val u = uvarlong(); (((u >>> 1) ^ -(u & 1)).toInt) }
    def varlong(): Long = { val u = uvarlong(); (u >>> 1) ^ -(u & 1) }
    private def uvarlong(): Long = {
      var v = 0L; var shift = 0
      var b = 0
      do {
        b = payload(pos) & 0xff; pos += 1
        v |= (b & 0x7fL) << shift; shift += 7
        require(shift <= 70, "varlong too long")
      } while ((b & 0x80) != 0)
      v
    }
    def arrayCount(): Int = i32()
    def position: Int = pos
  }

  // ---- v2 record batches (magic 2, KIP-98 on-disk/wire format) ----

  /** Byte offsets inside a v2 batch (spec layout; goldens pin these). */
  object Batch {
    val BaseOffset = 0      // INT64
    val Length = 8          // INT32: bytes after this field
    val LeaderEpoch = 12    // INT32
    val Magic = 16          // INT8 = 2
    val Crc = 17            // UINT32 = CRC32C of [21, end)
    val Attributes = 21     // INT16
    val Overhead = 61       // first record starts here
  }

  /** Batch compression codecs (attributes bits 0–2 of the v2 layout; the
    * reference's `compression.type` producer option,
    * sea-streamer-kafka/src/producer.rs:52,85-86,311-317). The wire driver
    * speaks the full published matrix — none/gzip/snappy/lz4/zstd — using
    * the same codec libraries Apache Kafka itself links (JDK zlib,
    * snappy-java's xerial-framed streams, lz4-java's LZ4 Frame v1.5.1
    * streams, zstd-jni): bytes produced here are readable by a real
    * broker's decoder and vice versa. Reserved codec bits 5–7 are refused
    * loudly at batch decode — never a silent misread.
    */
  object Codec {
    val None = 0
    val Gzip = 1
    val Snappy = 2
    val Lz4 = 3
    val Zstd = 4
    /** `compression.type` value → attributes codec bits. */
    def of(name: String): Int = name.toLowerCase(java.util.Locale.ROOT) match {
      case "none" => None
      case "gzip" => Gzip
      case "snappy" => Snappy
      case "lz4" => Lz4
      case "zstd" => Zstd
      case other => throw new IllegalArgumentException(
        s"compression.type $other: the published codec matrix is " +
          "none/gzip/snappy/lz4/zstd")
    }

    /** Wrap `out` in `codec`'s compressor (the exact stream classes the
      * Apache Kafka client uses per codec).
      */
    def wrap(codec: Int, out: OutputStream): OutputStream = codec match {
      case Gzip => new java.util.zip.GZIPOutputStream(out)
      case Snappy => new org.xerial.snappy.SnappyOutputStream(out)
      case Lz4 => new net.jpountz.lz4.LZ4FrameOutputStream(out)
      case Zstd => new com.github.luben.zstd.ZstdOutputStream(out)
      case c => throw new IllegalArgumentException(s"batch codec $c")
    }

    /** Inverse of [[wrap]] for the decode side. */
    def unwrap(codec: Int, in: InputStream): InputStream = codec match {
      case Gzip => new java.util.zip.GZIPInputStream(in)
      case Snappy => new org.xerial.snappy.SnappyInputStream(in)
      case Lz4 => new net.jpountz.lz4.LZ4FrameInputStream(in)
      case Zstd => new com.github.luben.zstd.ZstdInputStream(in)
      case c => throw new IllegalArgumentException(s"batch codec $c")
    }
  }

  /** The codec bits of the FIRST batch in a record set (0 for empty) —
    * what a broker preserving producer compression keys off. */
  def batchCodec(recordSet: Array[Byte]): Int =
    if (recordSet == null || recordSet.length < Batch.Attributes + 2) Codec.None
    else ((recordSet(Batch.Attributes) & 0xff) << 8 |
      (recordSet(Batch.Attributes + 1) & 0xff)) & 0x7

  /** Encode records (ascending offsets) as ONE v2 batch. Per the published
    * layout, compression covers the serialized records only — the 61-byte
    * batch header (through the record count) stays plain so brokers can
    * read offsets/counts without inflating — and the CRC32C is computed
    * over the compressed bytes. Producer id / epoch / base sequence
    * default to the non-idempotent sentinels (-1); the transactional
    * producer path sets all three plus the KIP-98 transactional attribute
    * bit (0x10). `control` marks a transaction-marker batch (attribute
    * bit 0x20) — broker-written, never producer-written.
    */
  def encodeBatch(records: Seq[KRecord],
      codec: Int = Codec.None,
      producerId: Long = -1L, producerEpoch: Int = -1,
      baseSequence: Int = -1, transactional: Boolean = false,
      control: Boolean = false): Array[Byte] = {
    require(records.nonEmpty, "empty batch")
    require(codec >= Codec.None && codec <= Codec.Zstd,
      s"unsupported batch codec $codec (none/gzip/snappy/lz4/zstd)")
    val baseOffset = records.head.offset
    val baseTs = records.head.tsMs
    var maxTs = Long.MinValue
    var lastOffset = baseOffset
    var count = 0
    var recordsSize = 0L
    records.foreach { r =>
      maxTs = math.max(maxTs, r.tsMs)
      lastOffset = r.offset
      count += 1
      val n = recordSize(r, baseOffset, baseTs)
      recordsSize += uvarlongSize(zigzag(n)) + n
    }
    require(recordsSize <= MaxFrame - Batch.Overhead,
      s"batch of $recordsSize record bytes past the frame limit")
    val w = new Writer(Batch.Overhead +
      (if (codec == Codec.None) recordsSize.toInt else 64))
    w.i64(baseOffset)
    w.i32(0)  // batchLength, patched below: epoch+magic+crc+CRC'd region
    w.i32(-1) // partitionLeaderEpoch
    w.i8(2)   // magic
    w.i32(0)  // CRC32C (UINT32) of [attributes, end), patched below
    // attributes: codec bits 0-2, create-time timestamps, bit 4
    // transactional, bit 5 control
    w.i16(codec | (if (transactional) 0x10 else 0) |
      (if (control) 0x20 else 0))
    w.i32((lastOffset - baseOffset).toInt) // lastOffsetDelta
    w.i64(baseTs)
    w.i64(maxTs)
    w.i64(producerId)
    w.i16(producerEpoch)
    w.i32(baseSequence)
    w.i32(count)
    if (codec == Codec.None) writeRecords(w, records, baseOffset, baseTs)
    else {
      val recs = new Writer(recordsSize.toInt) // the compressible region
      writeRecords(recs, records, baseOffset, baseTs)
      val cs = Codec.wrap(codec, w.stream)
      recs.writeTo(cs); cs.close()
    }
    w.patchI32(Batch.Length, w.size - 12)
    w.patchI32(Batch.Crc, w.crc32c(Batch.Attributes))
    w.result()
  }

  /** Body bytes of one record (everything after its length varint). */
  private def recordSize(r: KRecord, baseOffset: Long, baseTs: Long): Int = {
    def field(b: Array[Byte]) =
      if (b == null) 1 else uvarlongSize(zigzag(b.length)) + b.length
    1 + uvarlongSize(zigzag(r.tsMs - baseTs)) +
      uvarlongSize(zigzag((r.offset - baseOffset).toInt)) +
      field(r.key) + field(r.value) + 1
  }

  /** Each record as `[length][attributes 0][ts delta][offset delta][key]
    * [value][0 headers]`, straight into `w`. */
  private def writeRecords(w: Writer, records: Seq[KRecord], baseOffset: Long,
      baseTs: Long): Unit = records.foreach { r =>
    w.varint(recordSize(r, baseOffset, baseTs))
    w.i8(0).varlong(r.tsMs - baseTs).varint((r.offset - baseOffset).toInt)
    if (r.key == null) w.varint(-1) else w.varint(r.key.length).raw(r.key)
    if (r.value == null) w.varint(-1) else w.varint(r.value.length).raw(r.value)
    w.varint(0)
  }

  /** Set a batch's base offset in place and return it: the field lies
    * outside the CRC'd region, so the batch stays valid — how a broker
    * stores a producer's batch at the offset it assigns. */
  def rebase(batch: Array[Byte], baseOffset: Long): Array[Byte] = {
    var i = 0
    while (i < 8) { batch(Batch.BaseOffset + i) = (baseOffset >>> (56 - 8 * i)).toByte; i += 1 }
    batch
  }

  /** Control-record types (the KIP-98 transaction markers a broker writes
    * into the log at EndTxn; key schema = [version INT16, type INT16]).
    */
  object Control {
    val Abort = 0
    val Commit = 1
  }

  /** One transaction-marker batch: a single control record whose key is
    * (version 0, type commit/abort) and whose value is the end-txn marker
    * (version 0, coordinator epoch) — the exact on-log layout a consumer's
    * read_committed filter keys off. Marker batches carry the owning
    * producer's id/epoch and BOTH the transactional and control bits.
    */
  def encodeControlBatch(offset: Long, tsMs: Long, producerId: Long,
      producerEpoch: Int, commit: Boolean): Array[Byte] = {
    val key = new Writer().i16(0)
      .i16(if (commit) Control.Commit else Control.Abort).result()
    val value = new Writer().i16(0).i32(0).result() // version, coord epoch
    encodeBatch(Seq(KRecord(offset, tsMs, key, value)),
      producerId = producerId, producerEpoch = producerEpoch,
      transactional = true, control = true)
  }

  /** One decoded v2 batch with its header metadata — what the
    * read_committed filter and the broker's per-batch produce validation
    * need beyond the flat record view. `controlType` is
    * [[Control.Abort]]/[[Control.Commit]] for control batches, -1 for
    * data. `wireAt`/`wireLength` locate the batch's own bytes in the
    * decoded record set.
    */
  final case class BatchInfo(baseOffset: Long, lastOffset: Long,
      producerId: Long, producerEpoch: Int, baseSequence: Int,
      codec: Int, transactional: Boolean, control: Boolean,
      controlType: Int, wireAt: Int, wireLength: Int, records: Seq[KRecord])

  /** Decode a record set (zero or more concatenated v2 batches), verifying
    * magic and CRC32C of every batch. Throws on corruption — a silent skip
    * would under-deliver. Control batches are dropped (the plain
    * read_uncommitted data view); [[decodeBatchesInfo]] is the
    * batch-granular form the transactional paths use.
    */
  def decodeBatches(bytes: Array[Byte]): Seq[KRecord] =
    decodeBatchesInfo(bytes).filterNot(_.control).flatMap(_.records)

  /** [[decodeBatches]] preserving per-batch headers: base/last offsets,
    * producer id/epoch/sequence, codec, transactional/control bits, and
    * the control type of marker batches — everything the broker's produce
    * validation (per-batch, never collapsed: a multi-batch produce with
    * mixed codecs keeps each batch's own) and the client's read_committed
    * filter need. Control batches KEEP their record (the marker) here.
    */
  def decodeBatchesInfo(bytes: Array[Byte]): Seq[BatchInfo] = {
    if (bytes == null) return Seq.empty
    val out = Seq.newBuilder[BatchInfo]
    var at = 0
    // a truncated trailing batch (Kafka allows partial final batches in
    // fetch responses) is dropped, never parsed
    while (bytes.length - at >= Batch.Overhead) {
      val r = new Reader(bytes, at)
      val baseOffset = r.i64()
      val batchLength = r.i32()
      if (bytes.length - at - 12 < batchLength) return out.result()
      r.i32() // partitionLeaderEpoch
      val magic = r.i8()
      require(magic == 2, s"unsupported record batch magic $magic")
      val crcStored = r.i32()
      val crc = new java.util.zip.CRC32C
      crc.update(bytes, at + Batch.Attributes, batchLength - 9)
      if (crc.getValue.toInt != crcStored)
        throw CorruptBatchException(at, crcStored, crc.getValue.toInt)
      val attributes = r.i16v()
      val codec = attributes & 0x7
      require(codec >= Codec.None && codec <= Codec.Zstd,
        s"batch codec $codec not supported (reserved attributes bits — " +
          "the published matrix ends at zstd=4)")
      val lastOffsetDelta = r.i32()
      val baseTs = r.i64()
      r.i64() // maxTimestamp
      val producerId = r.i64()
      val producerEpoch = r.i16v()
      val baseSequence = r.i32()
      val count = r.i32()
      val isControl = (attributes & 0x20) != 0
      val isTxn = (attributes & 0x10) != 0
      // compressed batches: inflate the records region (everything after
      // the 61-byte plain header) and parse the same record layout from
      // the inflated blob; CRC above already verified the compressed bytes
      val rr =
        if (codec == Codec.None) r
        else {
          val cs = Codec.unwrap(codec, new java.io.ByteArrayInputStream(
            bytes, r.position, at + 12 + batchLength - r.position))
          new Reader(cs.readAllBytes(), 0)
        }
      val recs = Seq.newBuilder[KRecord]
      var i = 0
      while (i < count) {
        val len = rr.varint()
        val end = rr.position + len
        rr.i8() // record attributes
        val tsDelta = rr.varlong()
        val offDelta = rr.varint()
        val keyLen = rr.varint()
        val key = if (keyLen < 0) null else rr.rawBytes(keyLen)
        val valLen = rr.varint()
        val value = if (valLen < 0) null else rr.rawBytes(valLen)
        val headers = rr.varint()
        var h = 0
        while (h < headers) { // skip headers
          val kl = rr.varint(); rr.rawBytes(kl)
          val vl = rr.varint(); if (vl >= 0) rr.rawBytes(vl)
          h += 1
        }
        require(rr.position == end, s"record length mismatch at batch $at record $i")
        recs += KRecord(baseOffset + offDelta, baseTs + tsDelta, key, value)
        i += 1
      }
      val records = recs.result()
      // control type from the marker record's key (version, type)
      val controlType =
        if (!isControl || records.isEmpty || records.head.key == null ||
            records.head.key.length < 4) -1
        else new Reader(records.head.key, 2).i16v()
      out += BatchInfo(baseOffset, baseOffset + lastOffsetDelta,
        producerId, producerEpoch, baseSequence, codec, isTxn, isControl,
        controlType, at, 12 + batchLength, records)
      at += 12 + batchLength
    }
    out.result()
  }

  /** The client half of read_committed (KIP-98): given the fetch
    * response's aborted-transaction index `(producerId, firstOffset)` and
    * the served batches in log order, drop every data batch that belongs
    * to an aborted transaction — a transactional batch from pid P is
    * aborted when an index entry (P, f) with f <= batch.baseOffset is
    * open, and P's abort MARKER batch closes it. Commit markers and
    * non-transactional batches pass through; control records never
    * surface. This mirrors the Java consumer's aborted-transaction walk.
    */
  def filterCommitted(batches: Seq[BatchInfo],
      aborted: Seq[(Long, Long)]): Seq[KRecord] = {
    val pending = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Queue[Long]]
    aborted.sortBy(_._2).foreach { case (pid, first) =>
      pending.getOrElseUpdate(pid,
        scala.collection.mutable.Queue.empty[Long]).enqueue(first)
    }
    val open = scala.collection.mutable.Set.empty[Long]
    val out = Seq.newBuilder[KRecord]
    batches.sortBy(_.baseOffset).foreach { b =>
      pending.get(b.producerId).foreach { q =>
        while (q.nonEmpty && q.head <= b.baseOffset) { q.dequeue(); open += b.producerId }
      }
      if (b.control) {
        if (b.controlType == Control.Abort) open -= b.producerId
      } else if (!(b.transactional && open.contains(b.producerId)))
        out ++= b.records
    }
    out.result()
  }

  // ---- framing ----

  /** Write `[size][header v1][body]`. */
  def writeRequest(out: OutputStream, apiKey: Int, apiVersion: Int,
      correlationId: Int, clientId: String, body: Array[Byte]): Unit =
    writeRequestWith(out, apiKey, apiVersion, correlationId, clientId,
      body.length)(_.raw(body))

  /** [[writeRequest]] with the body written by `body` straight into the
    * frame's buffer (`sizeHint`: expected body bytes). */
  def writeRequestWith(out: OutputStream, apiKey: Int, apiVersion: Int,
      correlationId: Int, clientId: String, sizeHint: Int = 256)(
      body: Writer => Unit): Unit = {
    val w = new Writer(sizeHint + 64)
    w.i32(0) // size, patched below
    w.i16(apiKey).i16(apiVersion).i32(correlationId).nullableStr(clientId)
    body(w)
    w.patchI32(0, w.size - 4)
    w.writeTo(out)
  }

  /** Write `[size][correlation_id][body]`. */
  def writeResponse(out: OutputStream, correlationId: Int,
      body: Array[Byte]): Unit = {
    out.write(new Writer(8).i32(body.length + 4).i32(correlationId).result())
    out.write(body)
  }

  /** (apiKey, apiVersion, correlationId, clientId, body) or None on EOF. */
  def readRequest(in: InputStream): Option[(Int, Int, Int, String, Array[Byte])] = {
    val head = readN(in, 4).getOrElse(return None)
    val size = new Reader(head).i32()
    require(size >= 8 && size <= (1 << 26), s"bad kafka request size $size")
    val frame = readN(in, size).getOrElse(
      throw new EOFException("kafka: truncated request"))
    val r = new Reader(frame)
    val apiKey = r.i16v()
    val apiVersion = r.i16v()
    val correlationId = r.i32()
    val clientId = r.nullableStr()
    Some((apiKey, apiVersion, correlationId, clientId,
      java.util.Arrays.copyOfRange(frame, r.position, frame.length)))
  }

  /** (correlationId, body). */
  def readResponse(in: InputStream): (Int, Array[Byte]) = {
    val head = readN(in, 4).getOrElse(throw new EOFException("kafka: closed"))
    val size = new Reader(head).i32()
    require(size >= 4 && size <= (1 << 26), s"bad kafka response size $size")
    val frame = readN(in, size).getOrElse(
      throw new EOFException("kafka: truncated response"))
    val r = new Reader(frame)
    (r.i32(), java.util.Arrays.copyOfRange(frame, 4, frame.length))
  }

  private def readN(in: InputStream, n: Int): Option[Array[Byte]] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val read = in.read(buf, off, n - off)
      if (read < 0)
        return if (off == 0) None
        else throw new EOFException("kafka: truncated frame")
      off += read
    }
    Some(buf)
  }

  def buffered(in: InputStream): InputStream =
    new java.io.BufferedInputStream(in, 1 << 16)
  def buffered(out: OutputStream): OutputStream =
    new java.io.BufferedOutputStream(out, 1 << 16)
}
