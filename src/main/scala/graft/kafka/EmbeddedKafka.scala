package graft.kafka

import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import KafkaWire.{Api, Err, Ts}

/** In-process Kafka-model broker speaking the REAL public wire protocol
  * ([[KafkaWire]]: v2 record batches + CRC32C, ApiVersions v0, Metadata v1,
  * ListOffsets v1, Fetch v4, Produce v3) over real sockets. Topics hold
  * partitions; each partition is an append-only log with dense offsets;
  * ListOffsets resolves earliest/latest/timestamp; topics auto-create on
  * Metadata (the `auto.create.topics.enable` broker behavior). One thread
  * per accepted connection because every Spark task opens its own.
  *
  * This is the broker stand-in the reference's Kafka backend
  * (sea-streamer-kafka/src/streamer.rs:120-180 connect, consumer.rs,
  * producer.rs) runs against in this zero-egress sandbox — the same role
  * EmbeddedRedis/EmbeddedIggy play for their backends. Lives in main (not
  * test) because the DuckDB-oracle correctness queries
  * (analytics.KafkaTransport) round-trip the `events` table through it,
  * putting the whole wire path under the hash-compare gate. An embedded
  * verification backend, not a production store.
  */
/** @param credentials when set, this listener REQUIRES SASL (PLAIN,
  *   SCRAM-SHA-256 or SCRAM-SHA-512 — the client picks via the KIP-152
  *   handshake): only ApiVersions and the handshake/authenticate pair are
  *   served before a successful exchange; any other pre-auth request
  *   closes the channel (a real SASL listener's behavior), and a failed
  *   authenticate replies with SaslAuthenticationFailed then closes.
  *   SCRAM runs the full RFC 5802 exchange — the broker holds only the
  *   per-connection salted-password derivation (StoredKey/ServerKey) and
  *   verifies the client proof without ever seeing a cleartext key on the
  *   wire. None = PLAINTEXT.
  * @param tls when set, the listener speaks TLS from the configured PKCS12
  *   keystore ([[KafkaTls]]): combined with `credentials` this is
  *   SASL_SSL, alone it is SSL — the four `security.protocol` modes of
  *   the reference's option surface (streamer.rs:52-66). The SASL frames
  *   are byte-identical inside the channel; nothing below the socket
  *   layer changes.
  */
final class EmbeddedKafka(autoCreatePartitions: Int = 4,
    credentials: Option[(String, String)] = None,
    tls: Option[KafkaTls.Server] = None) extends AutoCloseable {
  require(autoCreatePartitions > 0, "autoCreatePartitions must be positive")

  private val server: ServerSocket = tls match {
    case Some(t) =>
      KafkaTls.serverSocket(t, 16, InetAddress.getLoopbackAddress)
    case None => new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  }
  val port: Int = server.getLocalPort
  val host: String = "127.0.0.1"
  /** node_id this single-broker cluster advertises in Metadata. */
  val nodeId: Int = 0

  /** Each log offset's timestamp and control bit — all ListOffsets'
    * timestamp scan needs; the payloads live only in the stored batches.
    */
  private final class OffsetIndex {
    private var ts = new Array[Long](64)
    private val control = new java.util.BitSet
    private var n = 0
    def length: Long = n.toLong
    def append(tsMs: Long, isControl: Boolean): Unit = {
      if (n == ts.length) ts = java.util.Arrays.copyOf(ts, n * 2)
      ts(n) = tsMs
      if (isControl) control.set(n)
      n += 1
    }
    /** (timestamp, offset) of the first DATA offset with a timestamp >=
      * `wanted`; (-1, -1) when there is none yet. */
    def seek(wanted: Long): (Long, Long) = {
      var i = 0
      while (i < n && (control.get(i) || ts(i) < wanted)) i += 1
      if (i == n) (-1L, -1L) else (ts(i), i.toLong)
    }
  }

  /** One partition: per-offset timestamps (for ListOffsets' timestamp
    * scan) AND the produced batches as received — the producer's own
    * bytes with the assigned base offset patched in, as a real log
    * segment holds them. Fetch serves whole stored batches like a real
    * broker's zero-copy path — so a batch can START BEFORE the asked
    * offset and the client's prefix-trim is a live code path, not dead
    * fidelity. Transaction markers occupy log offsets like any record
    * (control entries in `offsets` keep the offset arithmetic dense).
    */
  private final class Partition {
    val offsets = new OffsetIndex
    /** (baseOffset, encoded v2 batch bytes). */
    val batches = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    /** producerId -> first offset of that pid's OPEN transaction here. */
    val ongoingTxn = mutable.Map.empty[Long, Long]
    /** Idempotent-producer dedup state: pid -> (epoch, firstSeq, lastSeq,
      * baseOffset) of the LAST accepted batch — the one-deep form of the
      * real broker's 5-batch producer-state cache. A resend of exactly
      * that batch answers its original base offset WITHOUT appending
      * (produce-retry becomes exactly-once); an older duplicate is error
      * 46, a sequence gap error 45, a bumped epoch resets to 0.
      */
    val producerSeq = mutable.Map.empty[Long, (Int, Int, Int, Long)]
    /** Completed ABORTED transactions: (producerId, firstOffset,
      * markerOffset) — the index Fetch serves to read_committed
      * consumers, SCOPED by marker position: an entry whose abort marker
      * lies at or before the fetch offset must not be served, or the
      * client-side walk would re-open a long-closed range and drop the
      * same producer's LATER COMMITTED batches (the real broker's
      * transaction index is range-scoped the same way).
      */
    val abortedTxns = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    /** Last stable offset: nothing at/after an open transaction's first
      * offset is stable (KIP-98's LSO law). */
    def lso: Long =
      if (ongoingTxn.isEmpty) offsets.length
      else ongoingTxn.values.min
  }

  /** Transaction-coordinator state per transactional id: the fencing
    * (pid, epoch) mapping, the partitions added to the CURRENT transaction,
    * and group offsets staged by TxnOffsetCommit (visible only at commit —
    * the send_offsets_to_transaction contract, producer.rs:282-301).
    */
  private final class TxnState(val pid: Long, var epoch: Int) {
    val parts = mutable.Set.empty[(String, Int)]
    val stagedOffsets = mutable.Map.empty[String, Long] // "group/topic/p"
    // transaction.timeout.ms from InitProducerId + the last transactional
    // activity — the coordinator's expiry clock
    var timeoutMs: Int = 60000
    @volatile var lastTouchMs: Long = System.currentTimeMillis()
    def touch(): Unit = lastTouchMs = System.currentTimeMillis()
  }
  private val txns = new ConcurrentHashMap[String, TxnState]()
  private val nextPid = new java.util.concurrent.atomic.AtomicLong(1000L)

  /** Coordinator-side transaction expiry (the real broker's
    * `transaction.timeout.ms` abort): a producer that crashed and never
    * restarts must not wedge read_committed forever — past the timeout
    * the coordinator aborts its open transaction (markers written, LSO
    * released) and BUMPS the epoch, so a late zombie request dies with
    * INVALID_PRODUCER_EPOCH exactly as if a re-init had fenced it. Swept
    * on every fetch and every transactional request (a single-threaded
    * test broker needs no background reaper thread).
    */
  private def expireTxns(): Unit = {
    val now = System.currentTimeMillis()
    txns.synchronized {
      txns.forEach { (_, st) =>
        st.synchronized {
          if ((st.parts.nonEmpty || st.stagedOffsets.nonEmpty) &&
              now - st.lastTouchMs > st.timeoutMs) {
            abortOngoing(st)
            st.epoch += 1
          }
        }
      }
    }
  }

  /** Fault taps (KafkaFaultSpec only) — each counts DOWN per triggered
    * request and injects the named failure while positive. A real broker
    * exhibits all three (process kill, disk corruption, leadership moves);
    * the embedded one needs switches to do it on demand.
    */
  /** Abruptly close the connection mid-frame instead of answering the
    * next N Fetch requests. */
  val dropFetches = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Flip a byte inside the served record set of the next N non-empty
    * Fetch responses (corrupts the batch's CRC'd region). */
  val corruptFetches = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Refuse the next N Produce partition writes (nothing appended) with
    * [[failProduceCode]]. */
  val failProduces = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Error code served while [[failProduces]] is positive. */
  @volatile var failProduceCode: Int = Err.NotLeaderForPartition

  private def takeFault(tap: java.util.concurrent.atomic.AtomicInteger): Boolean =
    tap.getAndUpdate(n => math.max(0, n - 1)) > 0

  /** topic -> partitions (each an append-only log). */
  private val topics =
    new ConcurrentHashMap[String, Array[Partition]]()

  /** Codec bits of each stored batch, in log order — test hook for the
    * producer-compression-preserved law (real brokers keep producer
    * compression on the log under the compression.type=producer default).
    */
  private[graft] def storedBatchCodecs(topic: String, partition: Int): Seq[Int] =
    topics.get(topic) match {
      case null => Seq.empty
      case t => t(partition).synchronized(
        t(partition).batches.map(b => KafkaWire.batchCodec(b._2)).toSeq)
    }
  /** "group/topic/partition" -> committed offset (= next to read). */
  private val groupOffsets =
    new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var closed = false

  def committedOffset(group: String, topic: String, partition: Int): Option[Long] =
    Option(groupOffsets.get(s"$group/$topic/$partition")).map(_.longValue)

  def partitionCount(topic: String): Int =
    Option(topics.get(topic)).map(_.length).getOrElse(0)

  def logSize(topic: String, partition: Int): Long =
    Option(topics.get(topic)).filter(partition < _.length)
      .map(t => t(partition).synchronized(t(partition).offsets.length))
      .getOrElse(0L)

  private def autoCreate(topic: String): Array[Partition] =
    topics.computeIfAbsent(topic,
      _ => Array.fill(autoCreatePartitions)(new Partition))

  private val acceptor = new Thread(() => {
    try while (!closed) {
      val s = server.accept()
      new Thread(() => serve(s)).start()
    } catch { case _: Throwable => () }
  }, "embedded-kafka-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(socket: java.net.Socket): Unit = {
    // on a TLS listener the handshake runs on first IO from THIS socket:
    // NODELAY must be on before that, or every handshake flight eats a
    // Nagle/delayed-ACK stall (~40 ms measured)
    socket.setTcpNoDelay(true)
    val in = KafkaWire.buffered(socket.getInputStream)
    val out = KafkaWire.buffered(socket.getOutputStream)
    var authed = credentials.isEmpty
    // per-connection SASL negotiation: the handshook mechanism, and for
    // SCRAM the mid-exchange state (client-first-bare, server-first,
    // salted password, full nonce) between the two authenticate rounds
    var saslMech: String = null
    var scramState: (String, String, Array[Byte], String) = null
    try while (!closed) {
      KafkaWire.readRequest(in) match {
        case None => return
        case Some((apiKey, apiVersion, correlationId, _, body)) =>
          if (apiKey == Api.Fetch && takeFault(dropFetches)) {
            // die mid-frame: a few bytes of the size header, then hard
            // close — the client must see a truncated-frame IOException,
            // not a parseable reply
            out.write(Array[Byte](0, 0)); out.flush()
            socket.close()
            return
          }
          // a SASL listener terminates unauthenticated data requests
          // without a reply (only ApiVersions + the handshake pair are
          // servable pre-auth)
          if (!authed && apiKey != Api.ApiVersions &&
              apiKey != Api.SaslHandshake && apiKey != Api.SaslAuthenticate) {
            socket.close(); return
          }
          var failedAuth = false
          val reply = apiKey match {
            case Api.SaslHandshake if credentials.isDefined =>
              val (rep, mech) = saslHandshakeV1(apiVersion, body)
              saslMech = mech.orNull
              scramState = null
              rep
            case Api.SaslAuthenticate if credentials.isDefined =>
              val (rep, ok, st) =
                saslAuthenticateV0(apiVersion, body, saslMech, scramState)
              scramState = st
              // SCRAM's first round answers with server-first (ok=false,
              // state set) — only a FAILED terminal round closes
              if (ok) authed = true
              else if (st == null) failedAuth = true
              rep
            case Api.SaslHandshake =>
              // PLAINTEXT listener: SASL is an illegal state here —
              // handshake-shaped reply (error_code + mechanisms array)
              new KafkaWire.Writer().i16(Err.IllegalSaslState)
                .array(Seq.empty[Int])((_, _) => ()).result()
            case Api.SaslAuthenticate =>
              // same illegal state, but authenticate-SHAPED (error_code +
              // error_message + auth_bytes) — a client that reached
              // authenticate must not be handed a handshake body to parse
              new KafkaWire.Writer().i16(Err.IllegalSaslState)
                .nullableStr("SASL not enabled on this listener")
                .nullableBytes(null).result()
            case _ => handle(apiKey, apiVersion, body)
          }
          KafkaWire.writeResponse(out, correlationId, reply)
          if (failedAuth) { out.flush(); socket.close(); return }
          if (in.available() == 0) out.flush()
      }
    } catch { case _: Throwable => () } finally socket.close()
  }

  private val EnabledMechanisms =
    "PLAIN" +: KafkaWire.Scram.Mechanisms :+ "OAUTHBEARER"

  /** Sentinel mid-exchange state for OAUTHBEARER's failure flow: the
    * error challenge was sent, the next client round (the RFC's dummy
    * 0x01 response) must terminate with error 58.
    */
  private val OAuthFailPending: (String, String, Array[Byte], String) =
    ("OAUTHBEARER", "", Array.emptyByteArray, "")

  /** SaslHandshake v1: error_code + enabled mechanisms; returns the
    * negotiated mechanism when accepted.
    */
  private def saslHandshakeV1(apiVersion: Int,
      body: Array[Byte]): (Array[Byte], Option[String]) = {
    val mech = new KafkaWire.Reader(body).str()
    val err =
      if (apiVersion != 1) Err.UnsupportedVersion
      else if (!EnabledMechanisms.contains(mech)) Err.UnsupportedSaslMechanism
      else Err.None
    val rep = new KafkaWire.Writer().i16(err)
      .array(EnabledMechanisms)((w, m) => { w.str(m); () }).result()
    (rep, if (err == Err.None) Some(mech) else None)
  }

  private def saslFailure(msg: String): Array[Byte] =
    new KafkaWire.Writer().i16(Err.SaslAuthenticationFailed)
      .nullableStr(msg).nullableBytes(Array.emptyByteArray).result()

  private def saslOk(authBytes: Array[Byte]): Array[Byte] =
    new KafkaWire.Writer().i16(Err.None).nullableStr(null)
      .nullableBytes(authBytes).result()

  /** SaslAuthenticate v0 (error_code + error_message + auth_bytes),
    * dispatched on the handshook mechanism. Returns (reply, authenticated,
    * next scram state): PLAIN terminates in one round; SCRAM's first round
    * replies server-first with state set, its second verifies the client
    * proof against the StoredKey (never the cleartext key) and replies
    * `v=<ServerSignature>` for the client's mutual-auth check.
    */
  private def saslAuthenticateV0(apiVersion: Int, body: Array[Byte],
      mech: String, state: (String, String, Array[Byte], String))
      : (Array[Byte], Boolean, (String, String, Array[Byte], String)) = {
    val token = Option(new KafkaWire.Reader(body).nullableBytes())
      .getOrElse(Array.emptyByteArray)
    if (apiVersion != 0 || mech == null)
      return (new KafkaWire.Writer().i16(Err.IllegalSaslState)
        .nullableStr("authenticate before handshake")
        .nullableBytes(Array.emptyByteArray).result(), false, null)
    mech match {
      case "PLAIN" =>
        val ok = KafkaWire.parsePlainToken(token).contains(credentials.get)
        if (ok) (saslOk(Array.emptyByteArray), true, null)
        else (saslFailure("Authentication failed: invalid credentials"),
          false, null)
      case "OAUTHBEARER" =>
        // unsecured-bearer validation (KIP-255's non-production default):
        // frame shape, alg=none JWS, principal == the configured user,
        // token not expired. Failure follows the RFC's two-step: error
        // challenge as a SUCCESSFUL round, then error 58 on the client's
        // dummy response.
        if (state eq OAuthFailPending)
          return (saslFailure("Authentication failed: invalid_token"),
            false, null)
        val nowSec = System.currentTimeMillis() / 1000L
        val principal = for {
          tok <- KafkaWire.OAuth.parseInitialResponse(token)
          (sub, exp) <- KafkaWire.OAuth.parseUnsecured(tok)
          if exp > nowSec
        } yield sub
        if (principal.contains(credentials.get._1))
          (saslOk(Array.emptyByteArray), true, null)
        else
          (saslOk(KafkaWire.OAuth.ErrorChallenge), false, OAuthFailPending)
      case m =>
        val scram = KafkaWire.Scram(m)
        import KafkaWire.Scram.{attrs, b64, unb64, authMessage,
          clientFinalWithoutProof, serverFirst, unescapeName}
        val msg = new String(token, java.nio.charset.StandardCharsets.UTF_8)
        if (state == null) {
          // client-first: gs2 header pinned to `n,,` (no channel binding)
          if (!msg.startsWith("n,,"))
            return (saslFailure("channel binding not supported"), false, null)
          val bare = msg.drop(3)
          val a = attrs(bare)
          val (user, cnonce) = (a.get("n").map(unescapeName), a.get("r"))
          if (user.isEmpty || cnonce.isEmpty)
            return (saslFailure("malformed client-first"), false, null)
          if (!user.contains(credentials.get._1))
            return (saslFailure("unknown user"), false, null)
          val salt = new Array[Byte](16)
          new java.security.SecureRandom().nextBytes(salt)
          val nonce = cnonce.get +
            java.util.UUID.randomUUID().toString.replace("-", "")
          val iterations = 4096
          val sf = serverFirst(nonce, salt, iterations)
          val saltedPw = scram.hi(credentials.get._2, salt, iterations)
          (saslOk(sf.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
            false, (bare, sf, saltedPw, nonce))
        } else {
          val (cfb, sf, saltedPw, nonce) = state
          val a = attrs(msg)
          val proofIdx = msg.lastIndexOf(",p=")
          val okShape = proofIdx >= 0 && a.get("c").contains("biws") &&
            a.get("r").contains(nonce)
          // AuthMessage uses the client's ACTUAL final-without-proof bytes
          // (everything before ",p="), per RFC 5802's definition
          val auth = authMessage(cfb, sf,
            if (proofIdx >= 0) msg.substring(0, proofIdx)
            else clientFinalWithoutProof(nonce))
          val ok = okShape && a.get("p").exists(p =>
            scram.verifyClientProof(scram.storedKey(saltedPw), auth,
              unb64(p)))
          if (ok)
            (saslOk(s"v=${b64(scram.serverSignature(saltedPw, auth))}"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
              true, null)
          else
            (saslFailure("Authentication failed: invalid SCRAM proof"),
              false, null)
        }
    }
  }

  private def handle(apiKey: Int, apiVersion: Int,
      body: Array[Byte]): Array[Byte] = {
    // a real broker answers any ApiVersions version with a v0-compatible
    // body + UNSUPPORTED_VERSION so the client can downgrade; other APIs
    // get the error body of the pinned version
    if (apiKey != Api.ApiVersions &&
        KafkaWire.Versions.get(apiKey).forall(_.toInt != apiVersion))
      return unsupported(apiKey)
    apiKey match {
      case Api.ApiVersions => apiVersionsV0(
        if (apiVersion == 0) Err.None else Err.UnsupportedVersion)
      case Api.Metadata => metadataV1(body)
      case Api.ListOffsets => listOffsetsV1(body)
      case Api.Fetch => fetchV4(body)
      case Api.Produce => produceV3(body)
      case Api.OffsetCommit => offsetCommitV2(body)
      case Api.OffsetFetch => offsetFetchV1(body)
      case Api.FindCoordinator => findCoordinatorV0(body)
      case Api.InitProducerId => initProducerIdV0(body)
      case Api.AddPartitionsToTxn => addPartitionsToTxnV0(body)
      case Api.AddOffsetsToTxn => addOffsetsToTxnV0(body)
      case Api.EndTxn => endTxnV1(body)
      case Api.TxnOffsetCommit => txnOffsetCommitV0(body)
      case _ => unsupported(apiKey)
    }
  }

  // ---- KIP-98 transactions (the coordinator + log halves) ----

  /** Append one transaction-marker batch to `part` under its lock and
    * settle the pid's open range: aborts index (pid, firstOffset) for the
    * read_committed fetch path; commits just close. The marker occupies a
    * real log offset (a control entry in the offset index).
    */
  private def writeMarker(part: Partition, pid: Long, epoch: Int,
      commit: Boolean): Unit = part.synchronized {
    val off = part.offsets.length
    part.offsets.append(System.currentTimeMillis(), isControl = true)
    part.batches += ((off,
      KafkaWire.encodeControlBatch(off, System.currentTimeMillis(), pid,
        epoch, commit)))
    part.ongoingTxn.remove(pid).foreach { first =>
      if (!commit) part.abortedTxns += ((pid, first, off))
    }
  }

  /** Abort every partition of the state's CURRENT transaction (the
    * coordinator's recovery move on re-init) and drop its staged offsets.
    */
  private def abortOngoing(st: TxnState): Unit = {
    st.parts.foreach { case (topic, p) =>
      Option(topics.get(topic)).filter(p < _.length)
        .foreach(t => writeMarker(t(p), st.pid, st.epoch, commit = false))
    }
    st.parts.clear()
    st.stagedOffsets.clear()
  }

  /** InitProducerId v0: allocate (or re-fence) the transactional id's
    * producer. A re-init BUMPS the epoch — every in-flight request from
    * the previous incarnation dies with INVALID_PRODUCER_EPOCH — and
    * aborts any transaction that incarnation left open (the crash-recovery
    * contract init_transactions documents, producer.rs:236-241). A null
    * transactional id gets a fresh one-shot pid (idempotent-only mode).
    */
  private def initProducerIdV0(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val txnId = r.nullableStr()
    val timeoutMs = r.i32() // transaction_timeout_ms
    val (pid, epoch) =
      if (txnId == null) (nextPid.getAndIncrement(), 0)
      else txns.synchronized {
        val st = txns.get(txnId)
        if (st == null) {
          val fresh = new TxnState(nextPid.getAndIncrement(), 0)
          if (timeoutMs > 0) fresh.timeoutMs = timeoutMs
          txns.put(txnId, fresh)
          (fresh.pid, fresh.epoch)
        } else st.synchronized {
          // st.synchronized (inside txns — the lock order everywhere is
          // txns → st → part, so this can't deadlock) serializes the
          // re-init against an in-flight EndTxn from the old incarnation
          // that already passed txnCheck: without it the two could
          // interleave and double-write markers for the same pid
          abortOngoing(st)
          st.epoch += 1
          if (timeoutMs > 0) st.timeoutMs = timeoutMs
          st.touch()
          (st.pid, st.epoch)
        }
      }
    new KafkaWire.Writer().i32(0).i16(Err.None).i64(pid).i16(epoch).result()
  }

  /** The fencing check every transactional request runs: unknown id →
    * INVALID_TXN_STATE; stale (or future) epoch / wrong pid →
    * INVALID_PRODUCER_EPOCH; else the live state.
    */
  private def txnCheck(txnId: String, pid: Long,
      epoch: Int): Either[Int, TxnState] = {
    val st = if (txnId == null) null else txns.get(txnId)
    if (st == null) Left(Err.InvalidTxnState)
    else if (st.pid != pid || st.epoch != epoch)
      Left(Err.InvalidProducerEpoch)
    else { st.touch(); Right(st) }
  }

  /** AddPartitionsToTxn v0: register partitions into the current txn
    * (auto-creating topics like Metadata does) — produce to an unadded
    * partition is INVALID_TXN_STATE, exactly the ordering begin → add →
    * produce → end the real coordinator enforces.
    */
  private def addPartitionsToTxnV0(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val txnId = r.str()
    val pid = r.i64()
    val epoch = r.i16v()
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount())(r.i32())
    }
    val check = txnCheck(txnId, pid, epoch)
    val w = new KafkaWire.Writer
    w.i32(0) // throttle_time_ms
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      ww.array(parts) { (www, p) =>
        val err = check match {
          case Left(e) => e
          case Right(st) =>
            val t = autoCreate(topic)
            if (p < 0 || p >= t.length) Err.UnknownTopicOrPartition
            else st.synchronized {
              // epoch re-check inside the lock: a rival re-init landing
              // after txnCheck must fence this registration, not let a
              // stale incarnation pollute the NEW transaction's set
              if (st.pid != pid || st.epoch != epoch)
                Err.InvalidProducerEpoch
              else { st.parts += ((topic, p)); Err.None }
            }
        }
        www.i32(p).i16(err)
      }
    }
    w.result()
  }

  /** AddOffsetsToTxn v0: registers the group's offsets topic into the txn
    * (this single-broker coordinator needs only the fencing validation —
    * the staged offsets themselves arrive via TxnOffsetCommit).
    */
  private def addOffsetsToTxnV0(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val txnId = r.str()
    val pid = r.i64()
    val epoch = r.i16v()
    r.str() // group_id
    val err = txnCheck(txnId, pid, epoch).left.toOption.getOrElse(Err.None)
    new KafkaWire.Writer().i32(0).i16(err).result()
  }

  /** TxnOffsetCommit v0: STAGE group offsets under the transaction — they
    * become visible to OffsetFetch only when EndTxn commits, and vanish on
    * abort (the exactly-once consume-transform-produce loop's other half).
    */
  private def txnOffsetCommitV0(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val txnId = r.str()
    val group = r.str()
    val pid = r.i64()
    val epoch = r.i16v()
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount()) {
        val p = r.i32(); val off = r.i64(); r.nullableStr()
        (p, off)
      }
    }
    val check = txnCheck(txnId, pid, epoch)
    val w = new KafkaWire.Writer
    w.i32(0) // throttle_time_ms
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      ww.array(parts) { case (www, (p, off)) =>
        val err = check match {
          case Left(e) => e
          case Right(st) => st.synchronized {
            // epoch re-check inside the lock: a zombie's staged offsets
            // must never ride the NEW incarnation's commit
            if (st.pid != pid || st.epoch != epoch)
              Err.InvalidProducerEpoch
            else {
              st.stagedOffsets(s"$group/$topic/$p") = off
              Err.None
            }
          }
        }
        www.i32(p).i16(err)
      }
    }
    w.result()
  }

  /** EndTxn v1: write the commit/abort marker into every partition the
    * transaction touched, settle the aborted index, and publish (commit)
    * or drop (abort) the staged group offsets. The txn's partition set
    * clears — the next begin starts empty.
    */
  private def endTxnV1(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val txnId = r.str()
    val pid = r.i64()
    val epoch = r.i16v()
    val commit = r.i8() != 0
    val err = txnCheck(txnId, pid, epoch) match {
      case Left(e) => e
      case Right(st) =>
        st.synchronized {
          // epoch re-check inside the lock: a rival re-init between
          // txnCheck and here already aborted this transaction — a stale
          // EndTxn must fence, not double-write markers or publish the
          // new incarnation's staging
          if (st.pid != pid || st.epoch != epoch)
            Err.InvalidProducerEpoch
          else {
            st.parts.foreach { case (topic, p) =>
              Option(topics.get(topic)).filter(p < _.length)
                .foreach(t => writeMarker(t(p), pid, epoch, commit))
            }
            if (commit) st.stagedOffsets.foreach { case (k, off) =>
              groupOffsets.put(k, java.lang.Long.valueOf(off))
            }
            st.parts.clear()
            st.stagedOffsets.clear()
            Err.None
          }
        }
    }
    new KafkaWire.Writer().i32(0).i16(err).result()
  }

  private def unsupported(apiKey: Int): Array[Byte] =
    // minimal valid error body per API (empty arrays + error where the
    // schema carries one); ApiVersions carries the code directly
    apiKey match {
      case Api.ApiVersions => apiVersionsV0(Err.UnsupportedVersion)
      case Api.Metadata => new KafkaWire.Writer()
        .array(Seq.empty[Int])((_, _) => ()) // brokers
        .i32(nodeId)                         // controller
        .array(Seq.empty[Int])((_, _) => ()) // topics
        .result()
      case _ => new KafkaWire.Writer()
        .array(Seq.empty[Int])((_, _) => ()).i32(0).result()
    }

  /** error_code + [api_key, min, max] per supported API. */
  private def apiVersionsV0(err: Int): Array[Byte] = {
    val w = new KafkaWire.Writer
    w.i16(err)
    w.array(KafkaWire.Versions.toSeq.sortBy(_._1)) { case (ww, (k, v)) =>
      ww.i16(k).i16(v.toInt).i16(v.toInt)
    }
    w.result()
  }

  /** Metadata v1: named topics auto-create; null topic array = all. */
  private def metadataV1(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val count = r.arrayCount()
    val asked: Seq[String] =
      if (count < 0) topics.keySet().toArray(Array.empty[String]).toSeq.sorted
      else (0 until count).map(_ => r.str())
    if (count >= 0) asked.foreach(autoCreate)
    val w = new KafkaWire.Writer
    w.array(Seq(nodeId)) { (ww, id) => // brokers
      ww.i32(id).str(host).i32(port).nullableStr(null)
    }
    w.i32(nodeId) // controller_id
    w.array(asked) { (ww, t) =>
      val parts = Option(topics.get(t))
      ww.i16(if (parts.isDefined) Err.None else Err.UnknownTopicOrPartition)
      ww.str(t)
      ww.i8(0) // is_internal
      ww.array(parts.map(_.indices.toSeq).getOrElse(Seq.empty)) { (www, p) =>
        www.i16(Err.None).i32(p).i32(nodeId)
        www.array(Seq(nodeId))((w4, id) => w4.i32(id)) // replicas
        www.array(Seq(nodeId))((w4, id) => w4.i32(id)) // isr
      }
    }
    w.result()
  }

  /** ListOffsets v1: -2 earliest, -1 latest (= next offset), else the
    * EARLIEST offset whose timestamp >= target (the offsets_for_times
    * contract the reference seeks through, consumer.rs:464-494). Linear
    * scan — correct even for non-monotone timestamps; a real broker uses
    * its time index, this embedded one prioritizes the exact law.
    */
  private def listOffsetsV1(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    r.i32() // replica_id
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount())((r.i32(), r.i64()))
    }
    val w = new KafkaWire.Writer
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      ww.array(parts) { case (www, (p, target)) =>
        www.i32(p)
        Option(topics.get(topic)).filter(p < _.length) match {
          case None =>
            www.i16(Err.UnknownTopicOrPartition).i64(-1L).i64(-1L)
          case Some(t) =>
            val part = t(p)
            val (ts, off) = part.synchronized {
              target match {
                case Ts.Earliest => (-1L, 0L)
                case Ts.Latest => (-1L, part.offsets.length)
                // markers occupy offsets but are not data — the seek law
                // resolves to the first DATA record at/after the ts
                case wanted => part.offsets.seek(wanted)
              }
            }
            www.i16(Err.None).i64(ts).i64(off)
        }
      }
    }
    w.result()
  }

  /** Fetch v4: whole stored batches per partition from fetch_offset,
    * sized by partition_max_bytes but never empty when data exists (the
    * at-least-one-record rule that prevents big-message stalls).
    * isolation_level 1 (read_committed) serves only up to the LSO and
    * attaches the aborted-transaction index (producer_id, first_offset) —
    * the client-side filter drops aborted ranges using the markers in the
    * served bytes (KIP-98's consumer half).
    */
  private def fetchV4(body: Array[Byte]): Array[Byte] = {
    expireTxns() // the coordinator's transaction.timeout.ms sweep
    val r = new KafkaWire.Reader(body)
    r.i32(); r.i32(); r.i32(); r.i32() // replica/wait/min/max
    val isolation = r.i8()
    val readCommitted = isolation == 1
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount())((r.i32(), r.i64(), r.i32()))
    }
    val w = new KafkaWire.Writer
    w.i32(0) // throttle_time_ms
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      ww.array(parts) { case (www, (p, fetchOffset, maxBytes)) =>
        www.i32(p)
        Option(topics.get(topic)).filter(p < _.length) match {
          case None =>
            www.i16(Err.UnknownTopicOrPartition).i64(-1L).i64(-1L)
            www.array(Seq.empty[Int])((_, _) => ())
            www.nullableBytes(null)
          case Some(t) =>
            val part = t(p)
            // serve WHOLE STORED BATCHES starting at the batch containing
            // fetch_offset (the real broker's zero-copy path): the first
            // batch may begin before the asked offset — trimming that
            // prefix is the CLIENT's job (KafkaClient.fetch dropWhile)
            val (hw, lso, aborted, slices) = part.synchronized {
              val len = part.offsets.length
              val stable = part.lso
              val limit = if (readCommitted) stable else len
              if (fetchOffset < 0 || fetchOffset > len)
                (len, stable, Seq.empty[(Long, Long)], null)
              else {
                var bytes = 0L
                val out = Seq.newBuilder[Array[Byte]]
                var bi = part.batches.lastIndexWhere(_._1 <= fetchOffset)
                if (bi < 0) bi = 0
                var n = 0
                while (bi < part.batches.length &&
                    part.batches(bi)._1 < limit &&
                    (n == 0 || bytes < math.max(1, maxBytes))) {
                  val (_, b) = part.batches(bi)
                  out += b
                  bytes += b.length
                  bi += 1; n += 1
                }
                (len, stable,
                  // only aborted ranges whose MARKER lies beyond the
                  // fetch offset — a range fully before the page is
                  // settled history and must not re-open its pid
                  if (readCommitted)
                    part.abortedTxns.toSeq
                      .filter(_._3 > fetchOffset)
                      .map(a => (a._1, a._2))
                  else Seq.empty[(Long, Long)],
                  if (fetchOffset >= limit) Seq.empty else out.result())
              }
            }
            if (slices == null) {
              www.i16(Err.OffsetOutOfRange).i64(hw).i64(lso)
              www.array(Seq.empty[Int])((_, _) => ())
              www.nullableBytes(null)
            } else {
              www.i16(Err.None).i64(hw).i64(lso)
              www.array(aborted) { case (w4, (pid, first)) =>
                w4.i64(pid).i64(first)
              }
              val rs = if (slices.isEmpty) null else concat(slices)
              if (rs != null && takeFault(corruptFetches))
                // flip one bit of the last record's bytes — inside the
                // batch's CRC'd region, so the client's CRC32C check
                // must catch it (rs is a fresh copy, the log is intact)
                rs(rs.length - 1) = (rs(rs.length - 1) ^ 0x01).toByte
              www.nullableBytes(rs)
            }
        }
      }
    }
    w.result()
  }

  /** Every record's offset delta is its index, and the header's last
    * offset delta agrees. */
  private def denseOffsets(bi: KafkaWire.BatchInfo): Boolean = {
    var next = bi.baseOffset
    bi.records.forall { r => val ok = r.offset == next; next += 1; ok } &&
      (bi.records.isEmpty || bi.lastOffset == next - 1)
  }

  /** The served batches as one record set, each copied once. */
  private def concat(slices: Seq[Array[Byte]]): Array[Byte] = {
    val out = new Array[Byte](slices.iterator.map(_.length).sum)
    var at = 0
    slices.foreach { b => System.arraycopy(b, 0, out, at, b.length); at += b.length }
    out
  }

  /** Produce v3: decode each partition's record set (CRC-verified), append,
    * assign dense offsets, reply base_offset per partition. Batches store
    * INDIVIDUALLY as the producer's own bytes with the assigned base
    * offset patched in (outside the CRC'd region, as a real broker does),
    * so each keeps its OWN codec and producer fields (a multi-batch
    * produce with mixed codecs keeps every batch's codec — real brokers
    * never re-label under the first batch's attributes). A batch whose
    * offset deltas are not 0..count-1 would store offsets the log did
    * not assign, and is refused as CORRUPT_MESSAGE. Transactional batches
    * are validated against the coordinator: stale epoch fences (47), a
    * partition never added to the txn refuses (48), and the first
    * accepted batch opens the pid's LSO-blocking range.
    */
  private def produceV3(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val txnId = r.nullableStr()
    r.i16v() // acks (this broker always behaves as acks=all)
    r.i32() // timeout_ms
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount())((r.i32(), r.nullableBytes()))
    }
    val w = new KafkaWire.Writer
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      val t = autoCreate(topic)
      ww.array(parts) { case (www, (p, recordSet)) =>
        www.i32(p)
        if (p < 0 || p >= t.length)
          www.i16(Err.UnknownTopicOrPartition).i64(-1L).i64(-1L)
        else if (takeFault(failProduces))
          // refusal, not failure-after-append: nothing is stored, so a
          // client replay is duplicate-free by construction
          www.i16(failProduceCode).i64(-1L).i64(-1L)
        else {
          val decoded =
            try Some(KafkaWire.decodeBatchesInfo(recordSet))
              .filter(_.forall(denseOffsets))
            catch { case _: IllegalArgumentException => None }
          decoded match {
            case None =>
              www.i16(Err.CorruptMessage).i64(-1L).i64(-1L)
            case Some(batches) =>
              // transactional validation BEFORE anything appends — a
              // produce is atomic per partition (all batches or none),
              // and EVERY transactional batch fences individually: a
              // multi-batch request mixing a live producer's batch with
              // a zombie's must die on the zombie's epoch, and a
              // non-transactional batch riding along must not be
              // validated against the coordinator at all
              val txnErr: Int =
                if (batches.exists(_.control)) Err.InvalidTxnState
                else batches.filter(_.transactional)
                  .foldLeft(Err.None) { (acc, bi) =>
                    if (acc != Err.None) acc
                    else if (txnId == null) Err.InvalidTxnState
                    else txnCheck(txnId, bi.producerId,
                        bi.producerEpoch) match {
                      case Left(e) => e
                      case Right(st) => st.synchronized {
                        // re-validate the epoch INSIDE the lock: a rival
                        // re-init (which clears parts and bumps under
                        // st.synchronized) landing between txnCheck and
                        // the parts check must read as the FENCE (47),
                        // never as a never-registered partition (48) —
                        // the fenced producer's retry protocol keys on 47
                        if (st.pid != bi.producerId ||
                            st.epoch != bi.producerEpoch)
                          Err.InvalidProducerEpoch
                        else if (st.parts.contains((topic, p))) Err.None
                        else Err.InvalidTxnState
                      }
                    }
                  }
              if (txnErr != Err.None)
                www.i16(txnErr).i64(-1L).i64(-1L)
              else {
                val part = t(p)
                // each batch's own bytes, copied out of the request only
                // when it carries more than one batch
                val wire = batches.map(bi =>
                  if (bi.wireAt == 0 && bi.wireLength == recordSet.length) recordSet
                  else java.util.Arrays.copyOfRange(recordSet, bi.wireAt,
                    bi.wireAt + bi.wireLength))
                val (seqErr, base) = part.synchronized {
                  // phase 1 — KIP-98 idempotence: validate every batch's
                  // sequence against a SIMULATED cursor so the partition
                  // produce stays atomic (any error appends nothing);
                  // an exact resend of the last accepted batch becomes a
                  // DEDUPLICATED success (original base offset, no
                  // append) — the produce-retry exactly-once half
                  var sim = part.producerSeq.toMap
                  var err = 0
                  // per batch: None = append, Some(base) = deduplicated
                  val acts = batches.map { bi =>
                    if (err != 0 || bi.producerId < 0 || bi.baseSequence < 0)
                      None
                    else {
                      val lastSeq = bi.baseSequence + bi.records.length - 1
                      sim.get(bi.producerId) match {
                        case Some((e, f, l, b0)) if bi.producerEpoch == e =>
                          if (bi.baseSequence == l + 1) {
                            sim += bi.producerId ->
                              ((e, bi.baseSequence, lastSeq, -1L))
                            None
                          } else if (bi.baseSequence == f && lastSeq == l)
                            Some(b0) // exact resend of the cached batch
                          else if (bi.baseSequence <= l) {
                            err = Err.DuplicateSequenceNumber; None
                          } else {
                            err = Err.OutOfOrderSequenceNumber; None
                          }
                        case Some((e, _, _, _)) if bi.producerEpoch < e =>
                          err = Err.InvalidProducerEpoch; None
                        case _ => // new pid, or a bumped epoch: reset
                          sim += bi.producerId ->
                            ((bi.producerEpoch, bi.baseSequence, lastSeq, -1L))
                          None
                      }
                    }
                  }
                  if (err != 0) (err, -1L)
                  else {
                    var reply = -1L
                    batches.lazyZip(acts).lazyZip(wire).foreach {
                      case (_, Some(cached), _) =>
                        if (reply < 0) reply = cached
                      case (bi, None, bytes) =>
                        val b = part.offsets.length
                        if (reply < 0) reply = b
                        bi.records.foreach(rec =>
                          part.offsets.append(rec.tsMs, isControl = false))
                        // store the batch at its ASSIGNED base offset
                        // (what a real log segment holds); served verbatim
                        // by Fetch, PRESERVING the producer's compression
                        // codec and producer/txn fields —
                        // compression.type=producer semantics
                        if (bi.records.nonEmpty)
                          part.batches += ((b, KafkaWire.rebase(bytes, b)))
                        if (bi.producerId >= 0 && bi.baseSequence >= 0)
                          part.producerSeq(bi.producerId) =
                            ((bi.producerEpoch, bi.baseSequence,
                              bi.baseSequence + bi.records.length - 1, b))
                        if (bi.transactional)
                          part.ongoingTxn.getOrElseUpdate(bi.producerId, b)
                    }
                    (Err.None, reply)
                  }
                }
                www.i16(seqErr).i64(base).i64(-1L) // create-time semantics
              }
          }
        }
      }
    }
    w.i32(0) // throttle_time_ms
    w.result()
  }

  /** FindCoordinator v0: this single broker coordinates every group. */
  private def findCoordinatorV0(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    r.str() // group (coordinator key)
    new KafkaWire.Writer()
      .i16(Err.None).i32(nodeId).str(host).i32(port).result()
  }

  /** OffsetCommit v2: store per-(group, topic, partition) offsets. */
  private def offsetCommitV2(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val group = r.str()
    r.i32()          // generation_id (-1: simple/standalone commit)
    r.str()          // member_id
    r.i64()          // retention_time_ms
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount()) {
        val p = r.i32(); val off = r.i64(); r.nullableStr()
        (p, off)
      }
    }
    val w = new KafkaWire.Writer
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      ww.array(parts) { case (www, (p, off)) =>
        groupOffsets.put(s"$group/$topic/$p", java.lang.Long.valueOf(off))
        www.i32(p).i16(Err.None)
      }
    }
    w.result()
  }

  /** OffsetFetch v1: committed offset per partition, -1 when none. */
  private def offsetFetchV1(body: Array[Byte]): Array[Byte] = {
    val r = new KafkaWire.Reader(body)
    val group = r.str()
    val asked = Seq.fill(r.arrayCount()) {
      val topic = r.str()
      topic -> Seq.fill(r.arrayCount())(r.i32())
    }
    val w = new KafkaWire.Writer
    w.array(asked) { case (ww, (topic, parts)) =>
      ww.str(topic)
      ww.array(parts) { (www, p) =>
        val off = committedOffset(group, topic, p).getOrElse(-1L)
        www.i32(p).i64(off).nullableStr(null).i16(Err.None)
      }
    }
    w.result()
  }

  override def close(): Unit = { closed = true; server.close() }
}
