package graft.kafka

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import KafkaWire.{Api, Err, KRecord}

/** Blocking Kafka wire client over [[KafkaWire]] — the executor-side handle
  * every Spark task opens (one connection per task, like RedisClient /
  * IggyClient). Speaks the pinned pre-flexible API versions; verifies
  * correlation ids and record-batch CRCs. The same five APIs librdkafka
  * uses for the reference's consume/seek/produce surface
  * (sea-streamer-kafka/src/consumer.rs, producer.rs).
  */
object KafkaClient {
  /** Self-healing client wrapper — the retry law the reference inherits
    * from librdkafka (and spells out for redis,
    * sea-streamer-redis/src/producer.rs:464-507): on a dropped or
    * truncated connection, reconnect with linear backoff and re-issue the
    * request; on a RETRIABLE broker error code (the broker did not apply
    * the request — [[KafkaWire.Err.retriable]]), re-issue on the live
    * connection. Non-retriable server errors and corrupt-CRC batches
    * ([[KafkaWire.CorruptBatchException]]) surface immediately: re-sending
    * cannot change either. Fetches are exactly-once — a fetch cursor only
    * advances after its page decodes. A plain produce is at-least-once:
    * a retriable error code means the broker did not append the batch,
    * but a connection dropped after the broker appended it (a lost ack)
    * re-sends the batch, and the log holds it twice. Exactly-once writes
    * go through the transactional sink ([[KafkaEosSink]]) or the engine's
    * epoch ledger ([[graft.ops.ExactlyOnce]]), not through this retry.
    */
  final class Session(mkClient: () => KafkaClient, maxRetries: Int = 5,
      backoffMs: Long = 20L) extends AutoCloseable {
    private var client: KafkaClient = null

    def retrying[T](what: String)(f: KafkaClient => T): T = {
      var attempt = 0
      while (true) {
        // Establishment runs INSIDE the try so a connect-time IOException
        // (broker briefly down between drop and reconnect) consumes the
        // same retry budget and surfaces typed — mirrors
        // RedisClient.Session / IggyClient.Session (ADVICE r8 fix class).
        try {
          if (client == null) client = mkClient()
          return f(client)
        } catch {
          case e: java.io.IOException => // dropped / truncated connection
            if (client != null) {
              try client.close() catch { case _: Throwable => () }
              client = null
            }
            attempt += 1
            if (attempt > maxRetries)
              throw graft.core.SeaStreamErr.Backend(
                s"kafka $what: retries exhausted after $maxRetries reconnects", e)
            Thread.sleep(backoffMs * attempt)
          case e: KafkaClient#KafkaServerErr
              if KafkaWire.Err.retriable(e.code) =>
            attempt += 1
            if (attempt > maxRetries)
              throw graft.core.SeaStreamErr.Backend(
                s"kafka $what: retriable error ${e.code} persisted " +
                  s"through $maxRetries retries", e)
            Thread.sleep(backoffMs * attempt)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    override def close(): Unit = {
      if (client != null) { client.close(); client = null }
    }
  }
}

final class KafkaClient(host: String, port: Int,
    clientId: String = "graft",
    sasl: Option[(String, String)] = None,
    saslMechanism: String = "PLAIN",
    tls: Option[KafkaTls.Client] = None) extends AutoCloseable {

  // security.protocol decomposed: TLS wraps the socket (handshake eager —
  // trust/endpoint failures surface here), SASL then runs INSIDE the
  // channel unchanged — SSL / SASL_SSL / SASL_PLAINTEXT / PLAINTEXT are
  // the four (tls, sasl) combinations (streamer.rs:52-66)
  private val socket: Socket = tls match {
    case Some(t) => KafkaTls.clientSocket(t, host, port)
    case None => new Socket(host, port)
  }
  socket.setTcpNoDelay(true)

  /** Negotiated TLS protocol (e.g. "TLSv1.3"), None on plaintext. */
  def tlsProtocol: Option[String] = socket match {
    case s: javax.net.ssl.SSLSocket => Some(s.getSession.getProtocol)
    case _ => None
  }
  private val in = KafkaWire.buffered(socket.getInputStream)
  private val out = KafkaWire.buffered(socket.getOutputStream)
  private var correlation = 0

  final class KafkaServerErr(val code: Int, msg: String)
    extends RuntimeException(msg)

  private def fail(code: Int, what: String): Nothing =
    throw new KafkaServerErr(code, s"$what failed: kafka error $code")

  private def call(apiKey: Int, sizeHint: Int = 256)(
      writeBody: KafkaWire.Writer => Unit): KafkaWire.Reader = {
    val id = { correlation += 1; correlation }
    KafkaWire.writeRequestWith(out, apiKey, KafkaWire.Versions(apiKey).toInt,
      id, clientId, sizeHint)(writeBody)
    out.flush()
    val (gotId, body) = KafkaWire.readResponse(in)
    require(gotId == id, s"kafka correlation mismatch: sent $id got $gotId")
    new KafkaWire.Reader(body)
  }

  // authenticate before anything else can use the channel — the KIP-152
  // sequence: SaslHandshake v1 (mechanism negotiation), then the
  // mechanism's exchange inside header-framed SaslAuthenticate round
  // trips (one for PLAIN's initial response, two for SCRAM's
  // first/final). The constructor owns it so a Session reconnect
  // re-authenticates, exactly like the iggy/redis session handshakes.
  // An auth failure must CLOSE the (possibly TLS) socket before the
  // exception escapes: no caller can close a half-constructed client,
  // and a Session retry loop against rotated credentials would
  // otherwise orphan one connection per attempt until fd exhaustion.
  sasl.foreach { case (user, pass) =>
    try authenticate(user, pass, saslMechanism)
    catch { case e: Throwable =>
      try socket.close() catch { case _: Throwable => () }
      throw e
    }
  }

  /** One SaslAuthenticate round trip: token out, server's auth bytes back
    * (or a typed failure carrying the broker's error + message).
    */
  private def saslRound(token: Array[Byte]): Array[Byte] = {
    val ar = call(Api.SaslAuthenticate)(_.nullableBytes(token))
    val aerr = ar.i16v()
    val msg = ar.nullableStr()
    if (aerr != Err.None)
      throw new KafkaServerErr(aerr,
        s"SaslAuthenticate failed: kafka error $aerr" +
          (if (msg == null) "" else s" ($msg)"))
    ar.nullableBytes()
  }

  private def authenticate(user: String, pass: String,
      mechanism: String): Unit = {
    val hr = call(Api.SaslHandshake)(_.str(mechanism))
    val herr = hr.i16v()
    Seq.fill(hr.arrayCount())(hr.str()) // broker's enabled mechanisms
    if (herr != Err.None) fail(herr, s"SaslHandshake($mechanism)")
    mechanism match {
      case "PLAIN" =>
        saslRound(KafkaWire.plainToken(user, pass)) // final bytes empty
        ()
      case m if KafkaWire.Scram.Mechanisms.contains(m) =>
        val scram = KafkaWire.Scram(m)
        import KafkaWire.Scram.{attrs, b64, unb64, authMessage,
          clientFirstBare, clientFinalWithoutProof}
        val cnonce = java.util.UUID.randomUUID().toString.replace("-", "")
        val cfb = clientFirstBare(user, cnonce)
        val sf = new String(saslRound(("n,," + cfb).getBytes(UTF_8)), UTF_8)
        val a = attrs(sf)
        val nonce = a("r")
        // the server must EXTEND our nonce (replay defense, RFC 5802 §5)
        if (!nonce.startsWith(cnonce) || nonce == cnonce)
          throw new KafkaServerErr(Err.SaslAuthenticationFailed,
            "SCRAM server-first nonce does not extend the client nonce")
        val saltedPw = scram.hi(pass, unb64(a("s")), a("i").toInt)
        val cfwp = clientFinalWithoutProof(nonce)
        val auth = authMessage(cfb, sf, cfwp)
        val proof = scram.clientProof(saltedPw, auth)
        val sfin = new String(
          saslRound(s"$cfwp,p=${b64(proof)}".getBytes(UTF_8)), UTF_8)
        // MUTUAL auth: a broker that doesn't hold the salted password
        // cannot forge v — reject the channel instead of trusting it
        val ok = attrs(sfin).get("v").exists(v =>
          java.security.MessageDigest.isEqual(
            unb64(v), scram.serverSignature(saltedPw, auth)))
        if (!ok)
          throw new KafkaServerErr(Err.SaslAuthenticationFailed,
            "SCRAM server signature mismatch — mutual authentication failed")
      case "OAUTHBEARER" =>
        // RFC 7628 over KIP-152: the unsecured bearer flow (KIP-255's
        // non-production default) — `user` is the token principal, the
        // password plays no part. An ok reply carries empty auth bytes;
        // an error CHALLENGE (JSON) arrives as a *successful* round whose
        // auth bytes are non-empty — the client must answer the dummy
        // 0x01 response, and the next round fails typed (error 58)
        val token = KafkaWire.OAuth.unsecuredJwt(user,
          System.currentTimeMillis() / 1000L, lifetimeSec = 3600L)
        val reply = saslRound(KafkaWire.OAuth.initialResponse(token))
        if (reply != null && reply.nonEmpty) {
          saslRound(KafkaWire.OAuth.DummyResponse)
          // a server that answers the dummy response with success is
          // violating the RFC's failure flow — refuse the channel
          throw new KafkaServerErr(Err.SaslAuthenticationFailed,
            "OAUTHBEARER error challenge followed by acceptance: " +
              new String(reply, UTF_8))
        }
      case "GSSAPI" =>
        // RFC 4752 Kerberos v5 over KIP-152, via the JRE's own SASL/JGSS
        // stack (no library beyond the JDK): credentials come from the
        // ambient Kerberos environment — a kinit ticket cache or keytab
        // named by the standard krb5 system properties
        // (java.security.krb5.conf, javax.security.auth.useSubjectCredsOnly
        // =false to read the native ccache). `user`/`pass` play no part;
        // the principal is whoever the cache says. The service principal
        // is <service>/<host> with service from KAFKA_GSSAPI_SERVICE
        // (default "kafka" — the broker's sasl.kerberos.service.name).
        val service = sys.props.get("graft.kafka.gssapi.service")
          .orElse(sys.env.get("KAFKA_GSSAPI_SERVICE")).getOrElse("kafka")
        val sc = javax.security.sasl.Sasl.createSaslClient(
          Array("GSSAPI"), null, service, host,
          new java.util.HashMap[String, AnyRef](), null)
        if (sc == null)
          throw new KafkaServerErr(Err.SaslAuthenticationFailed,
            "no GSSAPI SaslClient available in this JRE")
        try {
          var resp: Array[Byte] =
            if (sc.hasInitialResponse) sc.evaluateChallenge(Array.empty)
            else Array.empty
          var rounds = 0
          while (!sc.isComplete) {
            rounds += 1
            if (rounds > 10)
              throw new KafkaServerErr(Err.SaslAuthenticationFailed,
                "GSSAPI negotiation did not converge")
            val challenge = saslRound(resp)
            resp =
              if (sc.isComplete) Array.empty
              else sc.evaluateChallenge(
                if (challenge == null) Array.empty else challenge)
          }
          // the security-layer acceptance token may complete client-side
          // with bytes still owed to the server
          if (resp != null && resp.nonEmpty) { saslRound(resp); () }
        } finally sc.dispose()
      case m => throw new IllegalArgumentException(
        s"unsupported SASL mechanism: $m")
    }
  }

  /** ApiVersions v0 → api_key -> (min, max). The bootstrap check: a broker
    * that doesn't list our pinned versions can't serve this client.
    */
  def apiVersions(): Map[Int, (Int, Int)] = {
    val r = call(Api.ApiVersions)(_ => ())
    val err = r.i16v()
    if (err != Err.None) fail(err, "ApiVersions")
    Seq.fill(r.arrayCount())((r.i16v(), (r.i16v(), r.i16v()))).toMap
  }

  /** Metadata v1 for named topics (auto-creates on this broker) →
    * topic -> partition ids. Unknown topics map to empty.
    */
  def metadata(topics: Seq[String]): Map[String, Seq[Int]] = {
    val r = call(Api.Metadata)(w => w.array(topics)((ww, t) => ww.str(t)))
    Seq.fill(r.arrayCount()) { // brokers
      r.i32(); r.str(); r.i32(); r.nullableStr()
    }
    r.i32() // controller_id
    Seq.fill(r.arrayCount()) {
      val err = r.i16v()
      val name = r.str()
      r.i8() // is_internal
      val parts = Seq.fill(r.arrayCount()) {
        r.i16v() // partition error
        val idx = r.i32()
        r.i32() // leader
        Seq.fill(r.arrayCount())(r.i32()) // replicas
        Seq.fill(r.arrayCount())(r.i32()) // isr
        idx
      }
      name -> (if (err == Err.None) parts.sorted else Seq.empty)
    }.toMap
  }

  /** ListOffsets v1 for one (topic, partition): timestamp -2 = earliest,
    * -1 = latest (next offset), else earliest offset with ts >= timestamp
    * (None when no such message). This is `offsets_for_times`, the seek
    * primitive (consumer.rs:464-494).
    */
  def listOffset(topic: String, partition: Int, timestamp: Long): Option[Long] = {
    val r = call(Api.ListOffsets) { w =>
      w.i32(-1) // replica_id: consumer
      w.array(Seq(topic)) { (ww, t) =>
        ww.str(t)
        ww.array(Seq(partition))((www, p) => www.i32(p).i64(timestamp))
      }
    }
    require(r.arrayCount() == 1, "ListOffsets: expected one topic")
    r.str()
    require(r.arrayCount() == 1, "ListOffsets: expected one partition")
    r.i32()
    val err = r.i16v()
    if (err != Err.None) fail(err, s"ListOffsets($topic/$partition)")
    r.i64() // matched timestamp
    val off = r.i64()
    if (off < 0) None else Some(off)
  }

  /** Latest (= next) offset per partition — the tip planning reads up to. */
  def latestOffsets(topic: String, partitions: Seq[Int]): Map[Int, Long] =
    partitions.map(p =>
      p -> listOffset(topic, p, KafkaWire.Ts.Latest).getOrElse(0L)).toMap

  /** Fetch v4 from one (topic, partition, offset) → (high watermark,
    * CRC-verified records). Empty when offset == high watermark.
    */
  def fetch(topic: String, partition: Int, offset: Long,
      maxBytes: Int = 1 << 20): (Long, Seq[KRecord]) = {
    val (end, _, recs) = fetchIso(topic, partition, offset, maxBytes,
      readCommitted = false)
    (end, recs)
  }

  /** [[fetch]] with the isolation knob and an explicit SCAN CURSOR:
    * returns (endOffset, nextOffset, records) where endOffset is the high
    * watermark (read_uncommitted) or the LAST STABLE OFFSET
    * (read_committed — nothing at/after an open transaction is readable),
    * and nextOffset is the offset AFTER the last batch served — the
    * position a pager must advance to even when every served record was
    * filtered out (aborted data, control markers): advancing by record
    * offsets alone would stall forever on an all-aborted page.
    * read_committed applies [[KafkaWire.filterCommitted]] over the
    * response's aborted-transaction index (KIP-98's consumer half).
    */
  def fetchIso(topic: String, partition: Int, offset: Long,
      maxBytes: Int = 1 << 20,
      readCommitted: Boolean = false): (Long, Long, Seq[KRecord]) = {
    val r = call(Api.Fetch) { w =>
      w.i32(-1)      // replica_id
      w.i32(0)       // max_wait_ms: don't block, micro-batch planning polls
      w.i32(1)       // min_bytes
      w.i32(maxBytes)
      w.i8(if (readCommitted) 1 else 0)
      w.array(Seq(topic)) { (ww, t) =>
        ww.str(t)
        ww.array(Seq(partition))((www, p) => www.i32(p).i64(offset).i32(maxBytes))
      }
    }
    r.i32() // throttle_time_ms
    require(r.arrayCount() == 1, "Fetch: expected one topic")
    r.str()
    require(r.arrayCount() == 1, "Fetch: expected one partition")
    r.i32()
    val err = r.i16v()
    val hw = r.i64()
    val lso = r.i64()
    val aborted = Seq.fill(r.arrayCount())((r.i64(), r.i64()))
    val recordSet = r.nullableBytes()
    if (err != Err.None) fail(err, s"Fetch($topic/$partition@$offset)")
    val batches = KafkaWire.decodeBatchesInfo(recordSet)
    val next = if (batches.isEmpty) offset
      else math.max(offset, batches.map(_.lastOffset).max + 1)
    val recs =
      if (readCommitted) KafkaWire.filterCommitted(batches, aborted)
      else batches.filterNot(_.control).flatMap(_.records)
    // batches re-deliver from their base offset; trim the pre-asked prefix
    // (a real broker returns whole batches containing the asked offset)
    (if (readCommitted) lso else hw, next,
      recs.dropWhile(_.offset < offset))
  }

  /** Produce v3 of one batch to one (topic, partition) → assigned base
    * offset. Record offsets are in-batch deltas (0..n-1); timestamps are
    * the caller's event times (create-time semantics).
    */
  def produce(topic: String, partition: Int,
      records: Seq[(Long, Array[Byte], Array[Byte])],
      codec: Int = KafkaWire.Codec.None): Long =
    produceBatch(topic, partition, records, codec, null, -1L, -1, -1)

  /** Transactional produce: the batch carries the producer's (pid, epoch,
    * baseSequence) and the KIP-98 transactional attribute bit, and the
    * request carries the transactional id — the broker fences stale
    * epochs (error 47) and refuses partitions not added to the txn (48).
    */
  def produceTxn(topic: String, partition: Int,
      records: Seq[(Long, Array[Byte], Array[Byte])],
      txnId: String, producerId: Long, producerEpoch: Int,
      baseSequence: Int, codec: Int = KafkaWire.Codec.None): Long =
    produceBatch(topic, partition, records, codec, txnId, producerId,
      producerEpoch, baseSequence)

  private def produceBatch(topic: String, partition: Int,
      records: Seq[(Long, Array[Byte], Array[Byte])], codec: Int,
      txnId: String, producerId: Long, producerEpoch: Int,
      baseSequence: Int): Long = {
    require(records.nonEmpty, "produce: empty batch")
    val batch = KafkaWire.encodeBatch(records.zipWithIndex.map {
      case ((tsMs, key, value), i) => KRecord(i.toLong, tsMs, key, value)
    }, codec, producerId, producerEpoch, baseSequence,
      transactional = txnId != null)
    val r = call(Api.Produce, batch.length + 128) { w =>
      w.nullableStr(txnId)
      w.i16(-1)           // acks = all
      w.i32(30000)        // timeout_ms
      w.array(Seq(topic)) { (ww, t) =>
        ww.str(t)
        ww.array(Seq(partition))((www, p) => www.i32(p).nullableBytes(batch))
      }
    }
    require(r.arrayCount() == 1, "Produce: expected one topic")
    r.str()
    require(r.arrayCount() == 1, "Produce: expected one partition")
    r.i32()
    val err = r.i16v()
    val base = r.i64()
    if (err != Err.None) fail(err, s"Produce($topic/$partition)")
    base
  }

  // ---- KIP-98 transactions (the reference producer's surface,
  //      producer.rs:236-301, spoken directly on the wire) ----

  /** InitProducerId v0 → (producerId, producerEpoch). Re-initializing an
    * existing transactional id bumps the epoch (fencing any zombie
    * incarnation) and aborts the transaction it left open.
    */
  def initProducerId(txnId: String,
      txnTimeoutMs: Int = 60000): (Long, Int) = {
    val r = call(Api.InitProducerId)(
      _.nullableStr(txnId).i32(txnTimeoutMs))
    r.i32() // throttle_time_ms
    val err = r.i16v()
    if (err != Err.None) fail(err, s"InitProducerId($txnId)")
    (r.i64(), r.i16v())
  }

  /** AddPartitionsToTxn v0: must precede any transactional produce to the
    * named partitions — the coordinator tracks what the markers must
    * cover at EndTxn.
    */
  def addPartitionsToTxn(txnId: String, producerId: Long,
      producerEpoch: Int, parts: Seq[(String, Int)]): Unit = {
    val byTopic = parts.groupBy(_._1).toSeq.sortBy(_._1)
    val r = call(Api.AddPartitionsToTxn) { w =>
      w.str(txnId).i64(producerId).i16(producerEpoch)
      w.array(byTopic) { case (ww, (topic, ps)) =>
        ww.str(topic)
        ww.array(ps)((www, tp) => www.i32(tp._2))
      }
    }
    r.i32() // throttle_time_ms
    Seq.fill(r.arrayCount()) {
      r.str()
      Seq.fill(r.arrayCount()) {
        val p = r.i32()
        val err = r.i16v()
        if (err != Err.None)
          fail(err, s"AddPartitionsToTxn($txnId, partition $p)")
      }
    }
    ()
  }

  /** AddOffsetsToTxn v0: registers a consumer group's offsets into the
    * transaction (the first half of send_offsets_to_transaction).
    */
  def addOffsetsToTxn(txnId: String, producerId: Long, producerEpoch: Int,
      group: String): Unit = {
    val r = call(Api.AddOffsetsToTxn)(
      _.str(txnId).i64(producerId).i16(producerEpoch).str(group))
    r.i32() // throttle_time_ms
    val err = r.i16v()
    if (err != Err.None) fail(err, s"AddOffsetsToTxn($txnId, $group)")
  }

  /** TxnOffsetCommit v0: stage group offsets under the transaction — they
    * publish at commit and vanish on abort (the second half of
    * send_offsets_to_transaction; the exactly-once consume-transform-
    * produce loop's read-position leg).
    */
  def txnOffsetCommit(txnId: String, group: String, producerId: Long,
      producerEpoch: Int, offsets: Map[(String, Int), Long]): Unit = {
    require(offsets.nonEmpty, "txnOffsetCommit: nothing to commit")
    val byTopic = offsets.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
    val r = call(Api.TxnOffsetCommit) { w =>
      w.str(txnId).str(group).i64(producerId).i16(producerEpoch)
      w.array(byTopic) { case (ww, (topic, ps)) =>
        ww.str(topic)
        ww.array(ps) { case (www, ((_, p), off)) =>
          www.i32(p).i64(off).nullableStr(null)
        }
      }
    }
    r.i32() // throttle_time_ms
    Seq.fill(r.arrayCount()) {
      r.str()
      Seq.fill(r.arrayCount()) {
        val p = r.i32()
        val err = r.i16v()
        if (err != Err.None)
          fail(err, s"TxnOffsetCommit($txnId, $group, partition $p)")
      }
    }
    ()
  }

  /** EndTxn v1: commit (true) or abort (false) the open transaction —
    * the broker writes the markers and settles the aborted index.
    */
  def endTxn(txnId: String, producerId: Long, producerEpoch: Int,
      commit: Boolean): Unit = {
    val r = call(Api.EndTxn)(
      _.str(txnId).i64(producerId).i16(producerEpoch)
        .i8(if (commit) 1 else 0))
    r.i32() // throttle_time_ms
    val err = r.i16v()
    if (err != Err.None)
      fail(err, s"EndTxn($txnId, commit=$commit)")
  }

  /** FindCoordinator v0 → the group's coordinating broker (this embedded
    * cluster has one broker, but the client walks the real flow).
    */
  def findCoordinator(group: String): (Int, String, Int) = {
    val r = call(Api.FindCoordinator)(_.str(group))
    val err = r.i16v()
    if (err != Err.None) fail(err, s"FindCoordinator($group)")
    (r.i32(), r.str(), r.i32())
  }

  /** OffsetCommit v2 of next-to-read offsets for a group (the standalone
    * commit: generation -1, empty member — the mode the reference's
    * `commit(stream, shard, seq)` maps to, consumer.rs:526-548).
    */
  def commitOffsets(group: String, offsets: Map[(String, Int), Long]): Unit = {
    require(offsets.nonEmpty, "commitOffsets: nothing to commit")
    val byTopic = offsets.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
    val r = call(Api.OffsetCommit) { w =>
      w.str(group)
      w.i32(-1)       // generation_id: standalone consumer
      w.str("")       // member_id
      w.i64(-1L)      // retention_time_ms: broker default
      w.array(byTopic) { case (ww, (topic, parts)) =>
        ww.str(topic)
        ww.array(parts) { case (www, ((_, p), off)) =>
          www.i32(p).i64(off).nullableStr(null)
        }
      }
    }
    Seq.fill(r.arrayCount()) {
      r.str()
      Seq.fill(r.arrayCount()) {
        val p = r.i32()
        val err = r.i16v()
        if (err != Err.None) fail(err, s"OffsetCommit($group, partition $p)")
      }
    }
    ()
  }

  /** OffsetFetch v1 → committed next-to-read offset per (topic, partition);
    * absent entries (offset -1 on the wire) are omitted.
    */
  def fetchOffsets(group: String,
      parts: Map[String, Seq[Int]]): Map[(String, Int), Long] = {
    val r = call(Api.OffsetFetch) { w =>
      w.str(group)
      w.array(parts.toSeq.sortBy(_._1)) { case (ww, (topic, ps)) =>
        ww.str(topic)
        ww.array(ps)((www, p) => www.i32(p))
      }
    }
    Seq.fill(r.arrayCount()) {
      val topic = r.str()
      Seq.fill(r.arrayCount()) {
        val p = r.i32()
        val off = r.i64()
        r.nullableStr()
        val err = r.i16v()
        if (err != Err.None) fail(err, s"OffsetFetch($group, $topic/$p)")
        (topic, p) -> off
      }
    }.flatten.filter(_._2 >= 0).toMap
  }

  override def close(): Unit = socket.close()
}
