package graft

import org.scalatest.funsuite.AnyFunSuite

/** Live-broker integration readiness — the reference's own gate
  * (sea-streamer-redis/tests/realtime.rs:4-8 runs only when the
  * `BROKERS_URL` env names a real endpoint; sea-streamer-kafka/tests/
  * consumer.rs likewise). Every other suite in this repo exercises the
  * wire paths against in-process embedded brokers; THIS one points the
  * same clients at real binaries the day one exists.
  *
  * Activation: set `BROKERS_URL` to a scheme-qualified endpoint
  * (`kafka://host:9092`, `redis://host:6379`, `iggy://host:8090`) — the
  * scheme picks which backend's test runs — or the per-backend overrides
  * `KAFKA_BROKERS_URL` / `REDIS_BROKERS_URL` / `IGGY_BROKERS_URL` (all
  * three may be set at once). `IGGY_USER`/`IGGY_PASSWORD` default to the
  * stock iggy/iggy. Without any of these the tests self-cancel (the
  * suite stays green in the zero-egress sandbox); with them, each test
  * is a k1/r1/i1-shaped produce → read-back round trip over a unique
  * per-run key, so re-runs against a dirty broker stay deterministic.
  *
  * Run: `BROKERS_URL=redis://localhost:6379 sbt "testOnly graft.LiveBrokerSpec"`.
  */
class LiveBrokerSpec extends AnyFunSuite {

  /** host:port for `scheme`, from the override var or a scheme-matching
    * BROKERS_URL (the reference's single-var convention). Empty vars are
    * as good as unset.
    */
  private def endpoint(scheme: String, overrideVar: String): Option[(String, Int)] = {
    val url = sys.env.get(overrideVar).filter(_.trim.nonEmpty).orElse(
      sys.env.get("BROKERS_URL").filter(_.startsWith(scheme + "://")))
    url.map { u =>
      assert(u.startsWith(scheme + "://"),
        s"$overrideVar must be $scheme://host:port, got $u")
      val hp = u.stripPrefix(scheme + "://").stripSuffix("/").split(":", 2)
      (hp(0), hp.lift(1).map(_.toInt).getOrElse(
        scheme match { case "kafka" => 9092; case "redis" => 6379
          case _ => 8090 }))
    }
  }

  private def uniqueKey(prefix: String): String =
    prefix + "_" + System.currentTimeMillis() + "_" +
      (scala.util.Random.nextInt(90000) + 10000)

  private val N = 10

  test("kafka: k1-shape roundtrip against a live broker (BROKERS_URL)") {
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live")
    val c = new kafka.KafkaClient(host, port)
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
      assert(parts.nonEmpty, s"broker did not auto-create/serve $topic " +
        "(set auto.create.topics.enable or pre-create it)")
      val p = parts.head
      val base = c.produce(topic, p,
        (0 until N).map(i => (1700000000000L + i, null: Array[Byte],
          s"live-$i".getBytes("UTF-8"))))
      val (_, recs) = c.fetch(topic, p, base)
      assert(recs.take(N).map(r => new String(r.value, "UTF-8")) ==
        (0 until N).map(i => s"live-$i"))
      // the seek law holds on a real broker too: first ts >= target
      assert(c.listOffset(topic, p, 1700000000005L).contains(base + 5))
    } finally c.close()
  }

  test("kafka: k6-shape transactions against a live broker (BROKERS_URL)") {
    // the txn surface is the least embedded-validated part of the wire
    // driver — the day a real Apache broker exists, this closes the
    // KIP-98 gap end-to-end: commit visible, abort invisible under
    // read_committed, markers skipped
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live_txn")
    val c = new kafka.KafkaClient(host, port)
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
      assume(parts.nonEmpty, s"broker did not auto-create $topic")
      val p = parts.head
      val good = new kafka.KafkaTxnProducer(c, topic + "-good")
        .initTransactions()
      val bad = new kafka.KafkaTxnProducer(c, topic + "-bad")
        .initTransactions()
      bad.begin()
      bad.send(topic, p, Seq((1L, null, "poison".getBytes("UTF-8"))))
      bad.abort()
      good.begin()
      good.send(topic, p, Seq((2L, null, "real".getBytes("UTF-8"))))
      good.commit()
      val (_, _, rc) = c.fetchIso(topic, p, 0L, readCommitted = true)
      assert(rc.map(r => new String(r.value, "UTF-8")) == Seq("real"),
        s"read_committed leaked: ${rc.map(r => new String(r.value, "UTF-8"))}")
      // read_uncommitted sees both data records (control rows never)
      val (_, ru) = c.fetch(topic, p, 0L)
      assert(ru.map(r => new String(r.value, "UTF-8")) ==
        Seq("poison", "real"))
    } finally c.close()
  }

  test("kafka: k2-shape seek against a live broker — offsets_for_times " +
      "returns the first offset at/after the target, strict-suffix law") {
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live_seek")
    val c = new kafka.KafkaClient(host, port)
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
      assume(parts.nonEmpty, s"broker did not auto-create $topic")
      val p = parts.head
      val t0 = 1700000000000L
      val base = c.produce(topic, p,
        (0 until N).map(i => (t0 + 10L * i, null: Array[Byte],
          s"seek-$i".getBytes("UTF-8"))))
      // the facade's strict `>` law pushes ms+1 into offsets_for_times:
      // target BETWEEN records → next record; ON a record → that record
      assert(c.listOffset(topic, p, t0 + 45L + 1L).contains(base + 5),
        "seek between records must land on the next record")
      assert(c.listOffset(topic, p, t0 + 50L + 1L).contains(base + 6),
        "strictly-greater seek on an exact timestamp must skip it")
      assert(c.listOffset(topic, p, t0 + 10L * N).isEmpty,
        "seek past the tip must answer no-offset, not the tip")
      // earliest/latest sentinels agree with the produced extent
      assert(c.listOffset(topic, p, kafka.KafkaWire.Ts.Earliest)
        .contains(base))
      assert(c.listOffset(topic, p, kafka.KafkaWire.Ts.Latest)
        .contains(base + N))
      // and the sought fetch yields exactly the strict suffix
      val (_, recs) = c.fetch(topic, p, base + 6)
      assert(recs.map(r => new String(r.value, "UTF-8")) ==
        (6 until N).map(i => s"seek-$i"))
    } finally c.close()
  }

  test("kafka: k4-shape group commit/resume against a live broker") {
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live_grp")
    val group = topic + "_g"
    val c = new kafka.KafkaClient(host, port)
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
      assume(parts.nonEmpty, s"broker did not auto-create $topic")
      val p = parts.head
      val base = c.produce(topic, p,
        (0 until N).map(i => (1700000000000L + i, null: Array[Byte],
          s"grp-$i".getBytes("UTF-8"))))
      // a prior member committed mid-stream; a resuming member must read
      // exactly the suffix from the committed point
      c.findCoordinator(group)
      c.commitOffsets(group, Map((topic, p) -> (base + 4)))
      val committed = c.fetchOffsets(group, Map(topic -> Seq(p)))
      assert(committed.get((topic, p)).contains(base + 4),
        s"commit did not round-trip: $committed")
      val (_, recs) = c.fetch(topic, p, committed((topic, p)))
      assert(recs.map(r => new String(r.value, "UTF-8")) ==
        (4 until N).map(i => s"grp-$i"))
      // an uncommitted group reads as absent, never as zero
      assert(c.fetchOffsets(group + "_none", Map(topic -> Seq(p))).isEmpty)
    } finally c.close()
  }

  test("kafka: k5-shape zstd produce/fetch against a live broker") {
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live_zstd")
    val c = new kafka.KafkaClient(host, port)
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
      assume(parts.nonEmpty, s"broker did not auto-create $topic")
      val p = parts.head
      // compressible payloads so a broker-side recompression mismatch or
      // CRC-over-compressed-records bug would corrupt visibly
      val payloads = (0 until N).map(i => ("z" * 100 + s"|$i").getBytes("UTF-8"))
      val base = c.produce(topic, p,
        payloads.zipWithIndex.map { case (v, i) =>
          (1700000000000L + i, null: Array[Byte], v) },
        kafka.KafkaWire.Codec.Zstd)
      val (_, recs) = c.fetch(topic, p, base)
      assert(recs.map(r => new String(r.value, "UTF-8")) ==
        payloads.map(new String(_, "UTF-8")),
        "zstd round trip corrupted payloads")
    } finally c.close()
  }

  test("kafka: k8-shape offsets-in-txn against a live broker — the EOS " +
      "sink's ledger publishes at commit, vanishes on abort, fences") {
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live_eos")
    val ledger = topic + "-ledger"
    val group = topic + "_g"
    val c = new kafka.KafkaClient(host, port)
    try {
      val parts = c.metadata(Seq(topic, ledger)).getOrElse(topic, Seq.empty)
      assume(parts.nonEmpty, s"broker did not auto-create $topic")
      val p = parts.head
      c.findCoordinator(group)
      // epoch 0: produce + stage watermark, ABORT — neither visible
      val w = new kafka.KafkaTxnProducer(c, topic + "-w0").initTransactions()
      w.begin()
      w.send(topic, p, Seq((1L, null, "torn".getBytes("UTF-8"))))
      w.sendOffsetsToTransaction(group, Map((ledger, 0) -> 1L))
      w.abort()
      assert(c.fetchOffsets(group, Map(ledger -> Seq(0))).isEmpty,
        "aborted txn leaked its staged watermark")
      // epoch 0 replay: produce + stage + COMMIT — both visible atomically
      w.begin()
      w.send(topic, p, Seq((2L, null, "real".getBytes("UTF-8"))))
      w.sendOffsetsToTransaction(group, Map((ledger, 0) -> 1L))
      w.commit()
      assert(c.fetchOffsets(group, Map(ledger -> Seq(0)))
        .get((ledger, 0)).contains(1L), "committed watermark missing")
      val (_, _, rc) = c.fetchIso(topic, p, 0L, readCommitted = true)
      assert(rc.map(r => new String(r.value, "UTF-8")) == Seq("real"),
        "read_committed view diverged from exactly-once truth")
      // restart fencing: a new incarnation bumps the epoch; the zombie dies
      val w2 = new kafka.KafkaTxnProducer(c, topic + "-w0").initTransactions()
      w2.begin()
      val err = intercept[kafka.KafkaClient#KafkaServerErr] {
        w.begin(); w.send(topic, p, Seq((3L, null, "stale".getBytes("UTF-8"))))
      }
      assert(err.code == kafka.KafkaWire.Err.InvalidProducerEpoch ||
        err.code == kafka.KafkaWire.Err.InvalidTxnState,
        s"zombie produce must die fenced, got $err")
      w2.abort()
    } finally c.close()
  }

  test("kafka: GSSAPI readiness against a kerberized broker " +
      "(KAFKA_GSSAPI_BROKERS_URL + ambient krb5 credentials)") {
    // the one §2 component the sandbox cannot validate (no KDC): the
    // moment a kerberized listener + kinit cache exist, this leg runs the
    // full RFC 4752 bid (JRE JGSS) and a k1-shape roundtrip through it.
    // Requires java.security.krb5.conf (or KRB5_CONFIG) and
    // -Djavax.security.auth.useSubjectCredsOnly=false for a native ccache.
    val ep = endpoint("kafka", "KAFKA_GSSAPI_BROKERS_URL")
    assume(ep.isDefined, "no kerberized kafka broker configured — skipping")
    val (host, port) = ep.get
    val topic = uniqueKey("graft_live_gss")
    val c = new kafka.KafkaClient(host, port,
      sasl = Some(("", "")), saslMechanism = "GSSAPI")
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
      assume(parts.nonEmpty, s"broker did not auto-create $topic")
      val p = parts.head
      val base = c.produce(topic, p,
        (0 until N).map(i => (1700000000000L + i, null: Array[Byte],
          s"gss-$i".getBytes("UTF-8"))))
      val (_, recs) = c.fetch(topic, p, base)
      assert(recs.take(N).map(r => new String(r.value, "UTF-8")) ==
        (0 until N).map(i => s"gss-$i"))
    } finally c.close()
  }

  test("redis: r1-shape roundtrip against a live broker (BROKERS_URL)") {
    val ep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(ep.isDefined, "no live redis broker configured — skipping")
    val (host, port) = ep.get
    val key = uniqueKey("graft_live")
    val c = new redis.RedisClient(host, port)
    try {
      (0 until N).foreach { i =>
        c.command(redis.RedisStreams.xadd(key, 1700000000000L + i,
          s"live-$i".getBytes("UTF-8")): _*)
      }
      val got = redis.RedisClient.retrying() {
        c.command(redis.RedisStreams.xrange(key): _*)
      }
      val entries = got match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(entries.length == N, s"wrote $N, read ${entries.length}")
      // cleanup so re-runs don't accumulate on the live instance (XTRIM
      // MAXLEN 0 — the stream-native form; DEL isn't guaranteed here)
      c.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
    } finally c.close()
  }

  test("redis: XADD id-fidelity against a live broker — the EXACT " +
      "semantics the round-16 hardening bakes into every EOS writer: " +
      "at/below-top refusal (verbatim error), equal-ms sub-seq bump, " +
      "bare-ms acceptance, malformed-id reply, and a WATCH on the DATA " +
      "key nil'ing an EXEC when a foreign XADD lands in the window") {
    val ep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(ep.isDefined, "no live redis broker configured — skipping")
    val (host, port) = ep.get
    val key = uniqueKey("graft_live_fid")
    val c = new redis.RedisClient(host, port)
    val w = new redis.RedisClient(host, port)
    def xaddRaw(id: String): Either[String, String] =
      try c.command(Seq("XADD", key, id, "msg", "v")
        .map(_.getBytes("UTF-8")): _*) match {
        case redis.Resp.Bulk(bs) => Right(new String(bs, "UTF-8"))
        case other => Left(other.toString)
      }
      catch { case e: redis.RedisClient.RedisError => Left(e.msg) }
    try {
      assert(xaddRaw("5-3") == Right("5-3"))
      // refusal class: below-ms, equal, below-seq, and `<ms>-*` below —
      // the floor/WATCH machinery in every redis-destination writer
      // assumes exactly this behavior from the real broker
      Seq("4-9", "5-3", "5-2", "4-*").foreach { id =>
        xaddRaw(id) match {
          case Left(m) => assert(
            m.contains("equal or smaller than the target stream top item"),
            s"XADD $id: unexpected refusal text '$m'")
          case Right(got) => fail(s"XADD $id must refuse, appended $got")
        }
      }
      assert(xaddRaw("5-*") == Right("5-4"), "equal-ms must bump sub-seq")
      assert(xaddRaw("7") == Right("7-0"), "bare ms must read as <ms>-0")
      xaddRaw("7-abc") match {
        case Left(m) => assert(m.toLowerCase.contains("invalid"), m)
        case Right(got) => fail(s"malformed id appended $got")
      }
      // the connection survived every refusal (reply, never a drop)
      assert(xaddRaw("8-0") == Right("8-0"))
      // WATCH on the DATA key: a foreign XADD between the floor read and
      // EXEC must nil the transaction — the silent-loss window every
      // round-16 writer closes rides on this exact broker behavior
      c.command(redis.RedisStreams.watch(key): _*)
      c.command(redis.RedisStreams.xrevrangeTip(key): _*) // the floor read
      w.command(redis.RedisStreams.xadd(key, 9000L,
        "foreign".getBytes("UTF-8")): _*)
      c.command(redis.RedisStreams.multi: _*)
      c.command(redis.RedisStreams.xadd(key, 9500L,
        "mine".getBytes("UTF-8")): _*)
      assert(c.command(redis.RedisStreams.exec: _*) == redis.Resp.NullArr,
        "a foreign XADD on the watched data key must nil the EXEC")
      // and the clean retry lands
      c.command(redis.RedisStreams.watch(key): _*)
      c.command(redis.RedisStreams.multi: _*)
      c.command(redis.RedisStreams.xadd(key, 9500L,
        "mine".getBytes("UTF-8")): _*)
      assert(c.command(redis.RedisStreams.exec: _*)
        .isInstanceOf[redis.Resp.Arr], "the uncontended retry must land")
      c.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
    } finally { c.close(); w.close() }
  }

  test("redis: r6-shape consumer-group create/read/ack/resume against a " +
      "live broker") {
    val ep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(ep.isDefined, "no live redis broker configured — skipping")
    val (host, port) = ep.get
    val stream = uniqueKey("graft_live_grp")
    val group = "g1"
    val key = redis.RedisStreams.shardedKey(stream, 0L, sharded = false)
    val c = new redis.RedisClient(host, port)
    val c1 = new redis.RedisGroupConsumer(host, port, stream, 0L,
      sharded = false, group, "c1")
    val c2 = new redis.RedisGroupConsumer(host, port, stream, 0L,
      sharded = false, group, "c2")
    try {
      (0 until N).foreach { i =>
        c.command(redis.RedisStreams.xadd(key, 1700000000000L + i,
          s"grp-$i".getBytes("UTF-8")): _*)
      }
      c1.create()
      val first = c1.fetch(4)
      assert(first.length == 4, s"first member read ${first.length}/4")
      assert(c1.ack(first) == 4L, "XACK settled fewer than delivered")
      // a SECOND member resumes at the group cursor: the remaining
      // suffix, nothing re-delivered
      val rest = c2.fetch(N)
      assert(rest.length == N - 4,
        s"resume read ${rest.length}, expected ${N - 4}")
      assert((first ++ rest).map(_.id).distinct.length == N,
        "group delivery lost or duplicated entries")
      c.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
    } finally { c1.close(); c2.close(); c.close() }
  }

  test("redis: r8-shape MULTI/EXEC exactly-once against a live broker — " +
      "queued-then-dropped applies nothing, EXEC applies entries + " +
      "watermark atomically") {
    val ep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(ep.isDefined, "no live redis broker configured — skipping")
    val (host, port) = ep.get
    val key = uniqueKey("graft_live_eos")
    val ledger = key + ":ledger"
    val c = new redis.RedisClient(host, port)
    try {
      // a queued-but-dropped MULTI must apply nothing (the crash window)
      val dying = new redis.RedisClient(host, port)
      dying.command(redis.RedisStreams.multi: _*)
      dying.command(redis.RedisStreams.xadd(key, 1700000000000L,
        "torn".getBytes("UTF-8")): _*)
      dying.close()
      // entries + watermark land atomically at EXEC
      c.command(redis.RedisStreams.multi: _*)
      (0 until N).foreach { i =>
        c.command(redis.RedisStreams.xadd(key, 1700000000000L + i,
          s"eos-$i".getBytes("UTF-8")): _*)
      }
      c.command(redis.RedisStreams.set(ledger, "1"): _*)
      c.command(redis.RedisStreams.exec: _*) match {
        case redis.Resp.Arr(rs) => assert(rs.length == N + 1)
        case other => fail(s"EXEC reply: $other")
      }
      val got = c.command(redis.RedisStreams.xrange(key): _*) match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(got.length == N, s"dropped-queue leak or lost EXEC entries: " +
        s"${got.length} (want $N, torn must be absent)")
      assert(c.command(redis.RedisStreams.get(ledger): _*) match {
        case redis.Resp.Bulk(bs) => new String(bs, "UTF-8") == "1"
        case _ => false
      }, "watermark did not publish with the entries")
      c.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
      // cleanup on a real instance; the embedded stand-in has no DEL
      try { c.commandS("DEL", ledger); () }
      catch { case _: redis.RedisClient.RedisError => () }
    } finally c.close()
  }

  test("redis: cluster-routed reads against a live cluster " +
      "(REDIS_CLUSTER_BROKERS_URL) — CRC16 slots + MOVED redirects") {
    // the embedded two-node cluster spec proves the routing logic; this
    // leg points the same client at a real cluster, where slot ownership,
    // MOVED storms during resharding, and hash tags are the broker's
    val url = sys.env.get("REDIS_CLUSTER_BROKERS_URL").filter(_.trim.nonEmpty)
    assume(url.isDefined, "no live redis cluster configured — skipping")
    val seeds = url.get.stripPrefix("redis://").split(",").toSeq.map { s =>
      val hp = s.split(":", 2)
      (hp(0), hp.lift(1).map(_.toInt).getOrElse(6379))
    }
    val c = new redis.RedisClusterClient(seeds)
    try {
      // keys chosen to land in DIFFERENT slots (no hash tag), so at least
      // two nodes serve when the cluster has >1 master
      val keys = (0 until 8).map(i => uniqueKey(s"graft_live_cl$i"))
      keys.zipWithIndex.foreach { case (k, i) =>
        c.command(k, redis.RedisStreams.xadd(k, 1700000000000L + i,
          s"cl-$i".getBytes("UTF-8")): _*)
      }
      keys.zipWithIndex.foreach { case (k, i) =>
        val got = c.command(k, redis.RedisStreams.xrange(k): _*)
        val entries = got match {
          case redis.Resp.Arr(items) => items
          case other => fail(s"unexpected XRANGE reply for $k: $other")
        }
        assert(entries.length == 1, s"$k round trip lost the entry")
      }
      keys.foreach(k =>
        c.command(k, redis.RedisStreams.xtrimMaxLen(k, 0): _*))
    } finally c.close()
  }

  test("redis: cluster-sharded exactly-once key-transaction against a " +
      "live cluster — the {hash-tagged} ledger co-slots with its key, " +
      "WATCH fences a rival attempt, replay skips") {
    val url = sys.env.get("REDIS_CLUSTER_BROKERS_URL").filter(_.trim.nonEmpty)
    assume(url.isDefined, "no live redis cluster configured — skipping")
    val seeds = url.get.stripPrefix("redis://").split(",").toSeq.map { s =>
      val hp = s.split(":", 2)
      (hp(0), hp.lift(1).map(_.toInt).getOrElse(6379))
    }
    val key = uniqueKey("graft_live_ceos")
    val ledger = s"graft_ceos:{$key}"
    assert(redis.RedisCluster.hashSlot(ledger) ==
      redis.RedisCluster.hashSlot(key),
      "braced tag must put the ledger in its key's slot")
    val cc = new redis.RedisClusterClient(seeds)
    try {
      try cc.bootstrapSlots()
      catch { case scala.util.control.NonFatal(_) => () }
      val conn = cc.connectionFor(key)
      // epoch 0 commits entries + ledger atomically on the owner node
      assert(redis.RedisSource.commitSlotEpoch(conn, ledger, 0L,
        Iterator.tabulate(N)(i => redis.RedisStreams.xadd(key,
          1700000000000L + i, s"ce-$i".getBytes("UTF-8")))))
      // replay of the committed epoch skips
      assert(!redis.RedisSource.commitSlotEpoch(conn, ledger, 0L,
        Iterator.single(redis.RedisStreams.xadd(key, 1700000001000L,
          "dup".getBytes("UTF-8")))))
      // rival fence on epoch 1: a second connection watches + queues
      // first, the winner commits, the rival's EXEC must nil out
      val (rh, rp) = cc.routeFor(key)
      val rival = new redis.RedisClient(rh, rp)
      try {
        rival.command(redis.RedisStreams.watch(ledger): _*)
        rival.command(redis.RedisStreams.get(ledger): _*)
        rival.command(redis.RedisStreams.multi: _*)
        rival.command(redis.RedisStreams.xadd(key, 1700000002000L,
          "rival".getBytes("UTF-8")): _*)
        assert(redis.RedisSource.commitSlotEpoch(conn, ledger, 1L,
          Iterator.single(redis.RedisStreams.xadd(key, 1700000003000L,
            "e1".getBytes("UTF-8")))))
        rival.command(redis.RedisStreams.set(ledger, "2"): _*)
        assert(rival.command(redis.RedisStreams.exec: _*) ==
          redis.Resp.NullArr, "rival EXEC must nil out after the fence")
      } finally rival.close()
      val got = conn.command(redis.RedisStreams.xrange(key): _*) match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(got.length == N + 1,
        s"expected $N + 1 entries (no dup/rival), got ${got.length}")
      conn.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
      try { conn.commandS("DEL", ledger); () }
      catch { case _: redis.RedisClient.RedisError => () }
    } finally cc.close()
  }

  test("kafka→redis: r10-shape destination-anchored exactly-once relay " +
      "against BOTH live brokers — offsets-in-redis, atomic with entries") {
    val kep = endpoint("kafka", "KAFKA_BROKERS_URL")
    val rep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(kep.isDefined && rep.isDefined,
      "needs BOTH a live kafka and a live redis broker — skipping")
    val (kh, kp) = kep.get
    val (rh, rp) = rep.get
    val topic = uniqueKey("graft_live_r10")
    val prefix = uniqueKey("graft_r10led")
    val kc = new kafka.KafkaClient(kh, kp)
    val rc = new redis.RedisClient(rh, rp)
    try {
      kc.metadata(Seq(topic))
      (0 until N).foreach(i => kc.produce(topic, 0,
        Seq((1700000000000L + i, null, s"r10-$i".getBytes("UTF-8")))))
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.KafkaRelaySource(kh, kp, Seq(topic)),
        eos.RedisLedgerDestination(rh, rp, prefix, _ => topic + "_dst"))
      assert(moved == N, s"relayed $moved, want $N")
      // idempotent off the redis ledger alone
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.KafkaRelaySource(kh, kp, Seq(topic)),
        eos.RedisLedgerDestination(rh, rp, prefix,
          _ => topic + "_dst")) == 0L)
      val key = redis.RedisStreams
        .shardedKey(topic + "_dst", 0L, sharded = true)
      val got = rc.command(redis.RedisStreams.xrange(key): _*) match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(got.length == N, s"relay landed ${got.length}, want $N")
      rc.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
      try { rc.commandS("DEL", s"$prefix:{$topic/0}"); () }
      catch { case _: redis.RedisClient.RedisError => () }
    } finally { kc.close(); rc.close() }
  }

  test("redis→kafka: k11-shape exactly-once ingest against BOTH live " +
      "brokers — the packed redis cursor rides the kafka transaction's " +
      "group-offset staging") {
    val kep = endpoint("kafka", "KAFKA_BROKERS_URL")
    val rep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(kep.isDefined && rep.isDefined,
      "needs BOTH a live kafka and a live redis broker — skipping")
    val (kh, kp) = kep.get
    val (rh, rp) = rep.get
    val stream = uniqueKey("graft_live_k11")
    val group = uniqueKey("graft_k11g")
    val kc = new kafka.KafkaClient(kh, kp)
    val rc = new redis.RedisClient(rh, rp)
    try {
      val key = redis.RedisStreams.shardedKey(stream, 0L, sharded = true)
      (0 until N).foreach(i => rc.command(redis.RedisStreams.xadd(
        key, 1700000000000L + i, s"k11-$i".getBytes("UTF-8")): _*))
      kc.metadata(Seq(stream + "_dst")) // auto-create the destination
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.RedisRelaySource(rh, rp, Seq((stream, 0L))),
        eos.KafkaTxnDestination(kh, kp, group, uniqueKey("k11txn"),
          _ => stream + "_dst"))
      assert(moved == N, s"ingested $moved, want $N")
      // idempotent off the staged group offset alone
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.RedisRelaySource(rh, rp, Seq((stream, 0L))),
        eos.KafkaTxnDestination(kh, kp, group, uniqueKey("k11txn2"),
          _ => stream + "_dst")) == 0L)
      val got = kc.fetchIso(stream + "_dst", 0, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
      assert(got == (0 until N).map(i => s"k11-$i"),
        s"ingest lost, duplicated, or reordered: $got")
      rc.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
    } finally { kc.close(); rc.close() }
  }

  test("redis→redis: r11-shape exactly-once pump against a live broker — " +
      "destination-ledger cursor, atomic with entries") {
    val ep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(ep.isDefined, "no live redis broker configured — skipping")
    val (host, port) = ep.get
    val stream = uniqueKey("graft_live_r11")
    val prefix = uniqueKey("graft_r11led")
    val rc = new redis.RedisClient(host, port)
    try {
      val srcKey = redis.RedisStreams.shardedKey(stream, 0L, sharded = true)
      (0 until N).foreach(i => rc.command(redis.RedisStreams.xadd(
        srcKey, 1700000000000L + i, s"r11-$i".getBytes("UTF-8")): _*))
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.RedisRelaySource(host, port, Seq((stream, 0L))),
        eos.RedisLedgerDestination(host, port, prefix, _ + "_mirror"))
      assert(moved == N, s"pumped $moved, want $N")
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.RedisRelaySource(host, port, Seq((stream, 0L))),
        eos.RedisLedgerDestination(host, port, prefix, _ + "_mirror")) == 0L,
        "a drained source must pump nothing")
      val dstKey = redis.RedisStreams
        .shardedKey(stream + "_mirror", 0L, sharded = true)
      val got = rc.command(redis.RedisStreams.xrange(dstKey): _*) match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(got.length == N, s"pump landed ${got.length}, want $N")
      Seq(srcKey, dstKey).foreach(k =>
        rc.command(redis.RedisStreams.xtrimMaxLen(k, 0): _*))
      try { rc.commandS("DEL", s"$prefix:{$stream/0}"); () }
      catch { case _: redis.RedisClient.RedisError => () }
    } finally rc.close()
  }

  test("file→kafka: k12-shape exactly-once ship against a live broker — " +
      "the frame-exact byte cursor stages in the kafka transaction") {
    val ep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(ep.isDefined, "no live kafka broker configured — skipping")
    val (host, port) = ep.get
    val stream = uniqueKey("graft_live_k12")
    val group = uniqueKey("graft_k12g")
    val dir = java.nio.file.Files.createTempDirectory("livek12")
      .toFile.getAbsolutePath
    val w = new ss.SsWriter(
      new java.io.FileOutputStream(s"$dir/live.ss"), "live.ss", 1024, 0L)
    (0 until N).foreach(i => w.write(core.SeaMessage(stream, 0L, i.toLong,
      new java.sql.Timestamp(1700000000000L + i),
      s"k12-$i".getBytes("UTF-8"))))
    w.close()
    val kc = new kafka.KafkaClient(host, port)
    try {
      kc.metadata(Seq(stream + "_dst"))
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.FileRelaySource(Seq(s"$dir/live.ss"), 64L << 20, Some(4)),
        eos.KafkaTxnDestination(host, port, group, uniqueKey("k12txn"),
          _ => stream + "_dst"))
      assert(moved == N, s"shipped $moved, want $N")
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.FileRelaySource(Seq(s"$dir/live.ss"), 64L << 20, Some(4)),
        eos.KafkaTxnDestination(host, port, group, uniqueKey("k12txn2"),
          _ => stream + "_dst")) == 0L,
        "a drained file must ship nothing")
      val got = kc.fetchIso(stream + "_dst", 0, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
      assert(got == (0 until N).map(i => s"k12-$i"),
        s"ship lost, duplicated, or reordered: $got")
    } finally kc.close()
  }

  test("file→redis: r12-shape exactly-once ship against a live broker — " +
      "byte cursor in a WATCH-fenced destination ledger") {
    val ep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(ep.isDefined, "no live redis broker configured — skipping")
    val (host, port) = ep.get
    val stream = uniqueKey("graft_live_r12")
    val prefix = uniqueKey("graft_r12led")
    val dir = java.nio.file.Files.createTempDirectory("liver12")
      .toFile.getAbsolutePath
    val w = new ss.SsWriter(
      new java.io.FileOutputStream(s"$dir/live.ss"), "live.ss", 1024, 0L)
    (0 until N).foreach(i => w.write(core.SeaMessage(stream, 0L, i.toLong,
      new java.sql.Timestamp(1700000000000L + i),
      s"r12-$i".getBytes("UTF-8"))))
    w.close()
    val rc = new redis.RedisClient(host, port)
    try {
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.FileRelaySource(Seq(s"$dir/live.ss"), 64L << 20),
        eos.RedisLedgerDestination(host, port, prefix, identity))
      assert(moved == N, s"shipped $moved, want $N")
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.FileRelaySource(Seq(s"$dir/live.ss"), 64L << 20),
        eos.RedisLedgerDestination(host, port, prefix, identity)) == 0L)
      val key = redis.RedisStreams.shardedKey(stream, 0L, sharded = true)
      val got = rc.command(redis.RedisStreams.xrange(key): _*) match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(got.length == N, s"ship landed ${got.length}, want $N")
      rc.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
      try { rc.commandS("DEL", s"$prefix:{live.ss}"); () }
      catch { case _: redis.RedisClient.RedisError => () }
    } finally rc.close()
  }

  test("iggy→kafka: i5-shape exactly-once relay against BOTH live " +
      "brokers — the dense offset cursor stages in the kafka transaction") {
    val iep = endpoint("iggy", "IGGY_BROKERS_URL")
    val kep = endpoint("kafka", "KAFKA_BROKERS_URL")
    assume(iep.isDefined && kep.isDefined,
      "needs BOTH a live iggy and a live kafka broker — skipping")
    val (ih, ip) = iep.get
    val (kh, kp) = kep.get
    val topic = uniqueKey("graft_live_i5")
    val group = uniqueKey("graft_i5g")
    val (iu, ipw) = (sys.env.getOrElse("IGGY_USER", "iggy"),
      sys.env.getOrElse("IGGY_PASSWORD", "iggy"))
    val ic = new iggy.IggyClient(ih, ip, username = iu, password = ipw)
    val kc = new kafka.KafkaClient(kh, kp)
    try {
      ic.createStreamIfAbsent("graft")
      ic.createTopicIfAbsent("graft", topic, 1)
      (0 until N).foreach(i => ic.sendMessages("graft", topic,
        iggy.IggyWire.Partitioning.PartitionId(0),
        Seq((1700000000000L + i, s"i5-$i".getBytes("UTF-8")))))
      kc.metadata(Seq(topic + "_dst"))
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.IggyRelaySource(ih, ip, "graft", Seq(topic), auth = (iu, ipw)),
        eos.KafkaTxnDestination(kh, kp, group, uniqueKey("i5txn"),
          _ + "_dst"))
      assert(moved == N, s"relayed $moved, want $N")
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.IggyRelaySource(ih, ip, "graft", Seq(topic), auth = (iu, ipw)),
        eos.KafkaTxnDestination(kh, kp, group, uniqueKey("i5txn2"),
          _ + "_dst")) == 0L)
      val got = kc.fetchIso(topic + "_dst", 0, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
      assert(got == (0 until N).map(i => s"i5-$i"),
        s"relay lost, duplicated, or reordered: $got")
    } finally { ic.close(); kc.close() }
  }

  test("iggy→redis: i6-shape exactly-once relay against BOTH live " +
      "brokers — offset cursor in a WATCH-fenced destination ledger") {
    val iep = endpoint("iggy", "IGGY_BROKERS_URL")
    val rep = endpoint("redis", "REDIS_BROKERS_URL")
    assume(iep.isDefined && rep.isDefined,
      "needs BOTH a live iggy and a live redis broker — skipping")
    val (ih, ip) = iep.get
    val (rh, rp) = rep.get
    val topic = uniqueKey("graft_live_i6")
    val prefix = uniqueKey("graft_i6led")
    val (iu, ipw) = (sys.env.getOrElse("IGGY_USER", "iggy"),
      sys.env.getOrElse("IGGY_PASSWORD", "iggy"))
    val ic = new iggy.IggyClient(ih, ip, username = iu, password = ipw)
    val rc = new redis.RedisClient(rh, rp)
    try {
      ic.createStreamIfAbsent("graft")
      ic.createTopicIfAbsent("graft", topic, 1)
      (0 until N).foreach(i => ic.sendMessages("graft", topic,
        iggy.IggyWire.Partitioning.PartitionId(0),
        Seq((1700000000000L + i, s"i6-$i".getBytes("UTF-8")))))
      val moved = eos.RelayDriver.all(graft.TestSession.spark,
        eos.IggyRelaySource(ih, ip, "graft", Seq(topic), auth = (iu, ipw)),
        eos.RedisLedgerDestination(rh, rp, prefix, _ => topic))
      assert(moved == N, s"relayed $moved, want $N")
      assert(eos.RelayDriver.all(graft.TestSession.spark,
        eos.IggyRelaySource(ih, ip, "graft", Seq(topic), auth = (iu, ipw)),
        eos.RedisLedgerDestination(rh, rp, prefix, _ => topic)) == 0L)
      val key = redis.RedisStreams.shardedKey(topic, 0L, sharded = true)
      val got = rc.command(redis.RedisStreams.xrange(key): _*) match {
        case redis.Resp.Arr(items) => items
        case other => fail(s"unexpected XRANGE reply: $other")
      }
      assert(got.length == N, s"relay landed ${got.length}, want $N")
      rc.command(redis.RedisStreams.xtrimMaxLen(key, 0): _*)
      try { rc.commandS("DEL", s"$prefix:{$topic/0}"); () }
      catch { case _: redis.RedisClient.RedisError => () }
    } finally { ic.close(); rc.close() }
  }

  test("iggy: i1-shape roundtrip against a live broker (BROKERS_URL)") {
    val ep = endpoint("iggy", "IGGY_BROKERS_URL")
    assume(ep.isDefined, "no live iggy broker configured — skipping")
    val (host, port) = ep.get
    val stream = uniqueKey("graft_live")
    val c = new iggy.IggyClient(host, port,
      sys.env.getOrElse("IGGY_USER", "iggy"),
      sys.env.getOrElse("IGGY_PASSWORD", "iggy"))
    try {
      c.createStreamIfAbsent(stream)
      c.createTopicIfAbsent(stream, "t", partitions = 1)
      c.sendMessages(stream, "t", graft.iggy.IggyWire.Partitioning.PartitionId(0),
        (0 until N).map(i => (1700000000000L + i,
          s"live-$i".getBytes("UTF-8"))))
      val (_, msgs) = c.pollMessages(stream, "t", 0,
        graft.iggy.IggyWire.PollStrategy.First, N)
      assert(msgs.map(m => new String(m.payload, "UTF-8")) ==
        (0 until N).map(i => s"live-$i"))
    } finally c.close()
  }
}
