package graft.redis

import org.scalatest.funsuite.AnyFunSuite

import graft.eos.{KafkaRelaySource, RedisLedgerDestination, RelayDriver}

/** Laws of the exactly-once Spark→redis sink — k8's contract rebuilt on
  * the primitive redis actually has (MULTI/EXEC): per-(epoch, slot)
  * atomicity of entries + ledger watermark, idempotent replay, and the
  * crash window (a MULTI queued but never EXECed applies NOTHING — the
  * connection takes its queue with it, real redis's contract).
  */
class RedisEosSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def envelope(rows: Seq[(String, Long, Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (k, sh, ts, v) =>
      (k, sh, new java.sql.Timestamp(ts), v.getBytes("UTF-8"))
    }.toDF("stream_key", "shard_id", "timestamp", "payload")
  }

  private def values(srv: EmbeddedRedis, stream: String): Seq[String] =
    (0L until 4L).flatMap(sh =>
      srv.entries(RedisStreams.shardedKey(stream, sh, sharded = true))
        .flatMap(_._2.collectFirst {
          case (f, bs) if f == RedisStreams.DefaultMessageField =>
            new String(bs, "UTF-8")
        }))

  test("embedded MULTI/EXEC grammar: queued replies, atomic apply, " +
      "DISCARD drops, nesting and bare EXEC refuse, a dropped connection " +
      "takes its queue with it") {
    val srv = new EmbeddedRedis
    val c = new RedisClient(srv.host, srv.port)
    try {
      // error replies surface as typed RedisError (the client's law)
      assert(intercept[RedisClient.RedisError](
        c.command(RedisStreams.exec: _*)).msg.contains("EXEC without MULTI"))
      assert(c.command(RedisStreams.multi: _*) == Resp.Simple("OK"))
      assert(intercept[RedisClient.RedisError](
        c.command(RedisStreams.multi: _*)).msg.contains("can not be nested"))
      assert(c.command(RedisStreams.xadd("t:0", 1L, "a".getBytes): _*) ==
        Resp.Simple("QUEUED"))
      assert(c.command(RedisStreams.set("lk", "1"): _*) ==
        Resp.Simple("QUEUED"))
      // nothing applied while queued
      assert(srv.entries("t:0").isEmpty && srv.kvGet("lk").isEmpty)
      c.command(RedisStreams.exec: _*) match {
        case Resp.Arr(rs) => assert(rs.length == 2, s"got $rs")
        case other => fail(s"EXEC reply: $other")
      }
      assert(srv.entries("t:0").length == 1)
      assert(srv.kvGet("lk").map(new String(_, "UTF-8")).contains("1"))
      // DISCARD drops the queue
      c.command(RedisStreams.multi: _*)
      c.command(RedisStreams.xadd("t:0", 2L, "b".getBytes): _*)
      assert(c.command(RedisStreams.discard: _*) == Resp.Simple("OK"))
      assert(srv.entries("t:0").length == 1, "DISCARD leaked an entry")
      // a connection that dies mid-MULTI applies nothing
      val dying = new RedisClient(srv.host, srv.port)
      dying.command(RedisStreams.multi: _*)
      dying.command(RedisStreams.xadd("t:0", 3L, "c".getBytes): _*)
      dying.close()
      Thread.sleep(50)
      assert(srv.entries("t:0").length == 1,
        "a dropped connection's MULTI queue leaked")
    } finally { c.close(); srv.close() }
  }

  test("writeExactlyOnce: entries + watermark commit atomically, a " +
      "replayed epoch skips, the next epoch appends") {
    val srv = new EmbeddedRedis
    try {
      val e0 = envelope(Seq(("t", 0L, 1L, "a"), ("t", 1L, 2L, "b"),
        ("t", 2L, 3L, "c")))
      RedisSource.writeExactlyOnce(e0, srv.host, srv.port, "eos", 0L)
      assert(values(srv, "t").sorted == Seq("a", "b", "c"))
      RedisSource.writeExactlyOnce(e0, srv.host, srv.port, "eos", 0L)
      assert(values(srv, "t").sorted == Seq("a", "b", "c"),
        "a replayed committed epoch duplicated entries")
      RedisSource.writeExactlyOnce(envelope(Seq(("t", 3L, 4L, "d"))),
        srv.host, srv.port, "eos", 1L)
      assert(values(srv, "t").sorted == Seq("a", "b", "c", "d"))
      // watermarks sit past the committed epochs on every touched slot
      val marks = (0 until 8).flatMap(sl =>
        srv.kvGet(s"eos:slot:$sl").map(new String(_, "UTF-8").toLong))
      assert(marks.nonEmpty && marks.forall(w => w == 1L || w == 2L),
        s"unexpected ledger state: $marks")
    } finally srv.close()
  }

  test("crash before EXEC applies NOTHING — no entries, watermark " +
      "unmoved; the epoch replay lands exactly one copy") {
    val srv = new EmbeddedRedis
    try {
      val rows = envelope(Seq(("t", 0L, 1L, "x"), ("t", 1L, 2L, "y"),
        ("t", 2L, 3L, "z"), ("t", 3L, 4L, "w")))
      graft.ops.Failpoints.arm("redis-spec-crash")
      val thrown = intercept[Exception] {
        RedisSource.writeExactlyOnce(rows, srv.host, srv.port, "eos2", 0L,
          crashBeforeCommit = Some("redis-spec-crash"))
      }
      assert(Iterator.iterate(thrown: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
        s"wrong failure: $thrown")
      // the crashed slot queued but never EXECed: its rows and watermark
      // are nowhere (other slots may have committed — fine)
      val mid = values(srv, "t")
      assert(mid.distinct == mid, s"duplicates before replay: $mid")
      RedisSource.writeExactlyOnce(rows, srv.host, srv.port, "eos2", 0L)
      assert(values(srv, "t").sorted == Seq("w", "x", "y", "z"),
        "replay after a queued-not-EXECed crash broke exactly-once")
    } finally srv.close()
  }

  test("embedded WATCH grammar: EXEC nils out iff a watched key moved, " +
      "UNWATCH and EXEC clear the watch, WATCH inside MULTI refuses") {
    val srv = new EmbeddedRedis
    val c = new RedisClient(srv.host, srv.port)
    val w = new RedisClient(srv.host, srv.port)
    try {
      // clean path: watched key untouched -> EXEC applies
      assert(c.command(RedisStreams.watch("wk"): _*) == Resp.Simple("OK"))
      c.command(RedisStreams.multi: _*)
      c.command(RedisStreams.set("other", "1"): _*)
      assert(c.command(RedisStreams.exec: _*).isInstanceOf[Resp.Arr])
      // dirty path: another connection moves the watched key -> nil
      c.command(RedisStreams.watch("wk"): _*)
      w.command(RedisStreams.set("wk", "moved"): _*)
      c.command(RedisStreams.multi: _*)
      c.command(RedisStreams.set("wk", "mine"): _*)
      assert(c.command(RedisStreams.exec: _*) == Resp.NullArr)
      assert(srv.kvGet("wk").map(new String(_, "UTF-8")).contains("moved"),
        "an aborted EXEC applied its queue")
      // the abort cleared the watch: a fresh MULTI sails through
      c.command(RedisStreams.multi: _*)
      c.command(RedisStreams.set("wk", "mine2"): _*)
      assert(c.command(RedisStreams.exec: _*).isInstanceOf[Resp.Arr])
      // UNWATCH drops the snapshot before MULTI
      c.command(RedisStreams.watch("wk"): _*)
      w.command(RedisStreams.set("wk", "moved2"): _*)
      assert(c.command(RedisStreams.unwatch: _*) == Resp.Simple("OK"))
      c.command(RedisStreams.multi: _*)
      c.command(RedisStreams.set("wk", "mine3"): _*)
      assert(c.command(RedisStreams.exec: _*).isInstanceOf[Resp.Arr])
      // WATCH inside MULTI is a grammar error (real redis)
      c.command(RedisStreams.multi: _*)
      assert(intercept[RedisClient.RedisError](
        c.command(RedisStreams.watch("wk"): _*))
        .msg.contains("WATCH inside MULTI"))
      c.command(RedisStreams.discard: _*)
    } finally { c.close(); w.close(); srv.close() }
  }

  test("zombie fence: two concurrent attempts of the same (slot, epoch) — " +
      "exactly one EXEC lands, the rival nils out and applies nothing") {
    val srv = new EmbeddedRedis
    val a = new RedisClient(srv.host, srv.port)
    val b = new RedisClient(srv.host, srv.port)
    try {
      val ledger = "race:slot:0"
      def cmds(tag: String) = Iterator.single(
        RedisStreams.xadd("race-t:0", 1L, tag.getBytes("UTF-8")))
      // attempt A is the stalled-but-alive zombie (a speculative task, or
      // a first attempt Spark deemed dead whose connection survived): it
      // watches, reads the ledger, queues its MULTI, then stalls just
      // before EXEC while attempt B — the retry — runs the whole protocol
      // and commits. A's EXEC must then nil out, NOT double-apply.
      val aQueued = new java.util.concurrent.CountDownLatch(1)
      val bDone = new java.util.concurrent.CountDownLatch(1)
      @volatile var aLanded = true
      @volatile var aFailed: Throwable = null
      val zombie = new Thread(() => {
        try aLanded = RedisSource.commitSlotEpoch(a, ledger, 0L,
          cmds("zombie"),
          beforeExec = () => { aQueued.countDown(); bDone.await() })
        catch { case t: Throwable => aFailed = t }
      }, "eos-zombie")
      zombie.start()
      assert(aQueued.await(10, java.util.concurrent.TimeUnit.SECONDS))
      val bLanded = RedisSource.commitSlotEpoch(b, ledger, 0L, cmds("retry"))
      bDone.countDown()
      zombie.join(10000)
      assert(aFailed == null, s"zombie attempt threw: $aFailed")
      assert(bLanded && !aLanded,
        s"exactly one attempt must land (a=$aLanded b=$bLanded)")
      val vals = srv.entries("race-t:0")
        .flatMap(_._2.map { case (_, bs) => new String(bs, "UTF-8") })
      assert(vals == Seq("retry"), s"fence leaked entries: $vals")
      assert(srv.kvGet(ledger).map(new String(_, "UTF-8")).contains("1"))
      // the loser's task retry replays the epoch: ledger says committed,
      // so it skips idempotently
      assert(!RedisSource.commitSlotEpoch(a, ledger, 0L, cmds("again")))
      assert(srv.entries("race-t:0").length == 1)
    } finally { a.close(); b.close(); srv.close() }
  }

  test("cluster sink: per-key transactions land on the owning node with " +
      "a co-slotted ledger, replay skips, crash-before-EXEC recovers to " +
      "exactly one copy") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    try {
      val mid = RedisCluster.HashSlots / 2
      val slots = Seq((0, mid - 1, a.host, a.port),
        (mid, RedisCluster.HashSlots - 1, b.host, b.port))
      a.slots = slots; b.slots = slots
      val seeds = Seq((a.host, a.port), (b.host, b.port))
      val keys = (0L until 4L).map(sh =>
        RedisStreams.shardedKey("t", sh, sharded = true))
      def nodeOf(key: String): EmbeddedRedis =
        if (RedisCluster.hashSlot(key) < mid) a else b
      // the slot split must actually exercise BOTH nodes
      assert(keys.map(nodeOf).distinct.size == 2, s"keys all co-slotted")
      val rows = envelope(Seq(("t", 0L, 1L, "a0"), ("t", 1L, 2L, "a1"),
        ("t", 2L, 3L, "a2"), ("t", 3L, 4L, "a3")))
      RedisSource.writeExactlyOnceCluster(rows, seeds, "ceos", 0L)
      def valueOf(key: String): Seq[String] =
        nodeOf(key).entries(key).map(e => new String(e._2.head._2, "UTF-8"))
      // every key's entries sit on ITS owner node…
      assert(keys.flatMap(valueOf).sorted == Seq("a0", "a1", "a2", "a3"))
      // …the other node holds nothing for it, and the ledger co-slots
      keys.foreach { k =>
        val other = if (nodeOf(k) eq a) b else a
        assert(other.entries(k).isEmpty, s"$k leaked to the wrong node")
        assert(RedisCluster.hashSlot(s"ceos:{$k}") == RedisCluster.hashSlot(k),
          "ledger must share the key's hash slot")
        assert(nodeOf(k).kvGet(s"ceos:{$k}")
          .map(new String(_, "UTF-8")).contains("1"), s"missing ledger for $k")
      }
      // replayed epoch: every key skips via its ledger
      RedisSource.writeExactlyOnceCluster(rows, seeds, "ceos", 0L)
      assert(keys.flatMap(valueOf).sorted == Seq("a0", "a1", "a2", "a3"),
        "a replayed committed epoch duplicated entries")
      // crash before EXEC: nothing from the crashed key-txn applies; the
      // replay lands exactly one copy
      graft.ops.Failpoints.arm("ceos-crash")
      val next = envelope(Seq(("t", 0L, 5L, "b0"), ("t", 1L, 6L, "b1"),
        ("t", 2L, 7L, "b2"), ("t", 3L, 8L, "b3")))
      val thrown = intercept[Exception] {
        RedisSource.writeExactlyOnceCluster(next, seeds, "ceos", 1L,
          crashBeforeCommit = Some("ceos-crash"))
      }
      assert(Iterator.iterate(thrown: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
        s"wrong failure: $thrown")
      RedisSource.writeExactlyOnceCluster(next, seeds, "ceos", 1L)
      assert(keys.flatMap(valueOf).sorted ==
        Seq("a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3"),
        "crash + replay broke exactly-once on the cluster path")
    } finally { a.close(); b.close() }
  }

  test("kafka→redis relay: entries + source offset commit atomically in " +
      "one MULTI, a crash before EXEC moves nothing, the drain resumes " +
      "off the redis ledger alone, a drained source relays zero") {
    val k = new graft.kafka.EmbeddedKafka
    val r = new EmbeddedRedis
    val kc = new graft.kafka.KafkaClient(k.host, k.port)
    try {
      kc.metadata(Seq("src"))
      val vals = (0 until 20).map(i => s"m$i")
      vals.zipWithIndex.foreach { case (v, i) =>
        kc.produce("src", 0, Seq((1000L + i, null, v.getBytes("UTF-8"))))
      }
      val spark0 = spark
      def relay(crash: Option[String]) =
        RelayDriver.once(spark0,
          KafkaRelaySource(k.host, k.port, Seq("src"), cap = 6L),
          RedisLedgerDestination(r.host, r.port, "rel", _ => "dst",
            crashBeforeCommit = crash))
      def ledger = r.kvGet("rel:{src/0}").map(new String(_, "UTF-8"))
      def entries = r.entries(RedisStreams.shardedKey("dst", 0L, true))
        .map(e => new String(e._2.head._2, "UTF-8"))
      // epoch 1: capped at 6; offset publishes WITH the entries
      assert(relay(None) == 6L, "cap must bound the epoch")
      assert(ledger.contains("6") && entries.size == 6)
      // epoch 2 crashes with the MULTI queued, before EXEC: the
      // connection takes the queue with it — no entries, ledger holds
      graft.ops.Failpoints.arm("rel-crash")
      intercept[Exception](relay(Some("rel-crash")))
      assert(ledger.contains("6") && entries.size == 6,
        "a crashed epoch moved the ledger or leaked entries")
      // drain resumes off the ledger: the crashed range re-relays, then
      // the rest; a further pass moves nothing
      val moved = RelayDriver.all(spark0,
        KafkaRelaySource(k.host, k.port, Seq("src"), cap = 6L),
        RedisLedgerDestination(r.host, r.port, "rel", _ => "dst"))
      assert(moved == 14L, s"drain relayed $moved, expected 14")
      assert(relay(None) == 0L, "a drained source must relay nothing")
      assert(entries == vals,
        "relay lost, duplicated, or reordered records")
      // ledger co-slots with any destination key it would share a
      // cluster transaction with (the hash-tag discipline)
      assert(RedisCluster.hashSlot("rel:{src/0}") ==
        RedisCluster.hashSlot("src/0"))
    } finally { kc.close(); k.close(); r.close() }
  }

  test("kafka→redis relay: a nil'd EXEC re-runs the body — a rival that " +
      "commits a SHORTER range between the offset read and EXEC is " +
      "absorbed, the retry relays only the remainder") {
    val k = new graft.kafka.EmbeddedKafka
    val r = new EmbeddedRedis
    val kc = new graft.kafka.KafkaClient(k.host, k.port)
    try {
      kc.metadata(Seq("nsrc"))
      val vals = (0 until 6).map(i => s"w$i")
      vals.zipWithIndex.foreach { case (v, i) =>
        kc.produce("nsrc", 0, Seq((1000L + i, null, v.getBytes("UTF-8"))))
      }
      // the rival commits offsets [0, 2) + ledger "2" between the relay's
      // offset read and its EXEC (a killed-but-alive task of an earlier,
      // shorter-planned epoch); a skip-on-nil would lose offsets [2, 6)
      graft.ops.Failpoints.armHook("nw-race") { () =>
        val rival = new RedisClient(r.host, r.port)
        try {
          rival.command(RedisStreams.multi: _*)
          (0 until 2).foreach(i => rival.command(RedisStreams.xadd(
            RedisStreams.shardedKey("ndst", 0L, true), 1000L + i,
            s"w$i".getBytes("UTF-8")): _*))
          rival.command(RedisStreams.set("nw:{nsrc/0}", "2"): _*)
          rival.command(RedisStreams.exec: _*)
          ()
        } finally rival.close()
      }
      val moved = RelayDriver.once(graft.TestSession.spark,
        KafkaRelaySource(k.host, k.port, Seq("nsrc")),
        RedisLedgerDestination(r.host, r.port, "nw", _ => "ndst",
          raceAfterRead = Some("nw-race")))
      assert(moved == 4L,
        s"retry must relay exactly the remainder (4), moved $moved")
      val got = r.entries(RedisStreams.shardedKey("ndst", 0L, true))
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(got == vals, s"nil-retry lost/duplicated records: $got")
      assert(RelayDriver.once(graft.TestSession.spark,
        KafkaRelaySource(k.host, k.port, Seq("nsrc")),
        RedisLedgerDestination(r.host, r.port, "nw", _ => "ndst")) == 0L)
    } finally { kc.close(); k.close(); r.close() }
  }

  test("cluster sink: a MOVED bounce mid-protocol quarantines the " +
      "connection and retries the whole key-transaction on the new owner") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    try {
      // no slot map: routing starts at the seed (a); a answers MOVED for
      // the LEDGER key at WATCH time — before anything could apply —
      // naming b as the owner; the retry must land the whole transaction
      // (entries + ledger) on b, exactly once
      val key = RedisStreams.shardedKey("mv", 0L, sharded = true)
      val ledger = s"meos:{$key}"
      a.redirects = Map(ledger -> s"${b.host}:${b.port}")
      val rows = envelope(Seq(("mv", 0L, 1L, "x0"), ("mv", 0L, 2L, "x1")))
      RedisSource.writeExactlyOnceCluster(rows, Seq((a.host, a.port)),
        "meos", 0L)
      assert(a.entries(key).isEmpty, "bounced transaction applied on a")
      assert(b.entries(key).map(e => new String(e._2.head._2, "UTF-8")) ==
        Seq("x0", "x1"), "retry did not land atomically on the new owner")
      assert(b.kvGet(ledger).map(new String(_, "UTF-8")).contains("1"))
    } finally { a.close(); b.close() }
  }

  test("advance-only epochs do not end the drain: a cap-range occupied " +
      "entirely by an ABORTED source transaction commits its cursor and " +
      "relays zero rows — relayAll must keep draining to the committed " +
      "records above it (the old moved!=0 loop stopped early)") {
    val k = new graft.kafka.EmbeddedKafka
    val r = new EmbeddedRedis
    val kc = new graft.kafka.KafkaClient(k.host, k.port)
    try {
      kc.metadata(Seq("ab"))
      // offsets [0, 5]: an aborted 5-record transaction + its marker —
      // these fill the whole first cap=6 epoch with zero relayable rows
      val poison = new graft.kafka.KafkaTxnProducer(kc, "ab-poison")
        .initTransactions()
      poison.begin()
      poison.send("ab", 0, (0 until 5).map(i =>
        (100L + i, null, s"poison$i".getBytes("UTF-8"))))
      poison.abort()
      // offsets [6, 9): committed records the drain must still reach
      (0 until 3).foreach(i => kc.produce("ab", 0,
        Seq((200L + i, null, s"good$i".getBytes("UTF-8")))))
      val moved = RelayDriver.all(spark,
        KafkaRelaySource(k.host, k.port, Seq("ab"), cap = 6L),
        RedisLedgerDestination(r.host, r.port, "abl", _ + "_out"))
      assert(moved == 3L,
        s"drain must reach the committed records past the aborted range: $moved")
      val vals = r.entries(RedisStreams.shardedKey("ab_out", 0L, true))
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(vals == (0 until 3).map("good" + _),
        s"wrong rows relayed: $vals")
    } finally { kc.close(); k.close(); r.close() }
  }

  test("embedded XADD id fidelity: a `<ms>-*` or explicit id at/below " +
      "the stream's top is REFUSED with real redis's error (never " +
      "clamped — the old clamp hid the writers' floor machinery from " +
      "every embedded test); equal-ms auto ids bump the sub-seq; `*` " +
      "stays monotone; XDEL of the tip does not lower the refusal bar") {
    val srv = new EmbeddedRedis
    val c = new RedisClient(srv.host, srv.port)
    try {
      def xaddRaw(id: String): Either[String, String] =
        try c.command(Seq("XADD", "fid", id, "msg", "v")
          .map(_.getBytes("UTF-8")): _*) match {
          case Resp.Bulk(bs) => Right(new String(bs, "UTF-8"))
          case other => Left(other.toString)
        }
        catch { case e: RedisClient.RedisError => Left(e.msg) }
      assert(xaddRaw("5-3") == Right("5-3"))
      // below in ms, equal, and below in seq: all refused, verbatim text
      Seq("4-9", "5-3", "5-2", "4-*").foreach { id =>
        xaddRaw(id) match {
          case Left(m) => assert(m.contains(
            "equal or smaller than the target stream top item"), m)
          case Right(got) => fail(s"XADD $id must refuse, appended $got")
        }
      }
      // `<ms>-*` at the top ms bumps the sub-seq; above it starts at 0
      assert(xaddRaw("5-*") == Right("5-4"))
      assert(xaddRaw("7-*") == Right("7-0"))
      // refusals applied nothing
      assert(srv.entries("fid").map(_._1) == Seq("5-3", "5-4", "7-0"))
      // real redis's last_id survives XDEL of the tip: the bar holds
      c.command(Seq("XDEL", "fid", "7-0").map(_.getBytes("UTF-8")): _*)
      assert(srv.entries("fid").map(_._1) == Seq("5-3", "5-4"))
      xaddRaw("6-0") match {
        case Left(m) => assert(m.contains("equal or smaller"), m)
        case Right(got) =>
          fail(s"XADD 6-0 after XDEL must refuse, appended $got")
      }
    } finally { c.close(); srv.close() }
  }

  test("iterator-form commitSlotEpoch survives a nil'd retry: the " +
      "one-shot command iterator is materialized, so a zombie moving " +
      "the watched ledger BELOW the epoch cannot make the retry commit " +
      "an advanced watermark with ZERO data (a silently lost epoch)") {
    val srv = new EmbeddedRedis
    val writer = new RedisClient(srv.host, srv.port)
    val zombie = new RedisClient(srv.host, srv.port)
    try {
      var fired = 0
      // epoch 5 on a fresh ledger; with the MULTI queued, a zombie of an
      // OLDER epoch SETs the ledger to "1" — the watch nils our EXEC and
      // the re-read (1 < 6) sends the loop around for a SECOND pass over
      // mkCmds' commands
      val landed = RedisSource.commitSlotEpoch(writer, "itx:slot:0", 5L,
        Iterator.single(RedisStreams.xadd("itx-t:0", 100L,
          "data".getBytes("UTF-8"))),
        beforeExec = () => if (fired == 0) {
          fired += 1
          zombie.command(RedisStreams.set("itx:slot:0", "1"): _*)
          ()
        })
      assert(landed, "the retry must land the epoch")
      val vals = srv.entries("itx-t:0")
        .flatMap(_._2.map { case (_, bs) => new String(bs, "UTF-8") })
      assert(vals == Seq("data"),
        s"the retry re-queued from the materialized commands: $vals")
      assert(srv.kvGet("itx:slot:0").map(new String(_, "UTF-8"))
        .contains("6"))
    } finally { writer.close(); zombie.close(); srv.close() }
  }

  test("embedded XADD malformed-id fidelity: a bare ms id is accepted " +
      "as <ms>-0 and a garbage id is REFUSED with a reply — never a " +
      "dropped connection (which would desync pipelined clients and " +
      "half-apply inside an EXEC)") {
    val srv = new EmbeddedRedis
    val c = new RedisClient(srv.host, srv.port)
    try {
      def xaddRaw(id: String): Either[String, String] =
        try c.command(Seq("XADD", "mf", id, "msg", "v")
          .map(_.getBytes("UTF-8")): _*) match {
          case Resp.Bulk(bs) => Right(new String(bs, "UTF-8"))
          case other => Left(other.toString)
        }
        catch { case e: RedisClient.RedisError => Left(e.msg) }
      assert(xaddRaw("7") == Right("7-0"), "bare ms must read as <ms>-0")
      xaddRaw("7-abc") match {
        case Left(m) => assert(m.contains("Invalid stream ID"), m)
        case Right(got) => fail(s"garbage id appended $got")
      }
      // the CONNECTION survived the refusal — the next command answers
      assert(xaddRaw("8-0") == Right("8-0"))
      // and inside an EXEC a malformed element errors without aborting
      // the commands around it (real redis applies the rest)
      c.command(RedisStreams.multi: _*)
      c.command(Seq("XADD", "mf", "9-0", "msg", "a")
        .map(_.getBytes("UTF-8")): _*)
      c.command(Seq("XADD", "mf", "bad-id", "msg", "b")
        .map(_.getBytes("UTF-8")): _*)
      c.command(Seq("XADD", "mf", "10-0", "msg", "c")
        .map(_.getBytes("UTF-8")): _*)
      c.command(RedisStreams.exec: _*) match {
        case Resp.Arr(rs) =>
          assert(rs.count(_.isInstanceOf[Resp.Err]) == 1,
            s"exactly the malformed element errors: $rs")
        case other => fail(s"EXEC reply: $other")
      }
      assert(srv.entries("mf").map(_._1) == Seq("7-0", "8-0", "9-0", "10-0"))
    } finally { c.close(); srv.close() }
  }

  test("late data across epochs: an epoch carrying LOWER event times " +
      "than the destination tip clamps to the WATCHed floor — nothing " +
      "is refused inside the EXEC, nothing is lost (the silent-loss " +
      "hazard: a refusal there would not stop the watermark SET, and " +
      "the task retry would then skip the epoch)") {
    val srv = new EmbeddedRedis
    try {
      // epoch 0 at ts 5000+, epoch 1 LATE at ts 1000+ on the same keys
      RedisSource.writeExactlyOnce(
        envelope(Seq(("ld", 0L, 5000L, "e0a"), ("ld", 0L, 5001L, "e0b"))),
        srv.host, srv.port, "ldeos", 0L)
      RedisSource.writeExactlyOnce(
        envelope(Seq(("ld", 0L, 1000L, "e1a"), ("ld", 0L, 1001L, "e1b"))),
        srv.host, srv.port, "ldeos", 1L)
      val entries = srv.entries(RedisStreams.shardedKey("ld", 0L, true))
      assert(entries.map(e => new String(e._2.head._2, "UTF-8")) ==
        Seq("e0a", "e0b", "e1a", "e1b"),
        s"late epoch lost or reordered entries: $entries")
      // ids stayed monotone (the clamp): late entries ride the tip ms
      val ids = entries.map(e => RedisStreams.parseEntryId(e._1))
      assert(ids == ids.sorted, s"non-monotone ids: $ids")
      assert(ids.drop(2).forall(_._1 == 5001L),
        s"late entries must clamp to the 5001 floor: $ids")
    } finally srv.close()
  }

  test("foreign writer between the floor read and EXEC: the data key is " +
      "WATCHed, so the EXEC nils BEFORE anything applies and the retry " +
      "recomputes the floor — exactly one copy of the epoch lands, " +
      "above the foreign entry, never an in-EXEC refusal") {
    val srv = new EmbeddedRedis
    val writer = new RedisClient(srv.host, srv.port)
    val foreign = new RedisClient(srv.host, srv.port)
    try {
      val key = RedisStreams.shardedKey("fw", 0L, sharded = true)
      var fired = 0
      val landed = RedisSource.commitSlotEpoch(writer, "fweos:slot:0", 0L,
        Seq(key),
        floorOf => {
          val base = floorOf(key)
          Iterator.tabulate(3)(i =>
            RedisStreams.xadd(key, math.max(2000L + i, base), s"w$i".getBytes("UTF-8")))
        },
        beforeExec = () => if (fired == 0) {
          fired += 1
          // the foreign push lands INSIDE the watch window, above the
          // epoch's own timestamps — pre-fix this was the silent-loss race
          foreign.command(RedisStreams.xadd(key, 9000L,
            "foreign".getBytes("UTF-8")): _*)
          ()
        })
      assert(landed, "the retry must land the epoch")
      assert(fired == 1)
      val entries = srv.entries(key)
      assert(entries.map(e => new String(e._2.head._2, "UTF-8")) ==
        Seq("foreign", "w0", "w1", "w2"),
        s"epoch must land exactly once, after the foreign entry: $entries")
      // retry clamped to the foreign tip — monotone, nothing refused
      val ids = entries.map(e => RedisStreams.parseEntryId(e._1))
      assert(ids == ids.sorted && ids.drop(1).forall(_._1 == 9000L),
        s"retry must clamp to the 9000 floor: $ids")
      assert(srv.kvGet("fweos:slot:0").map(new String(_, "UTF-8"))
        .contains("1"))
    } finally { writer.close(); foreign.close(); srv.close() }
  }
}
