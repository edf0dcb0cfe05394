package graft.kafka

import org.scalatest.funsuite.AnyFunSuite

import graft.eos.{KafkaRelaySource, KafkaTxnDestination, RelayDriver}

/** Laws of the exactly-once Spark→Kafka sink (VERDICT r13 #1 — the
  * reference's consume-transform-produce loop,
  * sea-streamer-kafka/src/producer.rs:236-301, composed into foreachBatch):
  * per-(epoch, slot) transaction atomicity of data + ledger watermark,
  * idempotent replay of a committed epoch, crash-before-commit recovery,
  * and zombie-writer fencing on restart.
  */
class KafkaEosSinkSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def envelope(rows: Seq[(String, Long, Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (k, sh, ts, v) =>
      (k, sh, new java.sql.Timestamp(ts), v.getBytes("UTF-8"))
    }.toDF("stream_key", "shard_id", "timestamp", "payload")
  }

  /** read_committed view of topic t across all 4 partitions, as strings. */
  private def committedValues(c: KafkaClient, topic: String): Seq[String] =
    (0 until 4).flatMap { p =>
      c.fetchIso(topic, p, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
    }

  private def withBroker[T](f: (EmbeddedKafka, KafkaClient) => T): T = {
    val srv = new EmbeddedKafka
    val c = new KafkaClient(srv.host, srv.port)
    try f(srv, c) finally { c.close(); srv.close() }
  }

  test("writeEpoch commits data + watermark atomically; a replayed epoch " +
      "is an idempotent skip; a new epoch appends") {
    withBroker { (srv, c) =>
      c.metadata(Seq("t"))
      val e0 = envelope(Seq(("t", 0L, 1L, "a"), ("t", 1L, 2L, "b"),
        ("t", 2L, 3L, "c")))
      KafkaEosSink.writeEpoch(e0, srv.host, srv.port, "eos1", "g1", 0L)
      assert(committedValues(c, "t").sorted == Seq("a", "b", "c"))
      // replay of a committed epoch: every slot skips via the ledger
      KafkaEosSink.writeEpoch(e0, srv.host, srv.port, "eos1", "g1", 0L)
      assert(committedValues(c, "t").sorted == Seq("a", "b", "c"),
        "a replayed committed epoch duplicated rows")
      // the next epoch writes fresh rows
      KafkaEosSink.writeEpoch(envelope(Seq(("t", 3L, 4L, "d"))),
        srv.host, srv.port, "eos1", "g1", 1L)
      assert(committedValues(c, "t").sorted == Seq("a", "b", "c", "d"))
      // ledger watermarks sit past both epochs on every touched slot
      val lt = KafkaEosSink.ledgerTopic("eos1")
      val marks = c.fetchOffsets("g1", Map(lt -> (0 until 8)))
      assert(marks.nonEmpty && marks.values.forall(w => w == 1L || w == 2L),
        s"unexpected ledger state: $marks")
    }
  }

  test("crash before commit leaves data AND watermark invisible (the LSO " +
      "holds read_committed back); the epoch replay fences + aborts the " +
      "crashed txn and lands exactly one copy") {
    withBroker { (srv, c) =>
      c.metadata(Seq("t"))
      val rows = envelope(Seq(("t", 0L, 1L, "x"), ("t", 1L, 2L, "y"),
        ("t", 2L, 3L, "z"), ("t", 3L, 4L, "w")))
      KafkaEosSink.arm("spec-crash")
      val thrown = intercept[Exception] {
        KafkaEosSink.writeEpoch(rows, srv.host, srv.port, "eos2", "g2", 0L,
          crashBeforeCommit = Some("spec-crash"))
      }
      assert(Iterator.iterate(thrown: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
        s"wrong failure: $thrown")
      // the crashed slot's txn is OPEN: its rows sit behind the LSO.
      // Slots that committed before the job aborted may be visible —
      // exactly-once is across the replay, not within the crash.
      val mid = committedValues(c, "t")
      assert(mid.distinct == mid, s"duplicates before replay: $mid")
      // replay of the SAME epoch: init fences the crashed incarnation,
      // aborts its open txn, committed slots skip, the rest re-produce
      KafkaEosSink.writeEpoch(rows, srv.host, srv.port, "eos2", "g2", 0L)
      assert(committedValues(c, "t").sorted == Seq("w", "x", "y", "z"),
        "replay after a mid-epoch crash broke exactly-once")
    }
  }

  test("relay: bounded epochs drain exactly-once off group offsets " +
      "alone — idempotent when drained, capped per epoch, crash-before-" +
      "commit re-relays the same range with no loss or duplication") {
    withBroker { (srv, c) =>
      c.metadata(Seq("src", "dst"))
      val vals = (0 until 20).map(i => s"m$i")
      vals.zipWithIndex.foreach { case (v, i) =>
        c.produce("src", 0, Seq((1000L + i, null, v.getBytes("UTF-8"))))
      }
      val relay = (crash: Option[String]) =>
        RelayDriver.once(spark,
          KafkaRelaySource(srv.host, srv.port, Seq("src"), cap = 6L),
          KafkaTxnDestination(srv.host, srv.port, "g_relay", "rel",
            _ => "dst", crashBeforeCommit = crash))
      // epoch 1: capped at 6
      assert(relay(None) == 6L, "cap must bound the epoch")
      assert(c.fetchOffsets("g_relay", Map("src" -> Seq(0)))
        .get(("src", 0)).contains(6L), "offset must publish with the data")
      // epoch 2 crashes after produce+stage, before commit: nothing moves
      KafkaEosSink.arm("relay-crash")
      intercept[Exception](relay(Some("relay-crash")))
      assert(c.fetchOffsets("g_relay", Map("src" -> Seq(0)))
        .get(("src", 0)).contains(6L),
        "a crashed epoch must not advance the resume point")
      // drain: the crashed range re-relays (its aborted copy is fenced
      // away), then the rest; a further pass moves nothing
      val moved = KafkaEosRelay.relayAll(spark, srv.host, srv.port,
        Seq("src"), _ => "dst", "g_relay", "rel", cap = 6L)
      assert(moved == 14L, s"drain relayed $moved, expected 14")
      assert(relay(None) == 0L, "a drained source must relay nothing")
      // exactly-once: the read_committed view is the source, once each
      val (_, _, rc) = c.fetchIso("dst", 0, 0L, readCommitted = true)
      assert(rc.map(r => new String(r.value, "UTF-8")) == vals,
        "relay lost, duplicated, or reordered rows")
    }
  }

  test("relay honors source transaction isolation: aborted records never " +
      "relay (no stall crossing them), an open transaction caps the epoch " +
      "at the LSO, and committing it unlocks the remainder exactly once") {
    withBroker { (srv, c) =>
      c.metadata(Seq("src", "dst"))
      // committed prefix
      (0 until 3).foreach(i =>
        c.produce("src", 0, Seq((100L + i, null, s"m$i".getBytes("UTF-8")))))
      // an ABORTED transaction parked mid-log: its records occupy offsets
      // the cursor must cross without forwarding OR stalling
      val ab = new KafkaTxnProducer(c, "rel-ab").initTransactions()
      ab.begin()
      ab.send("src", 0, Seq((200L, null, "bad1".getBytes("UTF-8")),
        (201L, null, "bad2".getBytes("UTF-8"))))
      ab.abort()
      // more committed data above the aborted range
      (3 until 6).foreach(i =>
        c.produce("src", 0, Seq((100L + i, null, s"m$i".getBytes("UTF-8")))))
      // an OPEN transaction parks the LSO here...
      val open = new KafkaTxnProducer(c, "rel-open").initTransactions()
      open.begin()
      open.send("src", 0, Seq((300L, null, "late1".getBytes("UTF-8"))))
      // ...with committed rows ABOVE it, unreadable until it resolves
      c.produce("src", 0, Seq((400L, null, "m6".getBytes("UTF-8"))))
      def relay() = KafkaEosRelay.relayAll(spark, srv.host, srv.port,
        Seq("src"), _ => "dst", "g_iso", "reliso")
      def dstVals = c.fetchIso("dst", 0, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
      // first drain: exactly the committed-below-LSO rows — the aborted
      // pair filtered, the plan capped at the LSO, and the group offset
      // NOT advanced past rows the relay never saw
      assert(relay() == 6L, "expected the 6 committed rows below the LSO")
      assert(dstVals == (0 until 6).map(i => s"m$i"),
        s"aborted records leaked or committed rows lost: $dstVals")
      // resolving the open txn unlocks the tail, relayed exactly once
      open.commit()
      assert(relay() == 2L, "expected the unlocked tail (late1 + m6)")
      assert(dstVals ==
        Seq("m0", "m1", "m2", "m3", "m4", "m5", "late1", "m6"),
        s"post-commit drain broke exactly-once: $dstVals")
    }
  }

  test("randomized crash storm (sink): any sequence of mid-epoch crashes " +
      "and replays drains to exactly-once — seeded, 6 epochs, repeated " +
      "arbitrary failures per epoch") {
    withBroker { (srv, c) =>
      c.metadata(Seq("t"))
      val rnd = new scala.util.Random(42)
      val slices = (0 until 6).map { e =>
        envelope((0 until 10).map { j =>
          val i = e * 10 + j
          ("t", (i % 8).toLong, i + 1L, f"v$i%02d")
        })
      }
      var crashes = 0
      for (e <- 0 until 6) {
        var done = false
        var attempts = 0
        while (!done) {
          attempts += 1
          assert(attempts <= 10, s"epoch $e would not converge")
          // keep crashing at random until the dice say commit (a bounded
          // storm: the last allowed attempt always runs clean)
          val crash = attempts < 9 && rnd.nextBoolean()
          val tok = s"storm-$e-$attempts"
          if (crash) { KafkaEosSink.arm(tok); crashes += 1 }
          try {
            KafkaEosSink.writeEpoch(slices(e), srv.host, srv.port,
              "eosstorm", "gstorm", e.toLong,
              crashBeforeCommit = if (crash) Some(tok) else None)
            done = true
          } catch { case _: Exception => () }
        }
      }
      assert(crashes > 3, s"storm too calm ($crashes crashes) — reseed")
      val vs = committedValues(c, "t")
      assert(vs.sorted == (0 until 60).map(i => f"v$i%02d"),
        s"crash storm broke exactly-once: ${vs.size} rows, " +
          s"dupes=${vs.diff(vs.distinct).distinct}")
    }
  }

  test("randomized crash storm (relay): repeated mid-relay crashes at " +
      "random epochs drain to exactly-once off group offsets alone") {
    withBroker { (srv, c) =>
      c.metadata(Seq("src", "dst"))
      val vals = (0 until 40).map(i => f"m$i%02d")
      vals.zipWithIndex.foreach { case (v, i) =>
        c.produce("src", 0, Seq((1000L + i, null, v.getBytes("UTF-8"))))
      }
      var drained = false
      var crashes = 0
      var guard = 0
      while (!drained) {
        guard += 1
        assert(guard <= 40, "relay storm would not converge")
        // alternate crash/clean: EVERY epoch gets one failed attempt
        // before it lands — the densest storm the fencing must survive
        val crash = guard < 30 && guard % 2 == 1
        val tok = s"rstorm-$guard"
        if (crash) { KafkaEosSink.arm(tok); crashes += 1 }
        try {
          val moved = RelayDriver.once(spark,
            KafkaRelaySource(srv.host, srv.port, Seq("src"), cap = 7L),
            KafkaTxnDestination(srv.host, srv.port, "g_storm", "rstorm",
              _ => "dst", crashBeforeCommit = if (crash) Some(tok) else None))
          if (moved == 0L) drained = true
        } catch { case _: Exception => () }
      }
      assert(crashes > 2, s"storm too calm ($crashes) — reseed")
      val (_, _, rc) = c.fetchIso("dst", 0, 0L, readCommitted = true)
      assert(rc.map(r => new String(r.value, "UTF-8")) == vals,
        "relay crash storm lost, duplicated, or reordered rows")
    }
  }

  test("zombie writer fencing: a stale incarnation holding a slot's " +
      "transactional id cannot commit after the restarted writer re-inits " +
      "— its rows never become visible") {
    withBroker { (srv, c) =>
      c.metadata(Seq("t"))
      // the zombie: an old incarnation of writer slot 0 with an open txn
      // (numSlots = 1 below pins every row onto slot 0, so the restarted
      // writer MUST reclaim exactly the zombie's transactional id)
      val zc = new KafkaClient(srv.host, srv.port)
      try {
        val zombie = new KafkaTxnProducer(zc, "eos3-0").initTransactions()
        zombie.begin()
        zombie.send("t", 0, Seq((1L, null, "stale".getBytes("UTF-8"))))
        val rows = envelope((0 until 8).map(i =>
          ("t", i.toLong, i + 1L, s"v$i")))
        KafkaEosSink.writeEpoch(rows, srv.host, srv.port, "eos3", "g3", 0L,
          partitions = 1, numSlots = 1)
        // the zombie's commit dies on the bumped epoch…
        val err = intercept[KafkaClient#KafkaServerErr](zombie.commit())
        assert(err.code == KafkaWire.Err.InvalidProducerEpoch,
          s"expected INVALID_PRODUCER_EPOCH, got $err")
        // …and its row is nowhere in the committed view
        val vs = committedValues(c, "t")
        assert(!vs.contains("stale"), s"zombie row leaked: $vs")
        assert(vs.size == 8 && vs.distinct.size == 8, s"bad view: $vs")
      } finally zc.close()
    }
  }
}
