package graft.kafka

import org.scalatest.funsuite.AnyFunSuite

import graft.eos.{KafkaRelaySource, KafkaTxnDestination, RedisRelaySource,
  RelayDriver}
import graft.redis.{EmbeddedRedis, RedisClient, RedisStreams}

/** Laws of the exactly-once Redis→Kafka ingest relay: the source cursor
  * (the reference's packed redis entry id, message.rs:27-64) stages
  * INSIDE the kafka transaction via send_offsets_to_transaction
  * (producer.rs:236-301) and publishes atomically with the relayed data
  * — cap-bounded epochs, crash-before-commit recovery, idempotent
  * replay, and sub-seq cursor arithmetic across same-millisecond ids.
  */
class KafkaEosIngestSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** read_committed view of topic t partition 0, as strings. */
  private def committedValues(c: KafkaClient, topic: String): Seq[String] =
    c.fetchIso(topic, 0, 0L, readCommitted = true)._3
      .map(r => new String(r.value, "UTF-8"))

  test("ingest relays cap-bounded epochs; the cursor is the group's " +
      "committed offset in PACKED id space, advancing atomically with " +
      "the data; the drain preserves order and a drained source moves 0") {
    val k = new EmbeddedKafka
    val r = new EmbeddedRedis
    val kc = new KafkaClient(k.host, k.port)
    val rc = new RedisClient(r.host, r.port)
    try {
      // 20 entries across two milliseconds — sub-seq packing (ms<<16|sub)
      // and the +1 rollover both sit under the order-preservation gate
      val key = RedisStreams.shardedKey("src", 0L, sharded = true)
      val vals = (0 until 20).map(i => s"m$i")
      vals.zipWithIndex.foreach { case (v, i) =>
        rc.command(RedisStreams.xadd(key, 1000L + i / 10,
          v.getBytes("UTF-8")): _*)
      }
      val spark0 = spark
      def ingest(crash: Option[String]) =
        RelayDriver.once(spark0,
          RedisRelaySource(r.host, r.port, Seq(("src", 0L)), cap = 6L),
          KafkaTxnDestination(k.host, k.port, "g_ing", "ing", _ => "dst",
            crashBeforeCommit = crash))
      // epoch 1: capped at 6; the staged cursor is packed(last)+1 and
      // publishes WITH the entries (it is only readable post-commit)
      assert(ingest(None) == 6L, "cap must bound the epoch")
      val cur1 = kc.fetchOffsets("g_ing", Map("src" -> Seq(0)))
        .getOrElse(("src", 0), 0L)
      assert(cur1 == RedisStreams.packSeqNo(1000L, 5L) + 1L,
        s"cursor $cur1 is not packed(last entry of epoch 1) + 1")
      assert(committedValues(kc, "dst") == vals.take(6))
      // epoch 2 crashes after producing + staging, before commit: the
      // data aborts at the next fence, the cursor never published
      KafkaEosSink.arm("ing-crash")
      intercept[Exception](ingest(Some("ing-crash")))
      assert(!KafkaEosSink.armed("ing-crash"), "crash failpoint unfired")
      assert(kc.fetchOffsets("g_ing", Map("src" -> Seq(0)))
        .getOrElse(("src", 0), 0L) == cur1,
        "a crashed epoch moved the cursor")
      assert(committedValues(kc, "dst") == vals.take(6),
        "a crashed epoch leaked records past the LSO")
      // drain resumes off the cursor alone: the crashed range re-relays,
      // then the rest; a further pass moves nothing
      val moved = RelayDriver.all(spark0,
        RedisRelaySource(r.host, r.port, Seq(("src", 0L)), cap = 6L),
        KafkaTxnDestination(k.host, k.port, "g_ing", "ing", _ => "dst"))
      assert(moved == 14L, s"drain relayed $moved, expected 14")
      assert(ingest(None) == 0L, "a drained source must relay nothing")
      assert(committedValues(kc, "dst") == vals,
        "ingest lost, duplicated, or reordered records")
      // the kafka record key carries the source entry id — the message
      // identity tuple survives the hop (message.rs:87-90)
      val keys = kc.fetchIso("dst", 0, 0L, readCommitted = true)._3
        .map(r => new String(r.key, "UTF-8"))
      assert(keys.length == 20 && keys.forall(_.matches("\\d+-\\d+")),
        s"record keys are not source entry ids: $keys")
      assert(keys.sliding(2).forall {
        case Seq(x, y) => RedisStreams.idCompare(x, y) < 0
        case _ => true
      }, s"record keys are not in source id order: $keys")
    } finally { kc.close(); rc.close(); k.close(); r.close() }
  }

  test("a rival incarnation fencing this attempt mid-transaction resolves " +
      "IN the task: the retry re-fences, relays once, nothing duplicates") {
    val k = new EmbeddedKafka
    val r = new EmbeddedRedis
    val kc = new KafkaClient(k.host, k.port)
    val rc = new RedisClient(r.host, r.port)
    try {
      val key = RedisStreams.shardedKey("rz", 0L, sharded = true)
      (0 until 5).foreach(i => rc.command(
        RedisStreams.xadd(key, 4000L + i, s"z$i".getBytes("UTF-8")): _*))
      // the rival: an incarnation whose init lands AFTER the task's fence
      // but BEFORE its produce — exactly the window a killed-but-alive
      // task from a failed prior epoch occupies. Its init bumps the
      // epoch, so the legitimate attempt's produce dies fenced (47) and
      // must re-run its body rather than fail the job (local mode has no
      // task retries).
      graft.ops.Failpoints.armHook("rz-race") { () =>
        val zc = new KafkaClient(k.host, k.port)
        try { new KafkaTxnProducer(zc, "rz-txn-rz-0").initTransactions(); () }
        finally zc.close()
      }
      kc.metadata(Seq("rz_dst"))
      val moved = RelayDriver.once(graft.TestSession.spark,
        RedisRelaySource(r.host, r.port, Seq(("rz", 0L))),
        KafkaTxnDestination(k.host, k.port, "g_rz", "rz-txn", _ => "rz_dst",
          raceAfterFence = Some("rz-race")))
      assert(moved == 5L,
        s"the fenced attempt must retry in-task and land, moved $moved")
      assert(committedValues(kc, "rz_dst") == (0 until 5).map("z" + _),
        "the fence race duplicated or lost records")
      // the cursor landed with the retry's transaction
      assert(RelayDriver.once(graft.TestSession.spark,
        RedisRelaySource(r.host, r.port, Seq(("rz", 0L))),
        KafkaTxnDestination(k.host, k.port, "g_rz", "rz-txn",
          _ => "rz_dst")) == 0L)
    } finally { kc.close(); rc.close(); k.close(); r.close() }
  }

  test("kafka→kafka relay under the same fence race: the task retries and " +
      "the drain stays exactly-once") {
    val k = new EmbeddedKafka
    val kc = new KafkaClient(k.host, k.port)
    try {
      kc.metadata(Seq("rr", "rr_dst"))
      (0 until 6).foreach(i => kc.produce("rr", 0,
        Seq((100L + i, null, s"r$i".getBytes("UTF-8")))))
      graft.ops.Failpoints.armHook("rr-race") { () =>
        val zc = new KafkaClient(k.host, k.port)
        try { new KafkaTxnProducer(zc, "rr-txn-rr-0").initTransactions(); () }
        finally zc.close()
      }
      val moved = RelayDriver.once(graft.TestSession.spark,
        KafkaRelaySource(k.host, k.port, Seq("rr")),
        KafkaTxnDestination(k.host, k.port, "g_rr", "rr-txn", _ + "_dst",
          raceAfterFence = Some("rr-race")))
      assert(moved == 6L,
        s"the fenced relay must retry in-task and land, moved $moved")
      assert(committedValues(kc, "rr_dst") == (0 until 6).map("r" + _))
      assert(RelayDriver.once(graft.TestSession.spark,
        KafkaRelaySource(k.host, k.port, Seq("rr")),
        KafkaTxnDestination(k.host, k.port, "g_rr", "rr-txn",
          _ + "_dst")) == 0L)
    } finally { kc.close(); k.close() }
  }

  test("a committed relay replays as an idempotent skip: the fence-then-" +
      "read-cursor order makes a second attempt of a landed range a no-op") {
    val k = new EmbeddedKafka
    val r = new EmbeddedRedis
    val kc = new KafkaClient(k.host, k.port)
    val rc = new RedisClient(r.host, r.port)
    try {
      val key = RedisStreams.shardedKey("s2", 0L, sharded = true)
      (0 until 4).foreach(i => rc.command(
        RedisStreams.xadd(key, 2000L + i, s"v$i".getBytes("UTF-8")): _*))
      val spark0 = spark
      assert(RelayDriver.once(spark0,
        RedisRelaySource(r.host, r.port, Seq(("s2", 0L))),
        KafkaTxnDestination(k.host, k.port, "g2", "i2", _ => "d2")) == 4L)
      // same epoch re-run (a restarted driver re-plans the same tip):
      // the post-fence cursor read sees the landed range and skips
      assert(RelayDriver.once(spark0,
        RedisRelaySource(r.host, r.port, Seq(("s2", 0L))),
        KafkaTxnDestination(k.host, k.port, "g2", "i2", _ => "d2")) == 0L)
      assert(committedValues(kc, "d2") == Seq("v0", "v1", "v2", "v3"),
        "replay duplicated records")
      // new source entries relay from the cursor, not from scratch
      rc.command(RedisStreams.xadd(key, 3000L, "v4".getBytes("UTF-8")): _*)
      assert(RelayDriver.once(spark0,
        RedisRelaySource(r.host, r.port, Seq(("s2", 0L))),
        KafkaTxnDestination(k.host, k.port, "g2", "i2", _ => "d2")) == 1L)
      assert(committedValues(kc, "d2") ==
        Seq("v0", "v1", "v2", "v3", "v4"))
    } finally { kc.close(); rc.close(); k.close(); r.close() }
  }
}
