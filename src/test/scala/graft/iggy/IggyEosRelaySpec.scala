package graft.iggy

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import IggyWire.Partitioning
import graft.eos.{IggyRelaySource, KafkaTxnDestination,
  RedisLedgerDestination, RelayDriver}
import graft.kafka.{EmbeddedKafka, KafkaClient}
import graft.redis.{EmbeddedRedis, RedisStreams}

/** Laws of the exactly-once Iggy → broker relay: dense-offset cursors
  * anchored in the destination (staged in the kafka transaction / a
  * WATCH-fenced redis ledger), cap-bounded epochs, crash windows on
  * both destinations, idempotent drains, order preservation.
  */
class IggyEosRelaySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def seed(c: IggyClient, topic: String, parts: Int,
      perPart: Int): Unit = {
    c.createStreamIfAbsent("s")
    c.createTopicIfAbsent("s", topic, parts)
    (0 until parts).foreach(p => (0 until perPart).foreach(i =>
      c.sendMessages("s", topic, Partitioning.PartitionId(p),
        Seq((1000L + i, s"$topic-$p-$i".getBytes(UTF_8))))))
  }

  private def committedValues(c: KafkaClient, topic: String,
      p: Int): Seq[String] =
    c.fetchIso(topic, p, 0L, readCommitted = true)._3
      .map(r => new String(r.value, "UTF-8"))

  test("iggy→kafka: cap-bounded epochs, cursor staged in-txn, crash " +
      "before commit re-relays, drained moves zero, order per partition") {
    val ig = new EmbeddedIggy
    val k = new EmbeddedKafka
    val ic = new IggyClient(ig.host, ig.port)
    val kc = new KafkaClient(k.host, k.port)
    try {
      seed(ic, "it", parts = 2, perPart = 10)
      kc.metadata(Seq("it_out"))
      val spark0 = spark
      def relay(crash: Option[String] = None) =
        RelayDriver.once(spark0,
          IggyRelaySource(ig.host, ig.port, "s", Seq("it"), cap = 4L),
          KafkaTxnDestination(k.host, k.port, "g_ik", "ik", _ + "_out",
            crashBeforeCommit = crash))
      assert(relay() == 8L, "cap must bound each partition's epoch at 4")
      graft.ops.Failpoints.arm("ik-crash")
      intercept[Exception](relay(Some("ik-crash")))
      // one partition's task crashed pre-commit (its records sit behind
      // the LSO), the sibling may have committed its epoch — either way
      // each partition holds a strict PREFIX: no duplicate, no hole
      (0 until 2).foreach { p =>
        val vals = committedValues(kc, "it_out", p)
        assert(vals == (0 until vals.length).map(i => s"it-$p-$i"),
          s"partition $p not a clean prefix after the crash: $vals")
      }
      val mid = (0 until 2).map(committedValues(kc, "it_out", _).length).sum
      val moved = RelayDriver.all(spark0,
        IggyRelaySource(ig.host, ig.port, "s", Seq("it"), cap = 4L),
        KafkaTxnDestination(k.host, k.port, "g_ik", "ik", _ + "_out"))
      assert(moved == 20L - mid, s"drain relayed $moved, expected ${20 - mid}")
      assert(relay() == 0L, "a drained source must relay nothing")
      (0 until 2).foreach(p =>
        assert(committedValues(kc, "it_out", p) ==
          (0 until 10).map(i => s"it-$p-$i"),
          s"partition $p lost, duplicated, or reordered"))
    } finally { ic.close(); kc.close(); ig.close(); k.close() }
  }

  test("iggy→redis: WATCH-fenced ledger cursor, crash before EXEC moves " +
      "nothing, drain resumes off the ledger alone, hash-tag co-slots") {
    val ig = new EmbeddedIggy
    val r = new EmbeddedRedis
    val ic = new IggyClient(ig.host, ig.port)
    try {
      seed(ic, "rt", parts = 1, perPart = 10)
      val spark0 = spark
      def relay(crash: Option[String] = None) =
        RelayDriver.once(spark0,
          IggyRelaySource(ig.host, ig.port, "s", Seq("rt"), cap = 4L),
          RedisLedgerDestination(r.host, r.port, "irl", identity,
            crashBeforeCommit = crash))
      assert(relay() == 4L)
      def ledger = r.kvGet("irl:{rt/0}").map(new String(_, "UTF-8"))
      assert(ledger.contains("4"), s"cursor must publish with entries: $ledger")
      graft.ops.Failpoints.arm("irl-crash")
      intercept[Exception](relay(Some("irl-crash")))
      assert(ledger.contains("4") &&
        r.entries(RedisStreams.shardedKey("rt", 0L, true)).length == 4,
        "a crashed epoch moved the ledger or leaked entries")
      val moved = RelayDriver.all(spark0,
        IggyRelaySource(ig.host, ig.port, "s", Seq("rt"), cap = 4L),
        RedisLedgerDestination(r.host, r.port, "irl", identity))
      assert(moved == 6L, s"drain relayed $moved, expected 6")
      assert(relay() == 0L)
      val got = r.entries(RedisStreams.shardedKey("rt", 0L, true))
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(got == (0 until 10).map(i => s"rt-0-$i"),
        s"relay lost, duplicated, or reordered: $got")
      assert(graft.redis.RedisCluster.hashSlot("irl:{rt/0}") ==
        graft.redis.RedisCluster.hashSlot("rt/0"))
    } finally { ic.close(); ig.close(); r.close() }
  }
}
