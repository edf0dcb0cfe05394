package graft.eos

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.core.{SeaMessage, SeaStreamErr}
import graft.kafka.{EmbeddedKafka, KafkaClient}
import graft.redis.{EmbeddedRedis, RedisClient, RedisStreams}
import graft.ss.SsWriter

/** Laws of the typed relay API, `RelayDriver.once`/`all`: it refuses the
  * same source/destination pairs as the URL facade, checked before
  * planning so a refused pair moves nothing on either end; and a failed
  * epoch returns only after its other tasks have ended.
  */
class RelayDriverSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  test("a redis relay into its own stream on the same server is refused " +
      "before anything moves, spelled literally or through an alias") {
    val r = new EmbeddedRedis
    val rc = new RedisClient(r.host, r.port)
    try {
      val key = RedisStreams.shardedKey("s", 0L, sharded = true)
      (0 until 3).foreach(i => rc.command(RedisStreams.xadd(key,
        1000L + i, s"v$i".getBytes("UTF-8")): _*))
      val src = RedisRelaySource(r.host, r.port, Seq(("s", 0L)))
      Seq(r.host, "localhost").foreach { host =>
        val dst = RedisLedgerDestination(host, r.port, "led", identity)
        assert(intercept[SeaStreamErr.Unsupported](
          RelayDriver.once(spark, src, dst)).getMessage
          .contains("into itself"))
        assert(intercept[SeaStreamErr.Unsupported](
          RelayDriver.all(spark, src, dst)).getMessage
          .contains("into itself"))
      }
      assert(r.entries(key).length == 3, "a refused self-relay appended")
      assert(r.kvGet("led:{s/0}").isEmpty, "a refused relay moved a cursor")
      // renamed, the same server is a legal destination
      assert(RelayDriver.all(spark, src,
        RedisLedgerDestination(r.host, r.port, "led", _ + "_copy")) == 3L)
      assert(r.entries(key).length == 3)
    } finally { rc.close(); r.close() }
  }

  test("kafka→kafka across two clusters is refused; the same cluster " +
      "relays") {
    val k1 = new EmbeddedKafka
    val k2 = new EmbeddedKafka
    val kc = new KafkaClient(k1.host, k1.port)
    try {
      kc.metadata(Seq("t"))
      (0 until 3).foreach(i => kc.produce("t", 0,
        Seq((100L + i, null, s"t$i".getBytes("UTF-8")))))
      val src = KafkaRelaySource(k1.host, k1.port, Seq("t"))
      assert(intercept[SeaStreamErr.Unsupported](RelayDriver.all(spark, src,
        KafkaTxnDestination(k2.host, k2.port, "g", "x", _ + "_out")))
        .getMessage.contains("cross-cluster"))
      assert(intercept[SeaStreamErr.Unsupported](RelayDriver.once(spark, src,
        KafkaTxnDestination(k1.host, k1.port, "g", "x", identity)))
        .getMessage.contains("into itself"))
      assert(RelayDriver.all(spark, src,
        KafkaTxnDestination(k1.host, k1.port, "g", "x", _ + "_out")) == 3L)
    } finally { kc.close(); k1.close(); k2.close() }
  }

  test("a rename onto redis that maps two sources to one stream is " +
      "refused; shards of one stream and a file of every stream are not") {
    val k = new EmbeddedKafka
    val r = new EmbeddedRedis
    val dir = java.nio.file.Files.createTempDirectory("relaypair").toFile
    try {
      val merged = (_: String) => "merged"
      val dst = RedisLedgerDestination(r.host, r.port, "m", merged)
      val file = s"${dir.getAbsolutePath}/two.ss"
      val w = new SsWriter(new java.io.FileOutputStream(file), "two.ss",
        1024, 0L)
      Seq("ta", "tb").foreach(st => w.write(SeaMessage(st, 0L, 0L,
        new java.sql.Timestamp(1000L), st.getBytes("UTF-8"))))
      w.close()
      Seq[RelaySource](
        KafkaRelaySource(k.host, k.port, Seq("ta", "tb")),
        RedisRelaySource(r.host, r.port, Seq(("ta", 0L), ("tb", 0L))),
        FileRelaySource(Seq(file), onlyStreams = Some(Set("ta", "tb")))
      ).foreach { src =>
        val e = intercept[SeaStreamErr.Unsupported](
          RelayDriver.once(spark, src, dst))
        assert(e.getMessage.contains("INJECTIVE") &&
          e.getMessage.contains("ta and tb → 'merged'"), e.getMessage)
      }
      val key = RedisStreams.shardedKey("merged", 0L, sharded = true)
      assert(r.entries(key).isEmpty && r.kvGet("m:{two.ss}").isEmpty)
      // several shards of ONE stream are one source name: no collision
      assert(RelayDriver.once(spark,
        RedisRelaySource(r.host, r.port, Seq(("ta", 0L), ("ta", 1L))),
        dst) == 0L)
      // `onlyStreams = None` relays every stream the file holds; nothing
      // names the sources, so the pair is not checked
      assert(RelayDriver.all(spark, FileRelaySource(Seq(file)), dst) == 2L)
      assert(r.entries(key).length == 2)
    } finally { k.close(); r.close() }
  }

  test("a failed epoch returns only after its other tasks end: a sibling " +
      "that commits after the crash is visible when once throws") {
    val k = new EmbeddedKafka
    val kc = new KafkaClient(k.host, k.port)
    try {
      kc.metadata(Seq("fe", "fe_out"))
      (0 until 2).foreach(p => (0 until 3).foreach(i => kc.produce("fe", p,
        Seq((100L + i, null, s"p$p-$i".getBytes("UTF-8"))))))
      val src = KafkaRelaySource(k.host, k.port, Seq("fe"))
      val dst = KafkaTxnDestination(k.host, k.port, "g_fe", "fe", _ + "_out")
      // one of the two tasks stalls after its fence; the other reaches the
      // crash point first, so the stalled one commits after the job failed
      graft.ops.Failpoints.armHook("fe-stall")(() => Thread.sleep(1500))
      graft.ops.Failpoints.arm("fe-crash")
      intercept[Exception](RelayDriver.once(spark, src,
        dst.copy(crashBeforeCommit = Some("fe-crash"),
          raceAfterFence = Some("fe-stall"))))
      val landed = (0 until 4).map(p =>
        kc.fetchIso("fe_out", p, 0L, readCommitted = true)._3.length).sum
      assert(landed == 3,
        s"the sibling's commit was not in when once threw: $landed")
      assert(RelayDriver.all(spark, src, dst) == 3L,
        "the drain must relay exactly the crashed range")
    } finally { kc.close(); k.close() }
  }
}
