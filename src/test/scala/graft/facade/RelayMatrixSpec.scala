package graft.facade

import org.scalatest.funsuite.AnyFunSuite

import graft.kafka.{EmbeddedKafka, KafkaClient}
import graft.redis.{EmbeddedRedis, RedisClient, RedisStreams}

/** `relayLag` and `relayExactlyOnce` read the same planner: on every
  * (source, destination) corner of the relay matrix the lag shows pending
  * work before the relay and reads zero behind after it.
  */
class RelayMatrixSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** One corner: the ends, its stream names, a seeding step and the
    * records it must relay. */
  private final case class Corner(name: String, source: SeaStreamer.Connection,
      destination: SeaStreamer.Connection, streams: Seq[String],
      rename: String => String, seed: () => Unit, records: Long)

  private def pending(l: SeaStreamer.RelayLag): Boolean =
    !l.drained && Seq(l.behindRecords, l.behindMs, l.behindBytes)
      .flatten.exists(_ > 0L)

  private def behindZero(l: SeaStreamer.RelayLag): Boolean =
    l.drained && Seq(l.behindRecords, l.behindMs, l.behindBytes)
      .flatten.forall(_ == 0L)

  test("every corner of the matrix: relayLag shows pending work before " +
      "relayExactlyOnce and zero behind after it") {
    val k = new EmbeddedKafka
    val r = new EmbeddedRedis
    val r2 = new EmbeddedRedis
    val ig = new graft.iggy.EmbeddedIggy
    val kc = new KafkaClient(k.host, k.port)
    val rc = new RedisClient(r.host, r.port)
    val ic = new graft.iggy.IggyClient(ig.host, ig.port)
    try {
      val kconn = SeaStreamer.connect(s"kafka://${k.host}:${k.port}", spark)
      val rconn = SeaStreamer.connect(s"redis://${r.host}:${r.port}", spark)
      val r2conn = SeaStreamer.connect(s"redis://${r2.host}:${r2.port}", spark)
      val iconn = SeaStreamer.connect(s"iggy://${ig.host}:${ig.port}", spark)
      val dir = java.nio.file.Files.createTempDirectory("relaymatrix")
        .toFile.getAbsolutePath
      val fconn = SeaStreamer.connect(s"file://$dir", spark)

      def seedKafka(topic: String, n: Int): () => Unit = () => {
        kc.metadata(Seq(topic))
        (0 until n).foreach(i => kc.produce(topic, 0,
          Seq((100L + i, null, s"$topic$i".getBytes("UTF-8")))))
      }
      def seedRedis(stream: String, n: Int): () => Unit = () => {
        val key = RedisStreams.shardedKey(stream, 0L, sharded = true)
        (0 until n).foreach(i => rc.command(RedisStreams.xadd(
          key, 4000L + 10L * i, s"$stream$i".getBytes("UTF-8")): _*))
      }
      def seedIggy(topic: String, n: Int): () => Unit = () => {
        ic.createStreamIfAbsent("graft")
        ic.createTopicIfAbsent("graft", topic, 1)
        (0 until n).foreach(i => ic.sendMessages("graft", topic,
          graft.iggy.IggyWire.Partitioning.PartitionId(0),
          Seq((1000L + i, s"$topic$i".getBytes("UTF-8")))))
      }
      def seedFile(part: String, stream: String, n: Int): () => Unit = () => {
        val w = new graft.ss.SsWriter(
          new java.io.FileOutputStream(s"$dir/$part"), part, 1024, 0L)
        (0 until n).foreach(i => w.write(graft.core.SeaMessage(stream, 0L,
          i.toLong, new java.sql.Timestamp(1000L + i),
          s"$stream$i".getBytes("UTF-8"))))
        w.close()
      }
      // destination topics exist before relays into them plan
      kc.metadata(Seq("mk_out", "mr", "mi", "mf"))

      val corners = Seq(
        Corner("kafka→kafka", kconn, kconn, Seq("mk"), _ + "_out",
          seedKafka("mk", 5), 5L),
        Corner("kafka→redis", kconn, rconn, Seq("mk2"), identity,
          seedKafka("mk2", 4), 4L),
        Corner("redis→kafka", rconn, kconn, Seq("mr"), identity,
          seedRedis("mr", 3), 3L),
        Corner("redis→redis", rconn, r2conn, Seq("mr2"), identity,
          seedRedis("mr2", 6), 6L),
        Corner("iggy→kafka", iconn, kconn, Seq("mi"), identity,
          seedIggy("mi", 4), 4L),
        Corner("iggy→redis", iconn, rconn, Seq("mi2"), identity,
          seedIggy("mi2", 2), 2L),
        Corner("file→kafka", fconn, kconn, Seq("*"), identity,
          seedFile("part-0.ss", "mf", 5), 5L),
        // the same part file, under its own anchor
        Corner("file→redis", fconn, rconn, Seq("*"), _ + "_f",
          () => (), 5L))

      corners.zipWithIndex.foreach { case (c, i) =>
        c.seed()
        val anchor = s"matrix$i"
        val before = SeaStreamer.relayLag(c.source, c.destination,
          c.streams, anchor, redisShards = 1)
        assert(before.values.exists(pending),
          s"${c.name}: lag must show pending work before the relay: $before")
        assert(SeaStreamer.relayExactlyOnce(c.source, c.destination,
          c.streams, anchor, rename = c.rename, redisShards = 1) == c.records,
          s"${c.name}: relayed count")
        val after = SeaStreamer.relayLag(c.source, c.destination,
          c.streams, anchor, redisShards = 1)
        assert(after.nonEmpty && after.values.forall(behindZero),
          s"${c.name}: lag must read zero behind after the relay: $after")
      }
    } finally {
      ic.close(); rc.close(); kc.close()
      ig.close(); r2.close(); r.close(); k.close()
    }
  }
}
