package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.iggy.{EmbeddedIggy, IggyClient, IggySource}
import graft.iggy.IggyWire.Partitioning
import graft.kafka.{EmbeddedKafka, KafkaClient}
import graft.redis.{EmbeddedRedis, RedisClient, RedisStreams}

/** The admission laws every capped broker stream keeps, run over each
  * live source: a capped stream drains in batches of at most the cap whose
  * union is the produced set exactly once, and `latestOffset(start,
  * limit)` keeps a start coordinate the broker no longer lists.
  */
class AdmissionLawSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSession.spark

  private val topics = Seq("a", "b")
  private val parts = 3
  // uneven backlogs, so the capped split is proportional, not uniform
  private def sizes(t: String, p: Int): Int = 2 + 5 * p + (if (t == "a") 3 else 0)
  private def payload(t: String, p: Int, i: Int) = s"$t-$p-$i"
  private val produced: Seq[String] = for {
    t <- topics; p <- 0 until parts; i <- 0 until sizes(t, p)
  } yield payload(t, p, i)

  /** One live source: its format, cap option, a broker started with the
    * produced set on board, the options that read it, and the stream's
    * checkpoint JSON for a coordinate at 7 on a topic named `gone`.
    */
  private case class Source(format: String, capOption: String,
      start: () => (AutoCloseable, Map[String, String]),
      stream: CaseInsensitiveStringMap => MicroBatchStream
        with SupportsAdmissionControl,
      gone: String)

  private val sources = Seq(
    Source("kafka-wire", "maxOffsetsPerTrigger", () => {
      val srv = new EmbeddedKafka(autoCreatePartitions = parts)
      val c = new KafkaClient(srv.host, srv.port)
      try {
        c.metadata(topics)
        for (t <- topics; p <- 0 until parts)
          c.produce(t, p, (0 until sizes(t, p)).map(i =>
            (1000L + i, null: Array[Byte], payload(t, p, i).getBytes(UTF_8))))
      } finally c.close()
      (srv, Map("host" -> srv.host, "port" -> srv.port.toString,
        "topics" -> topics.mkString(",")))
    }, new graft.kafka.spark.KafkaMicroBatchStream(_), """"gone/0":7"""),
    Source("iggy-stream", "maxMessagesPerTrigger", () => {
      val srv = new EmbeddedIggy
      val c = new IggyClient(srv.host, srv.port)
      try {
        c.createStreamIfAbsent(IggySource.DefaultStream)
        for (t <- topics) {
          c.createTopicIfAbsent(IggySource.DefaultStream, t, parts)
          for (p <- 0 until parts)
            c.sendMessages(IggySource.DefaultStream, t,
              Partitioning.PartitionId(p), (0 until sizes(t, p)).map(i =>
                (1000L + i, payload(t, p, i).getBytes(UTF_8))))
        }
      } finally c.close()
      (srv, Map("host" -> srv.host, "port" -> srv.port.toString,
        "topics" -> topics.mkString(",")))
    }, new graft.iggy.spark.IggyMicroBatchStream(_), """"gone/0":7"""),
    Source("redis-stream", "maxEntriesPerTrigger", () => {
      val srv = new EmbeddedRedis
      val c = new RedisClient(srv.host, srv.port)
      try for (t <- topics; p <- 0 until parts)
        c.pipeline((0 until sizes(t, p)).map(i => RedisStreams.xadd(
          RedisStreams.shardedKey(t, p.toLong, sharded = true), 1000L + i,
          payload(t, p, i).getBytes(UTF_8))))
      finally c.close()
      (srv, Map("host" -> srv.host, "port" -> srv.port.toString,
        "streams" -> topics.mkString(","), "shards" -> parts.toString))
    }, new graft.redis.spark.RedisMicroBatchStream(_), """"gone":"7-0""""))

  for (s <- sources) {
    test(s"${s.format}: a capped stream drains in batches within the cap, " +
        "each produced message exactly once") {
      val cap = 7
      val sink = s"admission_law_${s.format.replace('-', '_')}"
      val (srv, opts) = s.start()
      try {
        val q = spark.readStream.format(s.format).options(opts)
          .option("startingOffsets", "earliest")
          .option(s.capOption, cap.toString)
          .load()
          .selectExpr("cast(payload as string) AS v")
          .writeStream.outputMode("append")
          .format("memory").queryName(sink).start()
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.map(_.numInputRows)
          assert(batches.forall(_ <= cap), batches.mkString(","))
          assert(batches.sum == produced.size, batches.mkString(","))
          val got = spark.table(sink).collect().map(_.getString(0)).toSeq
          assert(got.sorted == produced.sorted)
        } finally q.stop()
      } finally srv.close()
    }

    test(s"${s.format}: latestOffset keeps a start coordinate the broker " +
        "no longer lists, capped and uncapped") {
      val (srv, opts) = s.start()
      try {
        val stream = s.stream(new CaseInsensitiveStringMap(opts.asJava))
        val json = stream.initialOffset().json()
        val start = stream.deserializeOffset(
          json.dropRight(2) + "," + s.gone + "}}")
        for (limit <- Seq(ReadLimit.allAvailable(), ReadLimit.maxRows(5))) {
          val end = stream.latestOffset(start, limit).json()
          assert(end.contains(s.gone), s"$limit dropped it: $end")
        }
        stream.stop()
      } finally srv.close()
    }
  }
}
