package graft.facade

import java.nio.file.Files

import graft.TestSession
import graft.core.SeaStreamErr
import graft.facade.SeaStreamer.{AutoStreamReset, ConsumerMode, ConsumerOptions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SeaStreamerSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def mkEnvelope(n: Int) = (0 until n).map { i =>
    (s"s${i % 2}", 0L, i.toLong,
      new java.sql.Timestamp(1700000000000L + i), s"p$i".getBytes("UTF-8"))
  }.toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")

  test("consumer mode validation laws") {
    val dir = Files.createTempDirectory("facade").toString
    val conn = SeaStreamer.connect(s"file://$dir", spark)
    // RealTime + group → ConsumerGroupIsSet
    assertThrows[SeaStreamErr.ConsumerGroupIsSet.type](
      conn.createConsumer(Seq("s0"), ConsumerOptions(
        mode = ConsumerMode.RealTime, group = Some("g"))))
    // LoadBalanced without group → ConsumerGroupNotSet
    assertThrows[SeaStreamErr.ConsumerGroupNotSet.type](
      conn.createConsumer(Seq("s0"), ConsumerOptions(
        mode = ConsumerMode.LoadBalanced)))
    // Resumable unsupported on file backend
    assertThrows[SeaStreamErr.Unsupported](
      conn.createConsumer(Seq("s0"), ConsumerOptions(
        mode = ConsumerMode.Resumable)))
    // empty stream list → StreamKeyEmpty
    assertThrows[SeaStreamErr.StreamKeyEmpty.type](
      conn.createConsumer(Seq.empty))
    // invalid key
    assertThrows[SeaStreamErr.InvalidStreamKey](
      conn.createConsumer(Seq("has space")))
  }

  test("file backend: produce then replay-consume") {
    val dir = Files.createTempDirectory("facade").toString
    val conn = SeaStreamer.connect(s"file://$dir", spark)
    conn.createGenericProducer().send(mkEnvelope(20))
    val replay = conn.createConsumer(Seq("s0"),
      ConsumerOptions(live = false,
        autoStreamReset = AutoStreamReset.Earliest))
    assert(replay.count() == 10)
    assert(replay.select("stream_key").distinct().as[String].collect().toSeq
      == Seq("s0"))
    // wildcard sees both streams
    val all = conn.createConsumer(Seq("*"), ConsumerOptions(live = false))
    assert(all.count() == 20)
  }

  test("anchored producer stamps the stream key") {
    val dir = Files.createTempDirectory("facade").toString
    val conn = SeaStreamer.connect(s"file://$dir", spark)
    conn.createProducer("anchored-stream").send(mkEnvelope(5))
    val got = conn.createConsumer(Seq("anchored-stream"),
      ConsumerOptions(live = false))
    assert(got.count() == 5)
    assertThrows[SeaStreamErr.InvalidStreamKey](conn.createProducer("bad key"))
  }

  test("live consumer with Latest reset sees only new appends") {
    val dir = Files.createTempDirectory("facade").toString
    val conn = SeaStreamer.connect(s"file://$dir", spark)
    conn.createGenericProducer().send(mkEnvelope(10))
    val live = conn.createConsumer(Seq("*"), ConsumerOptions(
      mode = ConsumerMode.RealTime,
      autoStreamReset = AutoStreamReset.Latest, live = true))
    val q = live.groupBy("stream_key").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("facade_live").start()
    try {
      q.processAllAvailable()
      assert(spark.table("facade_live").count() == 0) // Latest skipped history
      conn.createGenericProducer().send(mkEnvelope(6))
      q.processAllAvailable()
      val got = spark.table("facade_live").as[(String, Long)].collect().toMap
      assert(got == Map("s0" -> 3L, "s1" -> 3L))
    } finally q.stop()
  }

  test("stdio replay parses line files into the envelope") {
    val dir = Files.createTempDirectory("stdio").toFile
    val f = new java.io.File(dir, "lines.txt")
    val pw = new java.io.PrintWriter(f)
    pw.println("[2022-01-02T03:04:05 | topic.a | 0] hello")
    pw.println("[2022-01-02T03:04:06 | topic.a | 1] world")
    pw.println("[2022-01-02T03:04:07 | topic.b | 0] other")
    pw.close()
    val conn = SeaStreamer.connect(s"stdio://${f.getPath}", spark)
    val got = conn.createConsumer(Seq("topic.a"),
      ConsumerOptions(live = false))
    assert(got.filter($"stream_key" === "topic.a").count() == 2)
    // live stdio is supported since round 7 (StdioLiveSpec has the laws)
    assert(conn.createConsumer(Seq("topic.a"),
      ConsumerOptions(live = true)).isStreaming)
  }

  test("stdio producer prints every line on the DRIVER's stdout") {
    // Console.withOut redirects only this (driver) thread — executor task
    // threads keep the original stdout, so capturing every expected line
    // proves the print loop runs driver-side (the stdio process contract;
    // executor-side println would land in executor logs on a real cluster)
    val conn = SeaStreamer.connect("stdio://-", spark)
    val env = (0 until 25).map { i =>
      ("t.out", 0L, i.toLong, new java.sql.Timestamp(1000L + i),
        s"p$i".getBytes("UTF-8"))
    }.toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      conn.createGenericProducer().send(env)
    }
    val lines = buf.toString("UTF-8").split('\n').filter(_.nonEmpty)
    assert(lines.length == 25)
    assert(lines.forall(l => l.contains("t.out") && l.endsWith(
      "p" + l.dropWhile(_ != ']').drop(2).stripPrefix("p"))))
    // round-trip: each printed line re-parses through the stdio consumer law
    val parsed = graft.ops.StdioParser.toEnvelope(
      spark.createDataset(lines.toSeq).toDF("value"))
    assert(parsed.count() == 25)
    assert(parsed.select("sequence").as[Long].collect().sorted.toSeq ==
      (0L until 25L))
  }

  test("an unknown scheme is refused at connect, not at first read") {
    val e = intercept[SeaStreamErr.Unsupported](
      SeaStreamer.connect("nope://h:1", spark))
    assert(e.getMessage.contains("backend 'nope'"))
  }
}
