package graft.examples

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.core.SeaStreamErr
import graft.ops.StdioParser
import graft.kafka.EmbeddedKafka
import graft.redis.EmbeddedRedis

/** Laws of the reference's front-page example programs — the README
  * Quick Start's consumer/producer/processor (examples/src/bin/
  * consumer.rs, producer.rs, processor.rs) and the resumable processor
  * (resumable.rs) — driven end-to-end against the embedded brokers in
  * the shapes the examples/README run matrix prescribes.
  */
class ExamplesSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  private def captureOut(f: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(f)
    buf.toString("UTF-8").split('\n').toSeq.filter(_.nonEmpty)
  }

  test("producer sends the reference's exact payloads (quoted JSON " +
      "string literals, producer.rs:31), seq = tick ordinal, bounded " +
      "by --ticks; consumer --once replays them as [ts] payload lines " +
      "(consumer.rs:39) — the redis leg of the run matrix") {
    val srv = new EmbeddedRedis
    try {
      val n = Producer.run(spark, s"redis://${srv.host}:${srv.port}/hello1",
        intervalMs = 2, ticks = 5)
      assert(n == 5L)
      val vals = srv.entries("hello1")
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(vals == (0 until 5).map(i => s""""tick $i""""),
        s"payloads wrong or reordered: $vals")

      val out = captureOut {
        assert(Consumer.run(spark,
          s"redis://${srv.host}:${srv.port}/hello1", once = true) == 5L)
      }
      assert(out.length == 5)
      out.zipWithIndex.foreach { case (l, i) =>
        // `[<TIMESTAMP_FORMAT>] <payload>` — timestamp first, payload after
        assert(l.matches("""\[\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d+\] """ +
          s""""tick $i""""), l)
      }
    } finally srv.close()
  }

  test("processor consumes --input, maps payloads through the demo " +
      "process step ('{} processed', processor.rs:52), produces to " +
      "--output: producer -> processor -> consumer chained on one " +
      "broker, the run matrix's full pipeline") {
    val srv = new EmbeddedRedis
    try {
      Producer.run(spark, s"redis://${srv.host}:${srv.port}/hello1",
        intervalMs = 2, ticks = 4)
      val n = Processor.run(spark,
        s"redis://${srv.host}:${srv.port}/hello1",
        s"redis://${srv.host}:${srv.port}/hello2",
        offsetStart = Some(true), once = true)
      assert(n == 4L)
      val out = captureOut {
        assert(Consumer.run(spark,
          s"redis://${srv.host}:${srv.port}/hello2", once = true) == 4L)
      }
      assert(out.map(_.split("] ", 2)(1)) ==
        (0 until 4).map(i => s""""tick $i" processed"""),
        out.mkString("\n"))
    } finally srv.close()
  }

  test("processor stdio leg: the run matrix's `producer | processor` " +
      "pipe — stdio line-file input to stdio output, processed lines " +
      "in producer format") {
    // stage producer output as the stdio input file (the pipe's left side)
    val lines = (0 until 3).map(i => StdioParser.formatLine(
      new java.sql.Timestamp(1000L + i), "hello1", i.toLong,
      s""""tick $i""""))
    val f = Files.createTempFile("examples-stdio", ".log")
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val out = captureOut {
      assert(Processor.run(spark, s"stdio://$f/hello1", "stdio:///hello2",
        offsetStart = Some(true), once = true) == 3L)
    }
    assert(out.length == 3)
    assert(out.forall(_.contains("| hello2 |")), out.mkString("\n"))
    (0 until 3).foreach { i =>
      assert(out.count(_.endsWith(s""""tick $i" processed""")) == 1,
        out.mkString("\n"))
    }
  }

  test("file leg of the run matrix (examples/README 'With File'): " +
      "producer writes a .ss container, consumer --once replays it, " +
      "processor file -> stdio prints processed producer-format lines") {
    val dir = Files.createTempDirectory("examples-file")
    assert(Producer.run(spark, s"file://$dir/hello",
      intervalMs = 2, ticks = 3) == 3L)
    val out = captureOut {
      assert(Consumer.run(spark, s"file://$dir/hello", once = true) == 3L)
    }
    assert(out.length == 3)
    out.zipWithIndex.foreach { case (l, i) =>
      assert(l.endsWith(s""""tick $i""""), l)
    }
    val out2 = captureOut {
      assert(Processor.run(spark, s"file://$dir/hello", "stdio:///hello2",
        offsetStart = Some(true), once = true) == 3L)
    }
    assert(out2.length == 3 && out2.forall(_.contains("| hello2 |")),
      out2.mkString("\n"))
    assert(out2.count(_.endsWith(""""tick 1" processed""")) == 1)
  }

  test("resumable continues from where it left off (examples/README " +
      "'can be killed anytime'): three --take slices over one redis " +
      "group cover the backlog as disjoint consecutive suffixes, no " +
      "local state between invocations") {
    val srv = new EmbeddedRedis
    try {
      Producer.run(spark, s"redis://${srv.host}:${srv.port}/hello1",
        intervalMs = 2, ticks = 9)
      def slice(): Seq[String] = {
        val before = srv.entries("hello2").size
        val n = Resumable.run(spark,
          s"redis://${srv.host}:${srv.port}/hello1",
          s"redis://${srv.host}:${srv.port}/hello2",
          group = "res-law", take = Some(3L))
        val after = srv.entries("hello2")
          .map(e => new String(e._2.head._2, "UTF-8"))
        assert(n == after.size - before, "returned count != rows shipped")
        after.drop(before)
      }
      val s1 = slice()
      assert(s1 == (0 until 3).map(i => s""""tick $i" processed"""), s1)
      val s2 = slice()
      assert(s2 == (3 until 6).map(i => s""""tick $i" processed"""), s2)
      val s3 = slice()
      assert(s3 == (6 until 9).map(i => s""""tick $i" processed"""), s3)
      // drained: a fourth invocation commits an empty slice and exits 0
      assert(Resumable.run(spark,
        s"redis://${srv.host}:${srv.port}/hello1",
        s"redis://${srv.host}:${srv.port}/hello2",
        group = "res-law", take = Some(3L)) == 0L)
    } finally srv.close()
  }

  test("resumable kafka leg: the group's committed offsets are the " +
      "resume point (resumable.rs kafka options), two slices then the " +
      "suffix — and a DIFFERENT group starts over from earliest") {
    val srv = new EmbeddedKafka
    val rsrv = new EmbeddedRedis
    try {
      Producer.run(spark, s"kafka://${srv.host}:${srv.port}/hello1",
        intervalMs = 2, ticks = 6)
      def drained(group: String, take: Long, outKey: String): Long =
        Resumable.run(spark,
          s"kafka://${srv.host}:${srv.port}/hello1",
          s"redis://${rsrv.host}:${rsrv.port}/$outKey",
          group = group, take = Some(take))
      assert(drained("res-k", 4L, "hello2") == 4L)
      assert(drained("res-k", 4L, "hello2") == 2L,
        "second slice must be the suffix")
      val vals = rsrv.entries("hello2")
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(vals == (0 until 6).map(i => s""""tick $i" processed"""), vals)
      // a fresh group has no committed position: earliest, the whole log
      // (a fresh DESTINATION key too — re-shipping old-ms entries onto
      // hello2 would trip the redis monotone-id refusal by design)
      assert(drained("res-k2", 10L, "hello3") == 6L)
    } finally { srv.close(); rsrv.close() }
  }

  test("resumable refuses an input with no group offset store (stdio), " +
      "typed — and --take rides the facade batchSize cap, which itself " +
      "refuses bounded reads and non-positive caps") {
    val e = intercept[SeaStreamErr.Unsupported](Resumable.run(spark,
      "stdio:///a", "stdio:///b", group = "g", take = Some(1L)))
    assert(e.getMessage.contains("group offset store"), e.getMessage)
    // the facade's batchSize validation (the knob --take maps to)
    import graft.facade.SeaStreamer
    import graft.facade.SeaStreamer.ConsumerOptions
    val conn = SeaStreamer.connect("redis://localhost:6379", spark)
    intercept[SeaStreamErr.Unsupported](conn.createConsumer(Seq("s"),
      ConsumerOptions(live = false, batchSize = Some(5L))))
    intercept[SeaStreamErr.Unsupported](conn.createConsumer(Seq("s"),
      ConsumerOptions(live = true, batchSize = Some(0L))))
  }

  test("resumable decides its checks from the connected backend: --take " +
      "passes on rediss (commitConsumed covers it) and is refused on iggy") {
    // rediss gets past the --take check; what stops it here is the
    // missing trust material, refused by connect
    val e = intercept[SeaStreamErr.Unsupported](Resumable.run(spark,
      "rediss://127.0.0.1:1/s", "stdio:///b", group = "g", take = Some(1L)))
    assert(!e.getMessage.contains("--take"), e.getMessage)
    assert(e.getMessage.contains("rediss requires"), e.getMessage)
    val iggy = intercept[SeaStreamErr.Unsupported](Resumable.run(spark,
      "iggy://127.0.0.1:1/s", "stdio:///b", group = "g", take = Some(1L)))
    assert(iggy.getMessage.contains("--take on 'iggy'"), iggy.getMessage)
    import graft.facade.SeaStreamer
    val (_, trust) = graft.core.TlsChannel.ephemeral
    val rediss = SeaStreamer.connect("rediss://127.0.0.1:1", spark,
      Map("redis.ssl.truststore.location" -> trust.truststore,
        "redis.ssl.truststore.password" -> trust.password))
    assert(rediss.hasGroupOffsets && rediss.commitsConsumed)
    val stdio = SeaStreamer.connect("stdio://.", spark)
    assert(!stdio.hasGroupOffsets && !stdio.commitsConsumed)
  }
}

