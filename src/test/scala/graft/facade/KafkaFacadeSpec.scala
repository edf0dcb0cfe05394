package graft.facade

import graft.TestSession
import graft.facade.SeaStreamer.{AutoStreamReset, ConsumerOptions}
import graft.kafka.EmbeddedKafka
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `kafka://` through the facade against the embedded wire-protocol broker —
  * the reference backend's user surface (connect → producer → consumer with
  * seek/rewind/assign) executed end-to-end over real Kafka bytes through
  * the wire driver, the facade's one Kafka path.
  */
class KafkaFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def mkEnvelope(n: Int) = (0 until n).map { i =>
    (s"s${i % 2}", (i % 4).toLong, i.toLong,
      new java.sql.Timestamp(1700000000000L + i * 1000L), s"p$i".getBytes("UTF-8"))
  }.toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")

  private def withBroker[T](f: (EmbeddedKafka, SeaStreamer.Connection) => T): T = {
    val srv = new EmbeddedKafka
    try f(srv, SeaStreamer.connect(s"kafka://${srv.host}:${srv.port}", spark))
    finally srv.close()
  }

  test("kafka produce then replay-consume round-trips the envelope") {
    withBroker { (_, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      val replay = conn.createConsumer(Seq("s0"),
        ConsumerOptions(live = false,
          autoStreamReset = AutoStreamReset.Earliest))
      assert(replay.count() == 20)
      assert(replay.select("stream_key").distinct().as[String].collect()
        .toSeq == Seq("s0"))
      // shard fidelity: shard = partition = original shard % 4; s0 carries
      // the even shards
      assert(replay.select("shard_id").distinct().as[Long].collect()
        .toSet == Set(0L, 2L))
      // payload fidelity
      val payloads = replay.select("payload").as[Array[Byte]].collect()
        .map(new String(_, "UTF-8")).toSet
      assert(payloads == (0 until 40 by 2).map(i => s"p$i").toSet)
    }
  }

  test("kafka seek law: strictly greater than the seek timestamp") {
    withBroker { (_, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      val cutoff = new java.sql.Timestamp(1700000000000L + 19 * 1000L)
      val sought = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = false, seekTimestamp = Some(cutoff)))
      val seqs = sought.select("payload").as[Array[Byte]].collect()
        .map(b => new String(b, "UTF-8").stripPrefix("p").toInt).toSet
      assert(seqs == (20 until 40).toSet, s"got $seqs")
    }
  }

  test("kafka assign pins (stream, shard) pairs on the wire driver") {
    withBroker { (_, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      val pinned = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = false,
          assignShards = Some(Seq(("s0", 0L), ("s1", 3L)))))
      val got = pinned.select("stream_key", "shard_id").distinct()
        .as[(String, Long)].collect().toSet
      assert(got == Set(("s0", 0L), ("s1", 3L)))
    }
  }

  test("kafka.compression.type through the options surface: every " +
      "published codec lands on the log with its bits and the plain " +
      "consumer path round-trips; unknown codecs refused before any " +
      "executor work") {
    for (codecName <- Seq("gzip", "snappy", "lz4", "zstd")) {
      val srv = new EmbeddedKafka
      try {
        val conn = SeaStreamer.connect(s"kafka://${srv.host}:${srv.port}",
          spark, Map("kafka.compression.type" -> codecName))
        conn.createGenericProducer().send(mkEnvelope(40))
        // every produced batch carries the codec bits (partitions 0-3)
        val want = graft.kafka.KafkaWire.Codec.of(codecName)
        val codecs = (0 until 4).flatMap(p => srv.storedBatchCodecs("s0", p))
        assert(codecs.nonEmpty && codecs.forall(_ == want),
          s"expected all-$codecName log, got $codecs")
        // a connection WITHOUT the option reads it back identically
        val plainConn = SeaStreamer.connect(
          s"kafka://${srv.host}:${srv.port}", spark)
        val replay = plainConn.createConsumer(Seq("s0", "s1"),
          ConsumerOptions(live = false,
            autoStreamReset = AutoStreamReset.Earliest))
        assert(replay.count() == 40, s"$codecName round-trip")
      } finally srv.close()
    }
    // names outside the published matrix are refused loudly at write time
    val srv = new EmbeddedKafka
    try {
      val e = intercept[IllegalArgumentException] {
        SeaStreamer.connect(s"kafka://${srv.host}:${srv.port}", spark,
          Map("kafka.compression.type" -> "lzma"))
          .createGenericProducer().send(mkEnvelope(4))
      }
      assert(e.getMessage.contains("lzma"))
    } finally srv.close()
  }

  test("kafka live seek anchors at ListOffsets(ms+1) — pre-seek prefix never fetched") {
    withBroker { (_, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      val cutoff = new java.sql.Timestamp(1700000000000L + 19 * 1000L)
      val live = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = true, seekTimestamp = Some(cutoff)))
      val q = live.select(col("payload").cast("string").as("p"))
        .writeStream.format("memory").queryName("kafka_live_seek").start()
      try q.processAllAvailable() finally q.stop()
      val seqs = spark.table("kafka_live_seek").as[String].collect()
        .map(_.stripPrefix("p").toInt).toSet
      assert(seqs == (20 until 40).toSet, s"got $seqs")
    }
  }

  test("kafka group resumes from committed offsets and commits its progress") {
    withBroker { (srv, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      // a prior member fully consumed s0: commit its tips
      val c = new graft.kafka.KafkaClient(srv.host, srv.port)
      try {
        val tips = c.latestOffsets("s0", c.metadata(Seq("s0"))("s0"))
        c.commitOffsets("g7", tips.map { case (p, o) => ("s0", p) -> o })
      } finally c.close()
      val live = spark.readStream.format("kafka-wire")
        .option("host", srv.host).option("port", srv.port.toString)
        .option("topics", "s0,s1")
        .option("startingOffsets", "earliest")
        .option("group", "g7").load()
      val q = live.groupBy("stream_key").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("kafka_group_resume").start()
      try {
        q.processAllAvailable()
        // s0's committed prefix is skipped entirely; s1 reads from earliest
        val got = spark.table("kafka_group_resume")
          .as[(String, Long)].collect().toMap
        assert(got == Map("s1" -> 20L), s"got $got")
        // epoch commit lags one batch (Spark calls source.commit(end) when
        // the NEXT batch is constructed) — append and drain once more, then
        // batch 0's end offsets must be on the broker
        conn.createGenericProducer().send(mkEnvelope(40))
        q.processAllAvailable()
        val committed = srv.committedOffset("g7", "s1", 1)
        assert(committed.exists(_ >= 10L),
          s"s1/1 should have >= 10 committed after batch 0, got $committed")
      } finally q.stop()
    }
  }

  test("kafka live consumer drains through the kafka-wire stream") {
    withBroker { (_, conn) =>
      conn.createGenericProducer().send(mkEnvelope(12))
      val live = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = true,
          autoStreamReset = AutoStreamReset.Earliest))
      val q = live.groupBy("stream_key").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("kafka_facade_live").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("kafka_facade_live")
        .as[(String, Long)].collect().toMap
      assert(got == Map("s0" -> 6L, "s1" -> 6L))
    }
  }

  test("facade live producer with kafkaTransactionalId: the reference's " +
      "transactional producer surface — epochs land as KIP-98 txns with " +
      "the offsets-in-txn ledger") {
    withBroker { (srv, conn) =>
      conn.createGenericProducer().send(mkEnvelope(24))
      val live = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = true,
          autoStreamReset = AutoStreamReset.Earliest))
        .withColumn("stream_key",
          regexp_replace(col("stream_key"), "^s", "d"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("ktxn_facade").toString
      val q = conn.createGenericProducer()
        .sendStream(live, ckpt, kafkaTransactionalId = Some("facade-eos"))
      try q.processAllAvailable() finally q.stop()
      // every relayed row is visible to a read_committed scan (all the
      // sink's transactions committed), exactly once
      val c = new graft.kafka.KafkaClient(srv.host, srv.port)
      try {
        val vals = Seq("d0", "d1").flatMap(t => (0 until 4).flatMap(p =>
          c.fetchIso(t, p, 0L, readCommitted = true)._3
            .map(r => new String(r.value, "UTF-8"))))
        assert(vals.sorted == (0 until 24).map(i => s"p$i").sorted,
          s"transactional facade sink lost/duplicated rows: $vals")
        // the epoch ledger committed atomically with the data
        val marks = c.fetchOffsets("facade-eos-ledger",
          Map(graft.kafka.KafkaEosSink.ledgerTopic("facade-eos") ->
            (0 until 8)))
        assert(marks.nonEmpty && marks.values.forall(_ >= 1L),
          s"missing epoch watermarks: $marks")
      } finally c.close()
      // mechanism exclusivity and scheme gating are typed errors
      intercept[graft.core.SeaStreamErr.Unsupported] {
        conn.createGenericProducer().sendStream(live, ckpt,
          exactlyOnceLedger = Some("/tmp/x"),
          kafkaTransactionalId = Some("facade-eos"))
      }
      intercept[graft.core.SeaStreamErr.Unsupported] {
        conn.createGenericProducer().sendStream(live, ckpt,
          redisLedgerPrefix = Some("feos")) // redis mechanism, kafka scheme
      }
    }
  }

  test("kafka assign prunes the bounded fetch PLAN to the pinned partitions") {
    withBroker { (srv, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      // result law: exactly the assigned (topic, partition) slices
      val pinned = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = false,
          autoStreamReset = AutoStreamReset.Earliest,
          assignShards = Some(Seq(("s0", 0L), ("s1", 3L)))))
      assert(pinned.select("stream_key", "shard_id").distinct()
        .as[(String, Long)].collect().toSet == Set(("s0", 0L), ("s1", 3L)))
      assert(pinned.count() == 20)
      // plan law: the pin prunes the SCAN — one task per ASSIGNED
      // partition, not per topic partition (8 without the pin)
      val direct = graft.kafka.KafkaSource.boundedRead(spark, srv.host,
        srv.port, Seq("s0", "s1"), assign = Some(Seq(("s0", 0L), ("s1", 3L))))
      assert(direct.rdd.getNumPartitions == 2)
      val full = graft.kafka.KafkaSource.boundedRead(spark, srv.host,
        srv.port, Seq("s0", "s1"))
      assert(full.rdd.getNumPartitions == 8)
    }
  }

  test("kafka live assign: unassigned partitions never enter the stream") {
    withBroker { (_, conn) =>
      conn.createGenericProducer().send(mkEnvelope(40))
      val live = conn.createConsumer(Seq("s0", "s1"),
        ConsumerOptions(live = true,
          autoStreamReset = AutoStreamReset.Earliest,
          assignShards = Some(Seq(("s1", 1L)))))
      val q = live.select(col("stream_key"), col("shard_id"),
          col("payload").cast("string").as("p"))
        .writeStream.format("memory").queryName("kafka_live_assign").start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("kafka_live_assign")
        .as[(String, Long, String)].collect()
      assert(rows.map(r => (r._1, r._2)).toSet == Set(("s1", 1L)))
      // s1 carries odd i; shard 1 = i % 4 == 1
      assert(rows.map(_._3.stripPrefix("p").toInt).toSet ==
        (0 until 40).filter(i => i % 2 == 1 && i % 4 == 1).toSet)
    }
  }
}
