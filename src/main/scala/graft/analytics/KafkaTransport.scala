package graft.analytics

import org.apache.spark.sql.functions._

import graft.eos.{FileRelaySource, KafkaRelaySource, KafkaTxnDestination,
  RedisLedgerDestination, RedisRelaySource, RelayDriver}
import graft.kafka.{EmbeddedKafka, KafkaSource}

/** Kafka-backend queries under the DuckDB oracle gate: each round-trips the
  * `events` table through the embedded Kafka-protocol broker — v2 record
  * batches produced in, fetch pages / `format("kafka-wire")` micro-batch
  * source out — then aggregates the decoded payloads, so the oracle's
  * hash-compare on the raw parquet pins the whole wire path (framing,
  * varints, CRC32C, ListOffsets, Fetch, Produce). The laws mirrored are the
  * reference adapter's semantics (sea-streamer-kafka/src):
  *
  *   - k1: a full produce → earliest-anchored consume round-trips every
  *     message with topic/partition/timestamp fidelity (consumer.rs:591-618
  *     message mapping, producer.rs:97-189 sends);
  *   - k2: `Consumer::seek(ts)` (strictly `>` law) pushes into
  *     ListOffsets/offsets_for_times (consumer.rs:464-494) — the pre-seek
  *     prefix is never fetched;
  *   - k3: `maxOffsetsPerTrigger` admission drains a deep backlog across
  *     bounded micro-batches without loss or duplication under Spark's
  *     offset model (the builtin connector's knob, same semantics).
  */
object KafkaTransport {

  /** k1-k5 run over SASL_SSL — SCRAM-SHA-256 inside a TLS channel (the
    * full `security.protocol` stack sits under the hash-compare gate, not
    * just a spec): the embedded listener speaks TLS from an ephemeral
    * keytool-generated keystore AND requires these credentials; every
    * connection handshakes TLS (trust from the paired truststore,
    * endpoint identification on), then runs the RFC 5802 exchange through
    * KafkaClient's KIP-152 handshake — client proof verified broker-side
    * against the StoredKey, server signature verified client-side (mutual
    * auth). The streaming reads carry the exact option strings
    * [[graft.facade.KafkaOptions.securityOptions]] emits — protocol +
    * truststore pair + mechanism + JAAS line, parsed back by the wire
    * driver. (On a real cluster the truststore file ships to executors
    * via `--files`; local[32] shares the filesystem.)
    */
  private val SaslCreds = ("graft", "graft-secret")
  private val Mech = graft.kafka.KafkaWire.Scram.Sha256
  private lazy val (tlsServer, tlsClient) = graft.kafka.KafkaTls.ephemeral

  private def saslOpts: Map[String, String] = {
    import graft.facade.KafkaOptions._
    securityOptions(SecurityProtocol.SaslSsl,
      Some(SaslOptions(SaslMechanism.ScramSha256,
        Some(SaslCreds._1), Some(SaslCreds._2))),
      Some(SslOptions(tlsClient.truststore, Some(tlsClient.password))))
  }

  private def withServer[T](f: EmbeddedKafka => T): T = {
    val srv = new EmbeddedKafka(credentials = Some(SaslCreds),
      tls = Some(tlsServer))
    try f(srv) finally srv.close()
  }

  /** The k6/k7 transactional log: poisoned copies (shifted event_ids,
    * negated values) produced under transactions that ABORT both before
    * and after the committed pass, which itself runs transactionally —
    * any leak through a read_committed consumer breaks n/sum/max in the
    * oracle hash.
    */
  private def txnPoisonedLog(s: org.apache.spark.sql.SparkSession,
      dir: String, srv: EmbeddedKafka): Unit = {
    val t = Tables(s, dir)
    val poison = t.events.select(
      col("event_type").as("stream_key"),
      pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
      (col("event_id") + 10000000L).as("sequence"),
      col("ts").as("timestamp"),
      to_json(struct((col("event_id") + 10000000L).as("event_id"),
        (-col("value")).as("value"))).cast("binary").as("payload"))
    KafkaSource.writeTransactional(poison, srv.host, srv.port,
      txnIdPrefix = "ktxn-rollback-pre", commit = false,
      sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
    KafkaSource.writeTransactional(Transport.envelopeOf(t), srv.host,
      srv.port, txnIdPrefix = "ktxn-commit", commit = true,
      sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
    KafkaSource.writeTransactional(poison, srv.host, srv.port,
      txnIdPrefix = "ktxn-rollback-post", commit = false,
      sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
  }

  /** The k1/k5 round-trip body — produce everything, bounded-read
    * everything back, aggregate the decoded payloads — with the producer
    * codec as the one varying knob, so the two entries can never drift.
    */
  private def roundTrip(s: org.apache.spark.sql.SparkSession, dir: String,
      compression: String): org.apache.spark.sql.DataFrame =
    withServer { srv =>
      val t = Tables(s, dir)
      KafkaSource.write(Transport.envelopeOf(t), srv.host, srv.port,
        sasl = Some(SaslCreds), saslMechanism = Mech,
        tls = Some(tlsClient), compression = compression)
      val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
        Transport.eventTypes, sasl = Some(SaslCreds), saslMechanism = Mech,
        tls = Some(tlsClient)).localCheckpoint(true)
      Transport.aggregate(replay, withDistinct = true)
    }

  val queries: Map[String, Relational.Q] = Map(
    // Round-trip law: produce everything (4 partitions per topic, partition
    // = shard % 4), bounded-read everything back. localCheckpoint
    // materializes the replay before the server closes. Kafka re-sequences
    // (offsets are dense per partition), so the aggregate checks payload
    // content, not raw sequence — the payload carries the event_id.
    "k1_kafka_roundtrip" -> { (s, dir) => roundTrip(s, dir, "none") },

    // Transactions-on-the-wire law (KIP-98; the reference producer's
    // init/begin/commit/abort surface, producer.rs:236-301): a rolled-back
    // producer's records are written into the SAME logs as the real data —
    // poisoned copies (shifted event_ids, negated values) produced under a
    // transaction that ABORTS both before and after the committed pass,
    // which itself runs transactionally (pid/epoch/sequence batches,
    // AddPartitionsToTxn, EndTxn markers). The read_committed consumer
    // must reconstruct exactly the committed data: LSO-bounded fetches,
    // aborted-range filtering off the broker's (pid, first_offset) index,
    // markers skipped — any leak breaks n/sum/max in the hash. The oracle
    // IS k1's: transactions must be invisible to committed data.
    "k6_kafka_txn" -> { (s, dir) =>
      withServer { srv =>
        txnPoisonedLog(s, dir, srv)
        val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, sasl = Some(SaslCreds), saslMechanism = Mech,
          tls = Some(tlsClient), readCommitted = true).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = true)
      }
    },

    // k6's STREAMING twin: the same poisoned transactional log consumed
    // through format("kafka-wire") with `isolation.level=read_committed`
    // (the builtin connector's knob) under bounded admission — the LSO
    // caps every trigger's planned end offsets, the partition readers
    // drop aborted ranges mid-page, and the accumulated aggregate must
    // hash-match the plain committed data across the micro-batch seams.
    "k7_kafka_txn_stream" -> { (s, dir) =>
      withServer { srv =>
        txnPoisonedLog(s, dir, srv)
        val cap = math.max(1000L, Tables(s, dir).events.count() / 4)
        val q = Transport.aggregate(
          s.readStream.format("kafka-wire")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("topics", Transport.eventTypes.mkString(","))
            .option("startingOffsets", "earliest")
            .option("maxOffsetsPerTrigger", cap.toString)
            .option("isolation.level", "read_committed")
            .options(saslOpts)
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("k7_kafka_txn_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("k7_kafka_txn_sink")
      }
    },

    // Exactly-once Spark→Kafka sink law (the reference's consume-
    // transform-produce loop, producer.rs:236-301, composed into
    // foreachBatch — VERDICT r13 #1): the events envelope is produced
    // into SOURCE topics, streamed back under bounded admission (~4
    // epochs), transformed (src_ prefix stripped), and written to the
    // SINK topics through KafkaEosSink — per epoch and writer slot one
    // KIP-98 transaction carrying the data AND the slot's epoch
    // watermark (send_offsets_to_transaction). TWO crashes are injected:
    // a task dies mid-epoch AFTER producing + staging but BEFORE commit
    // (its open txn must be fenced + aborted by the restart), and the
    // driver dies AFTER an epoch fully committed but before the
    // checkpoint advanced (the replay must skip via the in-txn ledger).
    // After both restarts the read_committed view of the sink must
    // hash-match exactly-once truth — the plain events aggregate, with
    // NO distinct to hide duplicates and count(*) to catch loss.
    "k8_kafka_eos_sink" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val src = Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
        KafkaSource.write(src, srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val cap = math.max(250L, t.events.count() / 4) // >= 3 data epochs at any sf
        val ckpt = Transport.scratch(dir, "k8ckpt")
        val fsC = new org.apache.hadoop.fs.Path(ckpt)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fsC.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        graft.kafka.KafkaEosSink.arm("k8-task-crash")
        var epochCrashArmed = true // driver-side: foreachBatch runs on the driver
        var restarts = 0
        var done = false
        while (!done) {
          val q = s.readStream.format("kafka-wire")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("topics",
              Transport.eventTypes.map("src_" + _).mkString(","))
            .option("startingOffsets", "earliest")
            .option("maxOffsetsPerTrigger", cap.toString)
            .options(saslOpts)
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], id: java.lang.Long) =>
              graft.kafka.KafkaEosSink.writeEpoch(
                b.toDF().withColumn("stream_key",
                  expr("substring(stream_key, 5)")),
                srv.host, srv.port, txnIdPrefix = "k8eos",
                ledgerGroup = "g_k8_ledger", epochId = id,
                sasl = Some(SaslCreds), saslMechanism = Mech,
                tls = Some(tlsClient),
                crashBeforeCommit =
                  if (id >= 1L) Some("k8-task-crash") else None)
              if (id >= 2L && epochCrashArmed) {
                epochCrashArmed = false
                throw new IllegalStateException(
                  s"injected crash: epoch $id committed, checkpoint not")
              }
            }.start()
          try { q.processAllAvailable(); done = true }
          catch { case _: Exception =>
            restarts += 1
            require(restarts <= 5, s"eos sink kept crashing ($restarts)")
          } finally q.stop()
        }
        require(restarts == 2,
          s"expected both injected crashes to fire, saw $restarts restarts")
        val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, sasl = Some(SaslCreds), saslMechanism = Mech,
          tls = Some(tlsClient), readCommitted = true).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      }
    },

    // The CAPSTONE chain — transport + analytics + exactly-once output in
    // one pipeline, the production ingest story end-to-end: events stream
    // in from SOURCE topics over the wire driver, each epoch runs a
    // QUALITY GATE (parse the payload, admit value > 50 — t23's
    // admission shape fused into the sink path), and the admitted sliver
    // lands in the sink topics through the KIP-98 exactly-once sink,
    // surviving an injected mid-epoch crash. The oracle is the gated
    // aggregate straight off the parquet: any loss, duplication, or gate
    // drift across the crash/restart breaks n/sum/max.
    "k10_kafka_eos_pipeline" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val src = Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
        KafkaSource.write(src, srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val cap = math.max(250L, t.events.count() / 4)
        val ckpt = Transport.scratch(dir, "k10ckpt")
        val fsC = new org.apache.hadoop.fs.Path(ckpt)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fsC.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        graft.kafka.KafkaEosSink.arm("k10-task-crash")
        var restarts = 0
        var done = false
        while (!done) {
          val q = s.readStream.format("kafka-wire")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("topics",
              Transport.eventTypes.map("src_" + _).mkString(","))
            .option("startingOffsets", "earliest")
            .option("maxOffsetsPerTrigger", cap.toString)
            .options(saslOpts)
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], id: java.lang.Long) =>
              val gated = b.toDF()
                .withColumn("stream_key", expr("substring(stream_key, 5)"))
                .withColumn("j", from_json(col("payload").cast("string"),
                  org.apache.spark.sql.types.StructType.fromDDL(
                    "event_id LONG, value DOUBLE")))
                .filter(col("j.value") > 50)
                .drop("j")
              graft.kafka.KafkaEosSink.writeEpoch(gated,
                srv.host, srv.port, txnIdPrefix = "k10eos",
                ledgerGroup = "g_k10_ledger", epochId = id,
                sasl = Some(SaslCreds), saslMechanism = Mech,
                tls = Some(tlsClient),
                crashBeforeCommit =
                  if (id >= 1L) Some("k10-task-crash") else None)
            }.start()
          try { q.processAllAvailable(); done = true }
          catch { case _: Exception =>
            restarts += 1
            require(restarts <= 5, s"eos pipeline kept crashing ($restarts)")
          } finally q.stop()
        }
        require(restarts == 1,
          s"expected the injected crash to fire once, saw $restarts")
        val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, sasl = Some(SaslCreds), saslMechanism = Mech,
          tls = Some(tlsClient), readCommitted = true).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      }
    },

    // The DESTINATION-anchored exactly-once relay: kafka source → redis
    // sink with the resume point INSIDE the destination store — each
    // (topic, partition)'s committed source offset lives in a redis
    // ledger key (`r10eos:{topic/part}`) and advances ATOMICALLY with
    // the relayed entries in one WATCH-fenced MULTI/EXEC (the
    // consume-kafka/write-store-with-offsets-in-store production
    // pattern; no Spark checkpoint, no kafka group anywhere). The kafka
    // source carries k9's aborted-transaction poison (the relay reads
    // read_committed and plans at the LSO — forwarding any poisoned
    // record breaks the hash); one range's relay crashes with its MULTI
    // queued but un-EXECed (nothing lands, the ledger holds), and the
    // drain re-relays exactly that range. Both securities stay on:
    // SCRAM-inside-TLS on the kafka side, AUTH on the redis side.
    "r10_kafka_redis_eos" -> { (s, dir) =>
      withServer { srv =>
        val redisSrv = new graft.redis.EmbeddedRedis(
          auth = Some(("oracle", "r-family-gate")))
        try {
          val t = Tables(s, dir)
          val src = Transport.envelopeOf(t)
            .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
          KafkaSource.write(src, srv.host, srv.port,
            sasl = Some(SaslCreds), saslMechanism = Mech,
            tls = Some(tlsClient))
          val srcTopics = Transport.eventTypes.map("src_" + _)
          val poison = new graft.kafka.KafkaClient(srv.host, srv.port,
            sasl = Some(SaslCreds), saslMechanism = Mech,
            tls = Some(tlsClient))
          try {
            val p = new graft.kafka.KafkaTxnProducer(poison, "r10-poison")
              .initTransactions()
            p.begin()
            srcTopics.foreach(topic => p.send(topic, 0,
              (0 until 5).map(i =>
                (1000L + i, null, s"""{"event_id":$i,"value":9.9}"""
                  .getBytes("UTF-8")))))
            p.abort()
          } finally poison.close()
          val cap = math.max(20L, t.events.count() / 20 / 4)
          val from = KafkaRelaySource(srv.host, srv.port, srcTopics, cap,
            sasl = Some(SaslCreds), saslMechanism = Mech,
            tls = Some(tlsClient))
          val to = RedisLedgerDestination(redisSrv.host, redisSrv.port,
            "r10eos", _.stripPrefix("src_"),
            auth = RedisTransport.OracleAuth)
          graft.ops.Failpoints.arm("r10-relay-crash")
          val crashed = try {
            RelayDriver.once(s, from,
              to.copy(crashBeforeCommit = Some("r10-relay-crash")))
            false
          } catch { case _: Exception => true }
          require(crashed, "the injected mid-relay crash did not fire")
          RelayDriver.all(s, from, to)
          val shards = Transport.eventTypes
            .flatMap(st => (0L until 4L).map(sh => (st, sh)))
          val replay = graft.redis.RedisSource.boundedRead(s,
            redisSrv.host, redisSrv.port, shards,
            auth = RedisTransport.OracleAuth).localCheckpoint(true)
          Transport.aggregate(replay, withDistinct = false)
        } finally redisSrv.close()
      }
    },

    // The redis→kafka exactly-once ingest — the relay matrix's fourth
    // corner: the destination is transactional, so the SOURCE cursor
    // stages inside the kafka transaction (send_offsets_to_transaction,
    // producer.rs:236-301) with the packed redis entry id
    // ((ms << 16) | sub_seq, message.rs:27-64) as the committed "offset"
    // of synthetic coordinate (stream, shard) — entries and resume point
    // publish atomically at commit, no Spark checkpoint, no redis-side
    // state. The events envelope lands in source redis streams (AUTH
    // on); bounded ingest epochs move it into kafka topics under
    // SCRAM-inside-TLS, with one shard's relay crashing after producing
    // + staging, before commit (its data aborts at the next fence, its
    // cursor never moves); the drain re-relays exactly that range, and
    // the read_committed read-back must hash-match one plain copy.
    "k11_redis_kafka_eos" -> { (s, dir) =>
      withServer { srv =>
        val redisSrv = new graft.redis.EmbeddedRedis(
          auth = Some(("oracle", "r-family-gate")))
        try {
          val t = Tables(s, dir)
          val src = Transport.envelopeOf(t)
            .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
          graft.redis.RedisSource.write(src, redisSrv.host, redisSrv.port,
            auth = RedisTransport.OracleAuth)
          val shards = Transport.eventTypes.map("src_" + _)
            .flatMap(st => (0L until 4L).map(sh => (st, sh)))
          val cap = math.max(20L, t.events.count() / 20 / 4)
          val from = RedisRelaySource(redisSrv.host, redisSrv.port, shards,
            cap, auth = RedisTransport.OracleAuth)
          val to = KafkaTxnDestination(srv.host, srv.port, "g_k11_ingest",
            "k11eos", _.stripPrefix("src_"), sasl = Some(SaslCreds),
            saslMechanism = Mech, tls = Some(tlsClient))
          graft.kafka.KafkaEosSink.arm("k11-ingest-crash")
          val crashed = try {
            RelayDriver.once(s, from,
              to.copy(crashBeforeCommit = Some("k11-ingest-crash")))
            false
          } catch { case _: Exception => true }
          require(crashed &&
            !graft.kafka.KafkaEosSink.armed("k11-ingest-crash"),
            "the injected mid-ingest crash did not fire")
          RelayDriver.all(s, from, to)
          val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
            Transport.eventTypes, sasl = Some(SaslCreds),
            saslMechanism = Mech, tls = Some(tlsClient),
            readCommitted = true).localCheckpoint(true)
          Transport.aggregate(replay, withDistinct = false)
        } finally redisSrv.close()
      }
    },

    // The `.ss` file → kafka exactly-once shipper — the file backend as
    // a relay SOURCE (the reference's file backend exists to dump a
    // stream and replay it; this ships the dump into kafka without loss
    // or duplication). The envelope lands in a format("ss") directory
    // (one part file per writing partition); each file's frame-exact
    // BYTE cursor stages inside the kafka transaction under the group,
    // epochs are byte-capped (~4 per file), one file's ship crashes
    // after producing + staging (its data aborts at the next fence, its
    // cursor never moves), and the drained read_committed read-back must
    // hash-match one plain copy — all under SCRAM-inside-TLS.
    "k12_ss_kafka_eos" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val out = Transport.scratch(dir, "k12ss")
        Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
          .write.format("ss").mode("overwrite").save(out)
        val files = new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".ss")).sortBy(_.getName)
        val paths = files.map(_.getAbsolutePath).toSeq
        val cap = math.max(8192L, files.map(_.length()).max / 4)
        val from = FileRelaySource(paths, cap, partitions = Some(4))
        val to = KafkaTxnDestination(srv.host, srv.port, "g_k12_ship",
          "k12ship", _.stripPrefix("src_"), sasl = Some(SaslCreds),
          saslMechanism = Mech, tls = Some(tlsClient))
        graft.ops.Failpoints.arm("k12-ship-crash")
        val crashed = try {
          RelayDriver.once(s, from,
            to.copy(crashBeforeCommit = Some("k12-ship-crash")))
          false
        } catch { case _: Exception => true }
        require(crashed, "the injected mid-ship crash did not fire")
        RelayDriver.all(s, from, to)
        val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, sasl = Some(SaslCreds),
          saslMechanism = Mech, tls = Some(tlsClient),
          readCommitted = true).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      }
    },

    // The broker-anchored exactly-once relay — the reference's
    // consume-transform-produce loop with send_offsets_to_transaction
    // staging the REAL source offsets (producer.rs:236-301), NO Spark
    // checkpoint anywhere: the resume point IS the consumer group's
    // committed offset, published atomically with the relayed data. The
    // events envelope lands in SOURCE topics; bounded relay epochs move
    // it to the sink topics (~4 epochs via the per-partition cap), with
    // a crash injected mid-epoch (one partition's relay dies after
    // producing + staging, before commit). The drain loop re-runs: the
    // crashed range's data was aborted at the fence, its offset never
    // moved, the replay re-relays exactly it — and the read_committed
    // sink must hash-match the plain aggregate (no distinct to mask
    // duplicates, count(*) to catch loss).
    "k9_kafka_eos_relay" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val src = Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
        KafkaSource.write(src, srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val srcTopics = Transport.eventTypes.map("src_" + _)
        // per-partition cap: 20 (topic, partition) ranges at any sf —
        // total/4 per epoch spreads the drain over ~4 epochs
        val cap = math.max(20L, t.events.count() / 20 / 4)
        // POISON the source mid-log with an aborted transaction (round
        // 15): the relay reads read_committed with LSO-capped plans, so
        // these records must never reach the sink — if they did, the
        // oracle hash (one plain copy of events) would break
        val poison = new graft.kafka.KafkaClient(srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech,
          tls = Some(tlsClient))
        try {
          val p = new graft.kafka.KafkaTxnProducer(poison, "k9-poison")
            .initTransactions()
          p.begin()
          srcTopics.foreach(topic => p.send(topic, 0,
            (0 until 5).map(i =>
              (1000L + i, null, s"""{"event_id":$i,"value":9.9}"""
                .getBytes("UTF-8")))))
          p.abort()
        } finally poison.close()
        val from = KafkaRelaySource(srv.host, srv.port, srcTopics, cap,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val to = KafkaTxnDestination(srv.host, srv.port, "g_k9_relay",
          "k9eos", _.stripPrefix("src_"), sasl = Some(SaslCreds),
          saslMechanism = Mech, tls = Some(tlsClient))
        graft.kafka.KafkaEosSink.arm("k9-relay-crash")
        val crashed = try {
          RelayDriver.once(s, from,
            to.copy(crashBeforeCommit = Some("k9-relay-crash")))
          false
        } catch { case _: Exception => true }
        require(crashed && !graft.kafka.KafkaEosSink.armed("k9-relay-crash"),
          "the injected mid-relay crash did not fire")
        RelayDriver.all(s, from, to)
        val replay = KafkaSource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, sasl = Some(SaslCreds), saslMechanism = Mech,
          tls = Some(tlsClient), readCommitted = true).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      }
    },

    // Compressed round-trip law: `compression.type=zstd` on the producer,
    // the broker stores each batch AS PRODUCED (the compression.type=
    // producer default), and the fetch decode reads the codec from every
    // batch's own attributes bits — so the whole compressed path (frame,
    // CRC32C over the COMPRESSED records, unwrap on fetch) sits under the
    // hash-compare gate, inside the same SASL_SSL channel as k1. The
    // oracle IS k1's: compression must be invisible to the data.
    "k5_kafka_zstd_roundtrip" -> { (s, dir) => roundTrip(s, dir, "zstd") },

    // Seek law (`timestamp > T`, strictly greater): T = the midpoint of the
    // events time range, pushed into ListOffsets' first-ts>=T+1 lookup —
    // no post-filter, no fetch of the pre-seek prefix.
    "k2_kafka_seek" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val bounds = t.events
          .agg(min(unix_millis(col("ts"))).as("lo"),
            max(unix_millis(col("ts"))).as("hi")).head()
        val cutoff = (bounds.getLong(0) + bounds.getLong(1)) / 2
        KafkaSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val sought = KafkaSource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, afterMs = Some(cutoff),
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient)).localCheckpoint(true)
        Transport.aggregate(sought, withDistinct = false)
      }
    },

    // Group-resume law: a prior member committed each partition's
    // first-past-the-cutoff offset (resolved via ListOffsets, so the
    // committed point is deterministic); a `group`-anchored stream must
    // resume exactly there — delivering the same strict-suffix the seek
    // law defines (k2's oracle), with the pre-commit prefix never fetched.
    // The stream itself re-commits as it drains (OffsetCommit per epoch).
    "k4_kafka_group_resume" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val bounds = t.events
          .agg(min(unix_millis(col("ts"))).as("lo"),
            max(unix_millis(col("ts"))).as("hi")).head()
        val cutoff = (bounds.getLong(0) + bounds.getLong(1)) / 2
        KafkaSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val c = new graft.kafka.KafkaClient(srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        try {
          c.findCoordinator("g_oracle")
          val commits = KafkaSource.tips(c, Transport.eventTypes,
            (_, _) => true, readCommitted = false).map {
            case ((topic, p), tip) =>
              (topic, p) -> KafkaSource.seek(c, topic, p, cutoff, tip)
          }.toMap
          c.commitOffsets("g_oracle", commits)
        } finally c.close()
        val q = Transport.aggregate(
          s.readStream.format("kafka-wire")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("topics", Transport.eventTypes.mkString(","))
            .option("startingOffsets", "earliest") // overridden by the group
            .option("group", "g_oracle")
            .options(saslOpts)
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("k4_kafka_group_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("k4_kafka_group_sink")
      }
    },

    // Admission law: earliest + maxOffsetsPerTrigger forces the backlog
    // through bounded micro-batches; the aggregate proves no message was
    // lost or re-delivered across batch seams (~4 batches at any sf).
    "k3_kafka_admission" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val cap = math.max(1000L, t.events.count() / 4)
        KafkaSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          sasl = Some(SaslCreds), saslMechanism = Mech, tls = Some(tlsClient))
        val q = Transport.aggregate(
          s.readStream.format("kafka-wire")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("topics", Transport.eventTypes.mkString(","))
            .option("startingOffsets", "earliest")
            .option("maxOffsetsPerTrigger", cap.toString)
            .options(saslOpts)
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("k3_kafka_admission_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("k3_kafka_admission_sink")
      }
    })

  val oracles: Map[String, String] = Map(
    "k1_kafka_roundtrip" -> Transport.aggregateOracle(withDistinct = true),
    // compression is invisible to the data: the zstd path must hash-match
    // the identical uncompressed aggregate
    "k5_kafka_zstd_roundtrip" ->
      Transport.aggregateOracle(withDistinct = true),
    // the aborted transactions must be invisible: read_committed replay
    // of the txn-produced log hash-matches k1's plain aggregate
    "k6_kafka_txn" -> Transport.aggregateOracle(withDistinct = true),
    // the streaming form under bounded admission — same invisibility law
    // across micro-batch seams (k3's oracle shape)
    "k7_kafka_txn_stream" -> Transport.aggregateOracle(withDistinct = false),
    // exactly-once truth: after a mid-epoch task crash AND a
    // committed-epoch driver crash (two restarts), the read_committed
    // sink equals the plain aggregate — no distinct to mask duplicates
    "k8_kafka_eos_sink" -> Transport.aggregateOracle(withDistinct = false),
    // the broker-anchored relay under the same exactly-once law: resume
    // from group offsets alone (no checkpoint), injected mid-relay crash
    "k9_kafka_eos_relay" -> Transport.aggregateOracle(withDistinct = false),
    // destination-anchored relay: offsets-in-redis, crash + poison
    // drain to exactly one plain copy of events
    "r10_kafka_redis_eos" -> Transport.aggregateOracle(withDistinct = false),
    "k11_redis_kafka_eos" -> Transport.aggregateOracle(withDistinct = false),
    "k12_ss_kafka_eos" -> Transport.aggregateOracle(withDistinct = false),
    // the gated chain: only the admitted sliver (value > 50 — the same
    // double both engines compare, JSON round-trip is bit-exact) may
    // reach the sink, exactly once, across the injected crash
    "k10_kafka_eos_pipeline" ->
      """SELECT event_type AS stream_key, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(event_id) AS max_event_id
        |FROM events WHERE value > 50 GROUP BY event_type""".stripMargin,
    "k3_kafka_admission" -> Transport.aggregateOracle(withDistinct = false),
    // same cutoff law as the iggy/redis seek oracles: epochs at ms
    // resolution, strictly greater than the midpoint
    // identical suffix law as k2: the committed offsets ARE the seek point
    "k4_kafka_group_resume" ->
      """WITH b AS (
        |  SELECT (epoch_ms(min(date_trunc('milliseconds', ts))) +
        |          epoch_ms(max(date_trunc('milliseconds', ts)))) // 2 AS cutoff
        |  FROM events)
        |SELECT event_type AS stream_key, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(event_id) AS max_event_id
        |FROM events, b
        |WHERE epoch_ms(date_trunc('milliseconds', ts)) > b.cutoff
        |GROUP BY event_type""".stripMargin,
    "k2_kafka_seek" ->
      """WITH b AS (
        |  SELECT (epoch_ms(min(date_trunc('milliseconds', ts))) +
        |          epoch_ms(max(date_trunc('milliseconds', ts)))) // 2 AS cutoff
        |  FROM events)
        |SELECT event_type AS stream_key, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(event_id) AS max_event_id
        |FROM events, b
        |WHERE epoch_ms(date_trunc('milliseconds', ts)) > b.cutoff
        |GROUP BY event_type""".stripMargin)
}
