package graft.analytics

import org.apache.spark.sql.functions._

import graft.eos.{IggyRelaySource, KafkaTxnDestination,
  RedisLedgerDestination, RelayDriver}
import graft.iggy.{EmbeddedIggy, IggySource}

/** Iggy-backend queries under the DuckDB oracle gate: each round-trips the
  * `events` table through the embedded iggy-model broker — batched
  * SEND_MESSAGES in, offset-paged polls / `format("iggy-stream")`
  * micro-batch source out — then aggregates the decoded payloads, so the
  * oracle's hash-compare on the raw parquet pins the whole wire path. The
  * laws mirrored are the reference adapter's semantics
  * (sea-streamer-iggy/src/streamer.rs, options.rs):
  *
  *   - i1: a full produce → First-strategy poll replay round-trips every
  *     message with topic/partition/timestamp fidelity (the adapter's
  *     poll loop, streamer.rs:180-250);
  *   - i2: `maxMessagesPerTrigger` admission drains a deep backlog across
  *     bounded micro-batches without loss or duplication (the batch_size'd
  *     poll loop, options.rs:127-136, under Spark's offset model);
  *   - i3: the Timestamp polling strategy (options.rs:73-74) pushes the
  *     seek law `timestamp > T` into the server-side binary search — the
  *     pre-seek prefix is never polled.
  */
object IggyTransport {

  /** i1–i4 run WITH authentication on — every connection the producer,
    * bounded reader, micro-batch source and group client open must
    * LoginUser with NON-default credentials first (the k/r families'
    * run-with-security-on discipline).
    */
  private val OracleAuth = ("oracle", "i-family-gate")

  private def withServer[T](f: EmbeddedIggy => T): T = {
    val srv = new EmbeddedIggy(credentials = OracleAuth)
    try f(srv) finally srv.close()
  }

  val queries: Map[String, Relational.Q] = Map(
    // Round-trip law: produce everything (4 partitions per topic, partition
    // = shard), bounded-read everything back. localCheckpoint materializes
    // the replay before the server closes.
    "i1_iggy_roundtrip" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        IggySource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val replay = IggySource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, auth = OracleAuth).localCheckpoint(true)
        // iggy re-sequences: offsets are dense per partition, so the
        // envelope aggregate checks payload content, not raw sequence —
        // the payload carries the original event_id
        Transport.aggregate(replay, withDistinct = true)
      }
    },

    // Admission law: earliest + maxMessagesPerTrigger forces the backlog
    // through bounded micro-batches; the aggregate proves no message was
    // lost or re-delivered across batch seams. The cap scales with the
    // input (~4 batches at any sf).
    "i2_iggy_admission" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val cap = math.max(1000L, t.events.count() / 4)
        IggySource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val q = Transport.aggregate(
          s.readStream.format("iggy-stream")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("username", OracleAuth._1)
            .option("password", OracleAuth._2)
            .option("topics", Transport.eventTypes.mkString(","))
            .option("startingOffsets", "earliest")
            .option("maxMessagesPerTrigger", cap.toString)
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("i2_iggy_admission_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("i2_iggy_admission_sink")
      }
    },

    // Seek law (`timestamp > T`, strictly greater): T = the midpoint of the
    // events time range, pushed into the Timestamp polling strategy's
    // binary search — no post-filter, no scan of the pre-seek prefix.
    "i3_iggy_seek" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val bounds = t.events
          .agg(min(unix_millis(col("ts"))).as("lo"),
            max(unix_millis(col("ts"))).as("hi")).head()
        val cutoff = (bounds.getLong(0) + bounds.getLong(1)) / 2
        IggySource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val sought = IggySource.boundedRead(s, srv.host, srv.port,
          Transport.eventTypes, afterMs = Some(cutoff),
          auth = OracleAuth).localCheckpoint(true)
        Transport.aggregate(sought, withDistinct = false)
      }
    },

    // Group-resume law (k4/r6's discipline on this backend): a prior
    // member STORED each partition's last-delivered offset — resolved
    // deterministically as the message before the first with
    // ts >= cutoff+1 (the Timestamp strategy's own binary search, so the
    // committed point is exact) — and a `group`-anchored stream must
    // resume exactly past it, delivering the same strict suffix the seek
    // law defines (i3's oracle). The stream keeps committing as it drains
    // (poll auto-commit, the AfterPolling mode the reference defaults to,
    // options.rs:136).
    "i4_iggy_group_resume" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val bounds = t.events
          .agg(min(unix_millis(col("ts"))).as("lo"),
            max(unix_millis(col("ts"))).as("hi")).head()
        val cutoff = (bounds.getLong(0) + bounds.getLong(1)) / 2
        IggySource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val c = new graft.iggy.IggyClient(srv.host, srv.port,
          username = OracleAuth._1, password = OracleAuth._2)
        try {
          val g = (1, "g_oracle")
          Transport.eventTypes.foreach(
            c.createGroupIfAbsent(IggySource.DefaultStream, _, "g_oracle"))
          IggySource.tips(c, IggySource.DefaultStream, Transport.eventTypes)
            .foreach { case ((topic, p), tip) =>
              // the seek's predecessor is the last delivered message of the
              // "previous member" (none when the suffix starts at 0)
              val start = IggySource.seek(c, IggySource.DefaultStream, topic,
                p, cutoff, tip)
              if (start > 0)
                c.storeOffset(IggySource.DefaultStream, topic, p, g, start - 1)
            }
        } finally c.close()
        val q = Transport.aggregate(
          s.readStream.format("iggy-stream")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("username", OracleAuth._1)
            .option("password", OracleAuth._2)
            .option("topics", Transport.eventTypes.mkString(","))
            .option("startingOffsets", "earliest") // overridden by the group
            .option("group", "g_oracle")
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("i4_iggy_group_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("i4_iggy_group_sink")
      }
    },

    // The iggy→kafka exactly-once relay — the last seekable backend as a
    // relay-matrix source: iggy's dense per-partition offsets make the
    // cursor a plain next-offset, staged inside the kafka transaction
    // under the group with the source (topic, partition) as coordinate.
    // The envelope lands in iggy (auth on); bounded epochs move it into
    // kafka under SCRAM-inside-TLS; one partition's relay crashes after
    // producing + staging (its data aborts at the next fence, cursor
    // unmoved); the drained read_committed read-back must hash-match one
    // plain copy.
    "i5_iggy_kafka_eos" -> { (s, dir) =>
      withServer { srv =>
        val ksrv = new graft.kafka.EmbeddedKafka(
          credentials = Some(("graft", "graft-secret")),
          tls = Some(graft.kafka.KafkaTls.ephemeral._1))
        try {
          val t = Tables(s, dir)
          IggySource.write(Transport.envelopeOf(t), srv.host, srv.port,
            auth = OracleAuth)
          val cap = math.max(20L, t.events.count() / 20 / 4)
          val tlsC = graft.kafka.KafkaTls.ephemeral._2
          val creds = Some(("graft", "graft-secret"))
          val mech = graft.kafka.KafkaWire.Scram.Sha256
          val from = IggyRelaySource(srv.host, srv.port,
            IggySource.DefaultStream, Transport.eventTypes, cap,
            auth = OracleAuth)
          val to = KafkaTxnDestination(ksrv.host, ksrv.port, "g_i5", "i5eos",
            (t: String) => t, sasl = creds, saslMechanism = mech,
            tls = Some(tlsC))
          graft.ops.Failpoints.arm("i5-relay-crash")
          val crashed = try {
            RelayDriver.once(s, from,
              to.copy(crashBeforeCommit = Some("i5-relay-crash")))
            false
          } catch { case _: Exception => true }
          require(crashed, "the injected mid-relay crash did not fire")
          RelayDriver.all(s, from, to)
          val replay = graft.kafka.KafkaSource.boundedRead(s, ksrv.host,
            ksrv.port, Transport.eventTypes, sasl = creds,
            saslMechanism = mech, tls = Some(tlsC),
            readCommitted = true).localCheckpoint(true)
          Transport.aggregate(replay, withDistinct = false)
        } finally ksrv.close()
      }
    },

    // The iggy→redis twin: the next-offset cursor lives in a
    // WATCH-fenced `i6eos:{topic/part}` destination ledger, atomic with
    // the relayed entries in one MULTI/EXEC; same crash + drain gate.
    "i6_iggy_redis_eos" -> { (s, dir) =>
      withServer { srv =>
        val rsrv = new graft.redis.EmbeddedRedis(
          auth = Some(("oracle", "r-family-gate")))
        try {
          val t = Tables(s, dir)
          IggySource.write(Transport.envelopeOf(t), srv.host, srv.port,
            auth = OracleAuth)
          val cap = math.max(20L, t.events.count() / 20 / 4)
          val rAuth = RedisTransport.OracleAuth
          val from = IggyRelaySource(srv.host, srv.port,
            IggySource.DefaultStream, Transport.eventTypes, cap,
            auth = OracleAuth)
          val to = RedisLedgerDestination(rsrv.host, rsrv.port, "i6eos",
            (t: String) => t, auth = rAuth)
          graft.ops.Failpoints.arm("i6-relay-crash")
          val crashed = try {
            RelayDriver.once(s, from,
              to.copy(crashBeforeCommit = Some("i6-relay-crash")))
            false
          } catch { case _: Exception => true }
          require(crashed, "the injected mid-relay crash did not fire")
          RelayDriver.all(s, from, to)
          val shards = Transport.eventTypes
            .flatMap(st => (0L until 4L).map(sh => (st, sh)))
          val replay = graft.redis.RedisSource.boundedRead(s, rsrv.host,
            rsrv.port, shards, auth = rAuth).localCheckpoint(true)
          Transport.aggregate(replay, withDistinct = false)
        } finally rsrv.close()
      }
    })

  val oracles: Map[String, String] = Map(
    "i5_iggy_kafka_eos" -> Transport.aggregateOracle(withDistinct = false),
    "i6_iggy_redis_eos" -> Transport.aggregateOracle(withDistinct = false),
    "i1_iggy_roundtrip" -> Transport.aggregateOracle(withDistinct = true),
    "i2_iggy_admission" -> Transport.aggregateOracle(withDistinct = false),
    // the resumed stream delivers i3's strict suffix exactly
    "i4_iggy_group_resume" ->
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
    "i3_iggy_seek" ->
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
