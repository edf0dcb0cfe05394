package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eos.{FileRelaySource, RedisLedgerDestination, RedisRelaySource,
  RelayDriver}
import graft.redis.{EmbeddedRedis, RedisClient, RedisGroupConsumer, RedisSource}

/** Redis-backend queries under the DuckDB oracle gate: each round-trips the
  * `events` table through the embedded RESP server — pipelined XADD producer
  * in, XRANGE bounded read / `format("redis-stream")` micro-batch source
  * out — then aggregates the decoded payloads, so the oracle's hash-compare
  * on the raw parquet pins the whole wire path. The laws mirrored here are
  * the reference's own behavioral tests:
  *
  *   - r1: Earliest replays the full stream
  *     (sea-streamer-redis/tests/realtime.rs:96-134);
  *   - r2: Latest anchors at the tip and sees exactly the post-anchor
  *     messages (realtime.rs:56-94 — the `[5..9]` vs `[0..9]` windows);
  *   - r3: round-robin sharding lands message i on shard i % n and the
  *     consumer merges all shards (sharding.rs:20-96);
  *   - r4: seek by time delivers exactly `timestamp > T`, pushed into the
  *     XRANGE start id, not post-filtered (seek-rewind.rs:22-121);
  *   - r5: a capped consumer (`maxEntriesPerTrigger`) drains a deep backlog
  *     across bounded batches without loss or duplication (the reference's
  *     paged `XREAD COUNT n` loop, consumer/node.rs:448-610);
  *   - r6: a crashed group member's unacked deliveries are reclaimed
  *     (`XAUTOCLAIM`) and re-delivered, not lost to the PEL
  *     (load-balanced.rs:160+, consumer/node.rs:647-744);
  *   - r7: relay — consume one backend, produce into another
  *     (benchmark/README.md `relay` workload), here .ss -> redis.
  */
object RedisTransport {

  /** Far enough that every re-sent entry id sorts after the backlog. */
  private val LatestShiftMs = 6311520000000L // ≈ 200 years

  /** r1–r7 run WITH authentication on — every connection the producer,
    * bounded reader, micro-batch source and group consumer open AUTHs
    * first (the k-family's run-with-security-on discipline, here with the
    * reference's username/password connect options).
    */
  private val OracleUser = "oracle"
  private val OraclePass = "r-family-gate"
  private[analytics] val OracleAuth =
    Some(RedisClient.Auth(Some(OracleUser), OraclePass))

  private def withServer[T](f: EmbeddedRedis => T): T = {
    val srv = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
    try f(srv) finally srv.close()
  }

  private def allShards(n: Int): Seq[(String, Long)] =
    Transport.eventTypes.flatMap(st => (0L until n.toLong).map(sh => (st, sh)))

  val queries: Map[String, Relational.Q] = Map(
    // Earliest law: produce everything, bounded-read everything back.
    // localCheckpoint materializes the replay before the server closes.
    "r1_redis_roundtrip" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        RedisSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val replay = RedisSource.boundedRead(s, srv.host, srv.port,
          allShards(4), auth = OracleAuth).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = true)
      }
    },

    // Latest law: anchor at the tips with a backlog present, then send the
    // events again (timestamps shifted past the backlog) — the consumer must
    // deliver exactly the post-anchor copy, so the aggregate equals ONE copy
    // of events. Seeing the backlog too would double every count.
    "r2_redis_latest" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val env = Transport.envelopeOf(t)
        // the backlog the anchor must skip: its CONTENT is never read (the
        // law is that Latest sees none of it), so a 1/10 sample per key
        // keeps the wire cost at one pass instead of two
        RedisSource.write(env.filter(pmod(col("sequence"), lit(10)) === 0),
          srv.host, srv.port, auth = OracleAuth)
        val q = Transport.aggregate(
          s.readStream.format("redis-stream")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("username", OracleUser).option("password", OraclePass)
            .option("streams", Transport.eventTypes.mkString(","))
            .option("shards", "4")
            .option("startingOffsets", "latest")
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("r2_redis_latest_sink").start()
        try {
          q.processAllAvailable() // forces the anchor before the live phase
          RedisSource.write(
            env.withColumn("timestamp",
              timestamp_millis(unix_millis(col("timestamp")) + LatestShiftMs)),
            srv.host, srv.port, auth = OracleAuth)
          q.processAllAvailable()
        } finally q.stop()
        s.table("r2_redis_latest_sink")
      }
    },

    // Exactly-once Spark→redis sink (k8's law on the primitive redis
    // actually has — MULTI/EXEC): the envelope streams in from SOURCE
    // streams under bounded admission (~4 epochs); each epoch lands in
    // the sink streams through RedisSource.writeExactlyOnce — per writer
    // slot ONE MULTI queueing every XADD plus the slot's bumped epoch
    // watermark (a plain ledger key), committed atomically at EXEC. TWO
    // crashes inject: a task dies with its MULTI queued but UN-EXECed
    // (the connection takes the queue with it — nothing applied, the
    // watermark unmoved), and the driver dies after a fully-committed
    // epoch (the replay must skip per slot via the ledger). After both
    // restarts the sink readback hash-matches the plain aggregate — no
    // distinct masking duplicates.
    "r8_redis_eos_sink" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val src = Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
        RedisSource.write(src, srv.host, srv.port, auth = OracleAuth)
        val cap = math.max(250L, t.events.count() / 4)
        val ckpt = Transport.scratch(dir, "r8ckpt")
        val fsC = new org.apache.hadoop.fs.Path(ckpt)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fsC.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        graft.ops.Failpoints.arm("r8-task-crash")
        var epochCrashArmed = true
        var restarts = 0
        var done = false
        while (!done) {
          val q = s.readStream.format("redis-stream")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("username", OracleUser).option("password", OraclePass)
            .option("streams",
              Transport.eventTypes.map("src_" + _).mkString(","))
            .option("shards", "4")
            .option("startingOffsets", "earliest")
            .option("maxEntriesPerTrigger", cap.toString)
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], id: java.lang.Long) =>
              RedisSource.writeExactlyOnce(
                b.toDF().withColumn("stream_key",
                  expr("substring(stream_key, 5)")),
                srv.host, srv.port, ledgerPrefix = "r8eos", epochId = id,
                auth = OracleAuth,
                crashBeforeCommit =
                  if (id >= 1L) Some("r8-task-crash") else None)
              if (id >= 2L && epochCrashArmed) {
                epochCrashArmed = false
                throw new IllegalStateException(
                  s"injected crash: epoch $id committed, checkpoint not")
              }
            }.start()
          try { q.processAllAvailable(); done = true }
          catch { case _: Exception =>
            restarts += 1
            require(restarts <= 5, s"redis eos sink kept crashing ($restarts)")
          } finally q.stop()
        }
        require(restarts == 2,
          s"expected both injected crashes to fire, saw $restarts restarts")
        val replay = RedisSource.boundedRead(s, srv.host, srv.port,
          allShards(4), auth = OracleAuth).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      }
    },

    // Cluster-sharded exactly-once sink — r8's law on the path a real
    // deployment runs at scale: a two-node slot-split cluster, the
    // envelope committed in three epochs through writeExactlyOnceCluster
    // (per-KEY WATCH-fenced MULTI transactions, each with a {hash-tagged}
    // ledger co-slotted on the key's owner node). Epoch 0 first dies with
    // a key-transaction queued but un-EXECed (nothing applied, its ledger
    // unmoved; keys that committed before the crash stay) and replays;
    // epoch 1 is re-applied verbatim after committing (every key must
    // skip via its ledger). The union of both nodes' readbacks must
    // hash-match ONE plain copy of events — no distinct masking.
    "r9_redis_eos_cluster" -> { (s, dir) =>
      val a = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
      val b = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
      try {
        val mid = graft.redis.RedisCluster.HashSlots / 2
        val topo = Seq((0, mid - 1, a.host, a.port),
          (mid, graft.redis.RedisCluster.HashSlots - 1, b.host, b.port))
        a.slots = topo; b.slots = topo
        val seeds = Seq((a.host, a.port), (b.host, b.port))
        val env = Transport.envelopeOf(Tables(s, dir)).localCheckpoint(true)
        def slice(e: Int) =
          env.filter(pmod(col("sequence"), lit(3)) === e)
        graft.ops.Failpoints.arm("r9-task-crash")
        val crashed =
          try {
            RedisSource.writeExactlyOnceCluster(slice(0), seeds, "r9eos",
              0L, auth = OracleAuth,
              crashBeforeCommit = Some("r9-task-crash"))
            false
          } catch { case _: Exception => true }
        require(crashed, "injected cluster-sink crash must fire")
        RedisSource.writeExactlyOnceCluster(slice(0), seeds, "r9eos", 0L,
          auth = OracleAuth) // replay: crashed keys land, committed skip
        RedisSource.writeExactlyOnceCluster(slice(1), seeds, "r9eos", 1L,
          auth = OracleAuth)
        RedisSource.writeExactlyOnceCluster(slice(1), seeds, "r9eos", 1L,
          auth = OracleAuth) // committed-epoch replay: every key skips
        RedisSource.writeExactlyOnceCluster(slice(2), seeds, "r9eos", 2L,
          auth = OracleAuth)
        val replay = RedisSource.boundedRead(s, a.host, a.port,
          allShards(4), auth = OracleAuth)
          .unionByName(RedisSource.boundedRead(s, b.host, b.port,
            allShards(4), auth = OracleAuth))
          .localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      } finally { a.close(); b.close() }
    },

    // The redis→redis exactly-once pump — the relay matrix corner where
    // both ends are redis streams (DR mirroring, region moves): each
    // source (stream, shard)'s cursor — the packed next-unrelayed entry
    // id — lives in a DESTINATION-side ledger key `r11eos:{stream/shard}`
    // and advances atomically with the relayed entries in one
    // WATCH-fenced MULTI/EXEC on the destination server. Source and
    // destination are SEPARATE embedded servers (both AUTH'd); one
    // shard's pump crashes with its MULTI queued but un-EXECed (nothing
    // lands, the cursor holds), the drain re-relays exactly that range,
    // and the destination readback must hash-match one plain copy.
    "r11_redis_redis_eos" -> { (s, dir) =>
      val a = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
      val b = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
      try {
        val t = Tables(s, dir)
        val src = Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
        RedisSource.write(src, a.host, a.port, auth = OracleAuth)
        val shards = Transport.eventTypes.map("src_" + _)
          .flatMap(st => (0L until 4L).map(sh => (st, sh)))
        val cap = math.max(20L, t.events.count() / 20 / 4)
        val from = RedisRelaySource(a.host, a.port, shards, cap,
          auth = OracleAuth)
        val to = RedisLedgerDestination(b.host, b.port, "r11eos",
          _.stripPrefix("src_"), auth = OracleAuth)
        graft.ops.Failpoints.arm("r11-pump-crash")
        val crashed = try {
          RelayDriver.once(s, from,
            to.copy(crashBeforeCommit = Some("r11-pump-crash")))
          false
        } catch { case _: Exception => true }
        require(crashed, "the injected mid-pump crash did not fire")
        RelayDriver.all(s, from, to)
        val replay = RedisSource.boundedRead(s, b.host, b.port,
          allShards(4), auth = OracleAuth).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      } finally { a.close(); b.close() }
    },

    // The `.ss` file → redis exactly-once shipper (k12's redis twin):
    // per-file byte cursors live in WATCH-fenced `r12ship:{file}` ledger
    // keys and advance atomically with the shipped entries in one
    // MULTI/EXEC; a crash with the MULTI queued but un-EXECed moves
    // nothing, the drain re-ships exactly that file's range, and the
    // destination readback must hash-match one plain copy (AUTH on).
    // The dump uses the RECOMMENDED ship layout (`repartitionByKey` —
    // each destination key in exactly one part file, so sibling ship
    // tasks never contend on shared WATCH keys; BENCH_LOCAL.md receipt:
    // disjoint 3.2 s vs interleaved 4.9 s per 1M frames). The
    // interleaved worst case stays pinned by the `.ss` relay spec's
    // shared-key race law and the adaptive commit gate.
    "r12_ss_redis_eos" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val out = Transport.scratch(dir, "r12ss")
        Transport.envelopeOf(t)
          .withColumn("stream_key", concat(lit("src_"), col("stream_key")))
          .write.format("ss").option("repartitionByKey", "true")
          .mode("overwrite").save(out)
        val files = new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".ss")).sortBy(_.getName)
        val paths = files.map(_.getAbsolutePath).toSeq
        val cap = math.max(8192L, files.map(_.length()).max / 4)
        val from = FileRelaySource(paths, cap)
        val to = RedisLedgerDestination(srv.host, srv.port, "r12ship",
          _.stripPrefix("src_"), auth = OracleAuth)
        graft.ops.Failpoints.arm("r12-ship-crash")
        val crashed = try {
          RelayDriver.once(s, from,
            to.copy(crashBeforeCommit = Some("r12-ship-crash")))
          false
        } catch { case _: Exception => true }
        require(crashed, "the injected mid-ship crash did not fire")
        RelayDriver.all(s, from, to)
        val replay = RedisSource.boundedRead(s, srv.host, srv.port,
          allShards(4), auth = OracleAuth).localCheckpoint(true)
        Transport.aggregate(replay, withDistinct = false)
      }
    },

    // The relay-lag probe under the oracle gate (the one round-15 relay
    // surface that was spec-gated only): the consumer-lag metric over the
    // EOS matrix, measured through the FACADE against a HALF-relayed
    // redis→redis pump. The envelope assigns every entry a UNIQUE per-key
    // ms (1700000000000 + event_id), which makes the packed-id space
    // exact in SQL: tip = max-ms·2^16 + 1; after one epoch capped at
    // `cap` entries/shard the cursor is the cap-th entry's packed
    // successor; behindMs is the backlog's time span (newest minus
    // oldest PENDING entry ms). DuckDB recomputes all three from the raw
    // events parquet with window functions and the hash must match —
    // positions, spans and drained flags per (stream, shard).
    "r13_relay_lag" -> { (s, dir) =>
      val a = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
      val b = new EmbeddedRedis(auth = Some((OracleUser, OraclePass)))
      try {
        import s.implicits._
        val t = Tables(s, dir)
        val env = t.events.select(
          concat(lit("lag_"), col("event_type")).as("stream_key"),
          pmod(col("event_id"), lit(4)).cast("long").as("shard_id"),
          col("event_id").as("sequence"),
          timestamp_millis(lit(1700000000000L) + col("event_id"))
            .as("timestamp"),
          col("event_id").cast("string").cast("binary").as("payload"))
        RedisSource.write(env, a.host, a.port, auth = OracleAuth)
        val streams = Transport.eventTypes.map("lag_" + _)
        val shards = streams.flatMap(st => (0L until 4L).map(sh => (st, sh)))
        val cap = math.max(20L, t.events.count() / 80L)
        RelayDriver.once(s,
          RedisRelaySource(a.host, a.port, shards, cap, auth = OracleAuth),
          RedisLedgerDestination(b.host, b.port, "r13lag", identity,
            auth = OracleAuth))
        val sec = Map("redis.username" -> OracleUser,
          "redis.password" -> OraclePass)
        val ca = graft.facade.SeaStreamer.connect(
          s"redis://${a.host}:${a.port}", s, sec)
        val cb = graft.facade.SeaStreamer.connect(
          s"redis://${b.host}:${b.port}", s, sec)
        val lag = graft.facade.SeaStreamer.relayLag(ca, cb, streams,
          "r13lag")
        lag.toSeq.collect { case ((st, sh), l) if l.tip > 0 =>
          (st, sh, l.tip, l.cursor, l.behindMs.getOrElse(-1L), l.drained)
        }.toDF("stream_key", "shard_id", "tip", "cursor", "behind_ms",
          "drained")
      } finally { a.close(); b.close() }
    },

    // Sharding law: round-robin sharder (seq % 3) on the producer, shards
    // recovered from the `stream:N` key names on the consumer — per-shard
    // counts/maxima must match grouping the raw events by event_id % 3.
    "r3_redis_sharding" -> { (s, dir) =>
      withServer { srv =>
        val env = graft.ops.Sharders.applyShard(
          Transport.envelopeOf(Tables(s, dir)),
          graft.ops.Sharders.roundRobin(3))
        RedisSource.write(env, srv.host, srv.port, auth = OracleAuth)
        val back = RedisSource.boundedRead(s, srv.host, srv.port,
          allShards(3), auth = OracleAuth).localCheckpoint(true)
        back
          .withColumn("j", from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "event_id LONG, value DOUBLE")))
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n"),
            max(col("j.event_id")).as("max_event_id"),
            sum(when(pmod(col("j.event_id"), lit(3)) === col("shard_id"), 0L)
              .otherwise(1L)).as("misrouted"))
      }
    },

    // Seek law (`timestamp > T`, strictly greater): T = the midpoint of the
    // events time range, pushed into the XRANGE start id — the pre-seek
    // prefix is never scanned, and the aggregate must equal the oracle's
    // `WHERE ms > T` slice.
    "r4_redis_seek" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val bounds = t.events
          .agg(min(unix_millis(col("ts"))).as("lo"),
            max(unix_millis(col("ts"))).as("hi")).head()
        val cutoff = (bounds.getLong(0) + bounds.getLong(1)) / 2
        RedisSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val sought = RedisSource.boundedRead(s, srv.host, srv.port,
          allShards(4), afterMs = Some(cutoff),
          auth = OracleAuth).localCheckpoint(true)
        Transport.aggregate(sought, withDistinct = false)
      }
    },

    // Admission control: earliest + maxEntriesPerTrigger forces the deep
    // backlog through bounded micro-batches; the final aggregate proves no
    // entry was lost or re-delivered across the batch seams. The cap scales
    // with the input (~4 batches at any sf) — the LAW is the batch seams,
    // not a fixed batch size, and a constant cap would mean dozens of
    // near-empty state commits at larger scale factors.
    "r5_redis_admission" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        val cap = math.max(1000L, t.events.count() / 4)
        RedisSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val q = Transport.aggregate(
          s.readStream.format("redis-stream")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("username", OracleUser).option("password", OraclePass)
            .option("streams", Transport.eventTypes.mkString(","))
            .option("shards", "4")
            .option("startingOffsets", "earliest")
            .option("maxEntriesPerTrigger", cap.toString)
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("r5_redis_admission_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("r5_redis_admission_sink")
      }
    },

    "r7_relay" -> relayQuery,

    // Group/PEL recovery: a consumer fetches a slice of click:0 into the
    // group's PEL and dies without acking; the streaming source (same group)
    // must XAUTOCLAIM those deliveries and still emit EVERY event exactly
    // once within the run.
    "r6_redis_group_recovery" -> { (s, dir) =>
      withServer { srv =>
        val t = Tables(s, dir)
        RedisSource.write(Transport.envelopeOf(t), srv.host, srv.port,
          auth = OracleAuth)
        val dead = new RedisGroupConsumer(srv.host, srv.port,
          "click", 0L, sharded = true, "g_oracle", "dead-consumer",
          auth = OracleAuth)
        try { dead.create(); dead.fetch(100) } finally dead.close()
        val q = Transport.aggregate(
          s.readStream.format("redis-stream")
            .option("host", srv.host).option("port", srv.port.toString)
            .option("username", OracleUser).option("password", OraclePass)
            .option("streams", Transport.eventTypes.mkString(","))
            .option("shards", "4")
            .option("startingOffsets", "earliest")
            .option("group", "g_oracle")
            // the test compresses time: the dead consumer's entries are
            // seconds old, so the idle threshold must be zero here
            .option("claimMinIdleMs", "0")
            .load(), withDistinct = false)
          .writeStream.outputMode("complete")
          .format("memory").queryName("r6_redis_group_sink").start()
        try q.processAllAvailable() finally q.stop()
        s.table("r6_redis_group_sink")
      }
    })

  // def, not val: `queries` above captures it during object init
  private def relayQuery: Relational.Q = { (s, dir) =>
    withServer { srv =>
      val t = Tables(s, dir)
      val out = Transport.scratch(dir, "relay")
      Transport.envelopeOf(t).write.format("ss").mode("overwrite").save(out)
      // relay: consume one backend, produce into another — the reference
      // benchmark's third workload (benchmark/README.md `relay`), here
      // crossing backends: .ss container -> redis streams -> aggregate,
      // so the oracle pins BOTH codecs plus the envelope invariants that
      // survive the hop (key/shard/ms-timestamp/payload)
      RedisSource.write(s.read.format("ss").load(out), srv.host, srv.port,
        auth = OracleAuth)
      val replay = RedisSource.boundedRead(s, srv.host, srv.port,
        allShards(4), auth = OracleAuth).localCheckpoint(true)
      Transport.aggregate(replay, withDistinct = true)
    }
  }

  val oracles: Map[String, String] = Map(
    "r7_relay" -> Transport.aggregateOracle(withDistinct = true),
    // MULTI/EXEC exactly-once truth: after a queued-not-EXECed task crash
    // AND a committed-epoch driver crash, the sink equals the plain
    // aggregate — no distinct to mask duplicates
    "r8_redis_eos_sink" -> Transport.aggregateOracle(withDistinct = false),
    // cluster twin: per-key transactions across a slot-split cluster
    // drain crash + replay to exactly one plain copy of events
    "r9_redis_eos_cluster" -> Transport.aggregateOracle(withDistinct = false),
    "r11_redis_redis_eos" -> Transport.aggregateOracle(withDistinct = false),
    "r12_ss_redis_eos" -> Transport.aggregateOracle(withDistinct = false),
    // relayLag recomputed from the raw events: unique per-key ms makes
    // packed ids exact (sub_seq always 0 — tip/cursor are ms·2^16 + 1)
    "r13_relay_lag" ->
      """WITH env AS (
        |  SELECT 'lag_' || event_type AS stream_key,
        |         CAST(event_id % 4 AS BIGINT) AS shard_id,
        |         1700000000000 + event_id AS ms
        |  FROM events
        |), ranked AS (
        |  SELECT stream_key, shard_id, ms,
        |         row_number() OVER (PARTITION BY stream_key, shard_id
        |                            ORDER BY ms) AS rn
        |  FROM env
        |), cap AS (
        |  SELECT GREATEST(20, (SELECT COUNT(*) FROM events) // 80) AS c
        |)
        |SELECT stream_key, shard_id,
        |  MAX(ms) * 65536 + 1 AS tip,
        |  CASE WHEN COUNT(*) <= (SELECT c FROM cap)
        |       THEN MAX(ms) * 65536 + 1
        |       ELSE MAX(CASE WHEN rn = (SELECT c FROM cap) THEN ms END)
        |            * 65536 + 1 END AS cursor,
        |  CASE WHEN COUNT(*) <= (SELECT c FROM cap) THEN 0
        |       ELSE MAX(ms) -
        |            MAX(CASE WHEN rn = (SELECT c FROM cap) + 1 THEN ms END)
        |       END AS behind_ms,
        |  COUNT(*) <= (SELECT c FROM cap) AS drained
        |FROM ranked GROUP BY stream_key, shard_id""".stripMargin,
    "r1_redis_roundtrip" -> Transport.aggregateOracle(withDistinct = true),
    "r2_redis_latest" -> Transport.aggregateOracle(withDistinct = false),
    "r3_redis_sharding" ->
      """SELECT event_id % 3 AS shard_id, COUNT(*) AS n,
        |  MAX(event_id) AS max_event_id, CAST(0 AS BIGINT) AS misrouted
        |FROM events GROUP BY 1""".stripMargin,
    "r4_redis_seek" ->
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
    "r5_redis_admission" -> Transport.aggregateOracle(withDistinct = false),
    "r6_redis_group_recovery" -> Transport.aggregateOracle(withDistinct = false))
}
