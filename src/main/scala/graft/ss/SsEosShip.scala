package graft.ss

import org.apache.spark.sql.SparkSession

import graft.eos.{Coord, FileRelayTips, KafkaTxnDestination,
  RedisLedgerDestination, RelayDestination, RelayDriver}
import graft.kafka.KafkaTls
import graft.redis.{EosCommit, RedisClient, RedisStreams}

/** Exactly-once `.ss` file → broker shipper — the relay matrix extended
  * to the reference's file backend as a SOURCE (log shipping: the file
  * backend exists to dump a stream to disk and replay it,
  * sea-streamer-file/src/lib.rs; shipping that dump into kafka/redis
  * without loss or duplication is the production follow-up). A file
  * destination stays refused across the matrix — the filesystem has no
  * transaction or compare-and-set to anchor a resume point on.
  *
  * The cursor is the file's FRAME-EXACT BYTE OFFSET after the last
  * shipped frame, one cursor per part file — identified by file NAME,
  * so a relocated directory resumes; two files sharing a name would
  * alias one cursor and fence each other, so the planners REQUIRE
  * unique names — anchored in the destination exactly like the other
  * corners: staged under the consumer group inside the kafka
  * transaction, or SET in a WATCH-fenced `prefix:{file}` ledger key
  * atomically with the redis entries. No Spark checkpoint, no
  * source-side state — the file itself never changes.
  *
  * One epoch ([[shipKafkaOnce]] / [[shipRedisOnce]]) plans per-file
  * ranges through [[RelayDriver.plan]] over [[FileRelayTips]]
  * ([[SsOffsetWalk.safeEnd]] caps the tip at the last COMPLETE frame — a
  * live appender's torn tail is never shipped — and `capBytes` bounds
  * the per-epoch transaction), then each file ships in its own task,
  * sequentially reading `[cursor, until)` — the per-file sequential read
  * IS the medium; parallelism comes from the file count, exactly how a
  * `format("ss")` directory lays out one part file per writing
  * partition. The ship body stays here because one byte cursor fans out
  * to many destination partitions or keys. Kafka tasks run inside
  * [[KafkaTxnDestination.transact]] (fence-then-read, rival
  * incarnations resolve in-task); redis tasks WATCH-then-read with the
  * nil-means-rival retry. A fully-FILTERED range still advances its
  * cursor under the same fencing (an offsets-only kafka transaction /
  * the same WATCH-fenced SET) — a plain unfenced commit could be
  * rewound by a fenced zombie.
  *
  * Destination mapping: topic/stream = `renameTo(stream_key)`,
  * partition = `floorMod(shard_id, partitions)` (the
  * [[graft.kafka.KafkaEosSink]] mapping); redis keys are
  * `stream:shard`. Redis entry ids must be monotone per key (real
  * redis REFUSES a lower explicit `<ms>-*` id — and an XADD refused
  * INSIDE an EXEC does not roll the rest back, so the cursor SET would
  * land while frames silently didn't), and a (stream, shard) routinely
  * spans SEVERAL part files, so sibling tasks write the same
  * destination key concurrently: each range ships as SUB-EPOCH
  * transactions of ≤ [[TxnBytes]] frames, each WATCHing the ledger AND
  * the sub-range's destination keys BEFORE reading their tip-ms floors
  * and committing frames + advanced cursor in one MULTI/EXEC. A rival
  * file's EXEC landing on a shared key after the floor read nils this
  * task's EXEC before anything applies; the retry re-reads cursor and
  * floors and re-queues from the in-memory frame buffer (the file is
  * read ONCE per task), so an in-EXEC id refusal is impossible by
  * construction and a collision costs one sub-epoch, not the range —
  * whole-range transactions made sibling retries quadratic when every
  * part file carries every key. Any residual EXEC element error still
  * fails LOUD. `onlyStreams` optionally ships a
  * subscription subset; skipped frames still advance the cursor (they
  * are consumed positions, exactly like aborted slots on a kafka
  * source).
  */
object SsEosShip {

  /** Per-sub-epoch transaction bound for the redis destination: the
    * conflict window, the nil-retry cost, the task's frame buffer and
    * the server's MULTI queue are all ≤ this many frame bytes. */
  private val TxnBytes: Long = 8L << 20

  /** Concurrent writer cap for ONE redis destination node (see the
    * concurrency note in [[runRedis]]). */
  private val RedisShipSlices: Int = 8

  /** Per-destination-node commit gates: one redis node applies every
    * EXEC under a single mutation thread, so transactions gain NOTHING
    * from overlapping — but overlapping WATCH windows on shared
    * destination keys nil each other (measured ~4 nils per commit at
    * sf1 under any backoff, each nil re-queueing a sub-epoch). Tasks in
    * one JVM therefore serialize the WATCH→EXEC section per (host,
    * port): reads and buffering stay parallel, the commit section
    * pipelines back-to-back, and nils drop to foreign-writer/rival
    * cases only. Across JVMs (a real cluster) the gate cannot reach —
    * correctness there is still the WATCH (nil → cheap in-memory
    * retry), the per-executor gate still thins the windows, and a
    * sharded destination splits the conflict domain per node anyway.
    */
  private val commitGates =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Object]()

  /** Adaptive gating: a destination starts UNGATED — key-disjoint file
    * layouts (the recommended one: repartition by (stream, shard)
    * before the `format("ss")` write) never conflict, and gating them
    * would forfeit the parallel queue/parse the server offers across
    * connections. The FIRST nil proves the layout contended and flips
    * the destination to gate-first: shared-key layouts then serialize
    * their commit sections (overlapping WATCH windows would otherwise
    * nil each other at ~4 nils per commit), paying at most one wasted
    * queue per concurrent task to learn it. The flag is scoped per
    * (host, port, ledgerPrefix) — a later key-disjoint ship job to a
    * reused node (or a fresh embedded server on a recycled port) must
    * not inherit serialized commits (ADVICE r16) — and DECAYS: after
    * [[GateCalmCommits]] consecutive nil-free gated commits the
    * destination un-gates and re-probes the optimistic path, re-gating
    * on the next nil (≤ one wasted attempt per decay window).
    */
  private val gateContended =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String), java.lang.Boolean]()
  private val gateCalm =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String),
      java.util.concurrent.atomic.AtomicInteger]()
  private[ss] val GateCalmCommits = 64

  private[ss] def isGateContended(key: (String, Int, String)): Boolean =
    java.lang.Boolean.TRUE.equals(gateContended.get(key))

  private[ss] def noteShipNil(key: (String, Int, String)): Unit = {
    gateContended.put(key, true)
    gateCalm.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicInteger).set(0)
  }

  private[ss] def noteShipApplied(key: (String, Int, String)): Unit = {
    val calm = gateCalm.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicInteger)
    if (calm.incrementAndGet() >= GateCalmCommits) {
      calm.set(0)
      gateContended.remove(key) // re-probe the optimistic ungated path
    }
  }

  /** Run `f` over the frames of `[from, until)` (stream-filtered), with
    * the reader closed either way — takeWhile stops short of exhausting
    * the underlying reader, so closure cannot ride iterator exhaustion.
    */
  private def eachFrames[T](path: String, from: Long, until: Long,
      onlyStreams: Option[Set[String]])(f: Iterator[SsRecord] => T): T = {
    val reader = SsReader.openAtOffset(path,
      math.max(from, SsFormat.HeaderSize.toLong))
    try f(reader.iterator.takeWhile(_.endOffset <= until)
      .filter(r => onlyStreams.forall(_.contains(r.message.stream_key))))
    finally reader.close()
  }

  /** One bounded exactly-once ship epoch into KAFKA; returns frames
    * shipped (a fully-filtered range ships 0 frames while its cursor
    * still advances — [[shipKafkaAll]] keys on planned ranges, not
    * frame counts, so filtering never wedges the drain).
    */
  def shipKafkaOnce(spark: SparkSession, paths: Seq[String],
      topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      capBytes: Long = 64L << 20, page: Int = 1000, partitions: Int = 4,
      onlyStreams: Option[Set[String]] = None,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      crashBeforeCommit: Option[String] = None): Long = {
    val files = FileRelayTips(paths, capBytes)
    val dst = KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix,
      topicOf, sasl, saslMechanism, tls, crashBeforeCommit)
    runKafka(spark, files, dst, RelayDriver.plan(files, dst), page,
      partitions, onlyStreams)
  }

  /** Ship planned file ranges into kafka: each file's frames fan out to
    * `(topicOf(stream_key), floorMod(shard_id, partitions))` inside the
    * file's one fenced transaction ([[KafkaTxnDestination.transact]]). */
  private[graft] def runKafka(spark: SparkSession, files: FileRelayTips,
      dst: KafkaTxnDestination, ranges: Seq[(Coord, Long)],
      page: Int, partitions: Int,
      onlyStreams: Option[Set[String]]): Long =
    if (ranges.isEmpty) 0L
    else spark.sparkContext.parallelize(
        ranges.map { case (c, until) => (c, files.byName(c._1), until) },
        ranges.size)
      .map { case (coord, path, until) =>
        dst.transact(files, coord, until) { (kc, producer, committed) =>
          val known = scala.collection.mutable.Set.empty[String]
          var n = 0L
          eachFrames(path, committed, until, onlyStreams)(_
            .grouped(page).foreach { chunk =>
              chunk.groupBy(r => (dst.topicOf(r.message.stream_key),
                math.floorMod(r.message.shard_id,
                  partitions.toLong).toInt))
                .foreach { case ((topic, part), rs) =>
                  if (known.add(topic)) {
                    val parts = kc.metadata(Seq(topic))
                      .getOrElse(topic, Seq.empty)
                    require(parts.size >= partitions,
                      s"topic $topic has ${parts.size} partitions, " +
                        s"need $partitions")
                  }
                  producer.send(topic, part, rs.map(r =>
                    (r.message.timestamp.getTime, null: Array[Byte],
                      r.message.payload)))
                  n += rs.length
                }
            })
          // the whole range is consumed even when every frame was
          // filtered out: the cursor still advances, fenced
          (until, n)
        }
      }.sum().toLong

  /** One bounded exactly-once ship epoch into REDIS; same contract with
    * the WATCH-fenced `ledgerPrefix:{file}` cursor.
    */
  def shipRedisOnce(spark: SparkSession, paths: Seq[String],
      streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      capBytes: Long = 64L << 20,
      onlyStreams: Option[Set[String]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None,
      /** [[graft.ops.Failpoints.armHook]] token fired with the MULTI
        * fully queued, JUST before EXEC — the window where a rival file's
        * commit on a SHARED destination key must nil this EXEC (the key
        * set is WATCHed), never let real redis refuse frames inside it. */
      raceBeforeExec: Option[String] = None): Long = {
    val files = FileRelayTips(paths, capBytes)
    val dst = RedisLedgerDestination(redisHost, redisPort, ledgerPrefix,
      streamOf, tls, auth, crashBeforeCommit,
      raceBeforeExec = raceBeforeExec)
    runRedis(spark, files, dst, RelayDriver.plan(files, dst), onlyStreams)
  }

  private[graft] def runRedis(spark: SparkSession, files: FileRelayTips,
      dst: RedisLedgerDestination, ranges: Seq[(Coord, Long)],
      onlyStreams: Option[Set[String]]): Long = {
    if (ranges.isEmpty) 0L
    else {
      // a (stream_key, shard) routinely spans SEVERAL part files, so
      // sibling tasks of this very epoch write the same destination keys
      // concurrently — each sibling's EXEC nils the others once per
      // SUB-EPOCH, which bounds honest nil counts by the file fan-out,
      // not a constant
      val siblings = ranges.size
      // concurrency is CAPPED: one redis node applies every EXEC under
      // one mutation thread, so ship throughput is apply-bound past a
      // handful of writers — extra concurrent tasks only hold open
      // WATCH windows that nil each other (measured: 32 concurrent
      // file tasks → ~5 nils per commit at sf1; 8 slices → near zero).
      // Files beyond the cap process SEQUENTIALLY inside a slice; file
      // reads are cheap next to the serialized apply. On a sharded
      // destination the cap is per-NODE concurrency, which a cluster
      // deployment multiplies by its master count.
      spark.sparkContext
        .parallelize(ranges.map { case (c, until) =>
            (c, files.byName(c._1), until)
          }.sortBy(_._2), math.min(ranges.size, RedisShipSlices))
        .map { case (coord, path, until) =>
          val ledger = dst.ledger(files, coord)
          val rc = dst.client()
          // The range ships as SUB-EPOCH transactions of at most TxnBytes
          // of frames, each committing its frames AND the advanced cursor
          // in one WATCH-fenced MULTI/EXEC over the ledger + the
          // sub-range's OWN destination keys — EosCommit.commitKeyed, the
          // one redis-destination commit protocol (watch-then-floor,
          // frame-exact rival filter, one-RTT pre-phase, geometric batch
          // shrink/regrow, jittered sit-outs). Sub-epochs are the SCALE
          // design: when every part file carries every destination key
          // (the `format("ss")` layout), whole-range transactions made
          // nil retries quadratic — each collision re-read and re-queued
          // the entire range (measured 2.7× on r12 at sf1). A sub-epoch
          // bounds the conflict window AND the retry cost to TxnBytes,
          // the frames re-queue from memory (the file is read ONCE per
          // task). The frame buffer holds ≤ TxnBytes — the same bound
          // the server's MULTI queue already carries.
          //
          // The cursor space is frame END offsets: entry pos is
          // endOffset-1, so EosCommit's `pos >= cursor` liveness is
          // exactly `endOffset > cursor` (cursor values are always frame
          // boundaries), and a partial batch's `last pos + 1` resume
          // point is the frame-exact endOffset.
          val gateKey = (dst.host, dst.port, dst.ledgerPrefix)
          def commitSub(buf: Seq[SsRecord], subUntil: Long): Long =
            EosCommit.commitKeyed(rc, ledger,
              buf.iterator.map { r =>
                (r.endOffset - 1L,
                  RedisStreams.shardedKey(dst.streamOf(r.message.stream_key),
                    r.message.shard_id, sharded = true),
                  r.message.timestamp.getTime, r.message.payload)
              }.toVector,
              finalCursor = subUntil,
              label = s"ship ${coord._1}",
              crashBeforeCommit = dst.crashBeforeCommit,
              raceBeforeExec = dst.raceBeforeExec,
              maxNils = siblings + 5,
              nilHint = "more than the epoch's own sibling fan-out can " +
                "explain; a live foreign writer keeps touching the " +
                "destination keys or the ledger",
              // under the gate, nils come only from rivals/foreign
              // writers — a short jittered sit-out suffices
              backoffStepMs = 20L, backoffCapMs = 100L,
              gate = Some(commitGates.computeIfAbsent(
                (dst.host, dst.port), _ => new Object)),
              gated = () => isGateContended(gateKey),
              onNil = () => noteShipNil(gateKey),
              onApplied = () => noteShipApplied(gateKey))
          try {
            // the plan's cursor read is advisory; commitSub re-reads it
            // under the watch, so starting from the planned `from` is
            // safe — frames below a rival's cursor filter out in-task
            val from = math.max(dst.cursor(rc, ledger).getOrElse(0L),
              SsFormat.HeaderSize.toLong)
            var total = 0L
            val reader = SsReader.openAtOffset(path, from)
            try {
              val buf = scala.collection.mutable.ArrayBuffer.empty[SsRecord]
              var bufBytes = 0L
              var subStart = from
              reader.iterator.takeWhile(_.endOffset <= until).foreach { r =>
                if (onlyStreams.forall(_.contains(r.message.stream_key))) {
                  buf += r
                  bufBytes += (r.message.payload.length + 64L)
                }
                if (bufBytes >= TxnBytes) {
                  total += commitSub(buf.toSeq, r.endOffset)
                  buf.clear(); bufBytes = 0L; subStart = r.endOffset
                }
              }
              // the final sub-epoch advances the cursor to the planned
              // `until` even when every frame was filtered out (consumed
              // positions, exactly like aborted slots on a kafka source)
              if (buf.nonEmpty || until > subStart)
                total += commitSub(buf.toSeq, until)
            } finally reader.close()
            total
          } finally rc.close()
        }.sum().toLong
    }
  }

  /** Drain to the files' current safe ends: epochs until the PLAN is
    * empty (frame counts can read 0 on a fully-filtered epoch while the
    * cursor still advances, so the loop keys on planned ranges).
    */
  def shipKafkaAll(spark: SparkSession, paths: Seq[String],
      topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      capBytes: Long = 64L << 20, page: Int = 1000, partitions: Int = 4,
      onlyStreams: Option[Set[String]] = None,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None): Long =
    shipAll(spark, FileRelayTips(paths, capBytes),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, tls), onlyStreams, page, partitions)

  /** Same drain for the redis destination. */
  def shipRedisAll(spark: SparkSession, paths: Seq[String],
      streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      capBytes: Long = 64L << 20,
      onlyStreams: Option[Set[String]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None): Long =
    shipAll(spark, FileRelayTips(paths, capBytes),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        tls, auth), onlyStreams)

  /** The file ship's drain over either destination: the relay driver's
    * planning and drain loop, this object's per-range ship body. */
  private[graft] def shipAll(spark: SparkSession, files: FileRelayTips,
      dst: RelayDestination, onlyStreams: Option[Set[String]],
      page: Int = 1000, partitions: Int = 4): Long =
    RelayDriver.drain(RelayDriver.plan(files, dst)) { ranges =>
      dst match {
        case k: KafkaTxnDestination =>
          runKafka(spark, files, k, ranges, page, partitions, onlyStreams)
        case r: RedisLedgerDestination =>
          runRedis(spark, files, r, ranges, onlyStreams)
      }
    }
}
