package graft.redis

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{SeaMessage, TaskResources, WriterPlacement}

/** Spark ↔ Redis Streams integration. Scale shape: one Spark partition per
  * (stream, shard) redis key, each task holding its own connection — reads
  * are `XRANGE` sweeps per shard (the reference manager's range-read path),
  * writes are pipelined `XADD` batches (producer.rs:285-518). Nothing
  * funnels through the driver; 32k shards = 32k parallel tasks.
  */
object RedisSource {

  /** Lazy paged XRANGE over one key: cursors restart exclusive-after the
    * last RAW entry id (never a packed-seq reconstruction, which is lossy
    * past 16 bits of sub-sequence), and only one page is held in memory.
    *
    * Runs over a [[RedisClient.Session]], so a connection drop mid-scan
    * reconnects and re-issues the CURRENT page from the cursor — the cursor
    * only advances once a page has decoded, which makes the resume
    * exactly-once (the reference consumer's reconnect loop,
    * `sea-streamer-redis/src/consumer/node.rs:299-310`).
    */
  private[redis] def pagedScan(session: RedisClient.Session, key: String,
      stream: String, shard: Long, batch: Int,
      untilId: String = "+", afterId: String = "0-0"): Iterator[SeaMessage] =
    new Iterator[SeaMessage] {
      private var page: Iterator[(String, SeaMessage)] = Iterator.empty
      private var cursor = if (afterId == "0-0") "-" else s"($afterId"
      private var exhausted = false
      private def fetch(): Unit = {
        val entries = RedisStreams.decodeEntriesWithIds(
          session.retrying("xrange")(_.command(
            RedisStreams.xrange(key, cursor, untilId, Some(batch)): _*)),
          stream, shard)
        if (entries.isEmpty) exhausted = true
        else {
          cursor = s"(${entries.last._1}"
          if (entries.size < batch) exhausted = true
          page = entries.iterator
        }
      }
      def hasNext: Boolean = {
        if (!page.hasNext && !exhausted) fetch()
        page.hasNext
      }
      def next(): SeaMessage = {
        if (!hasNext) throw new NoSuchElementException
        page.next()._2
      }
    }

  /** Bounded read of whole streams: one task per (stream, shard).
    * `afterMs` pushes the seek law `timestamp > T` into each key's XRANGE
    * start id (ids are `<ms>-<seq>`) — no post-filter, no scan of the
    * pre-seek prefix.
    */
  def boundedRead(spark: SparkSession, host: String, port: Int,
      shards: Seq[(String, Long)], sharded: Boolean = true,
      batch: Int = 1000, afterMs: Option[Long] = None,
      clusterSeeds: Option[Seq[(String, Int)]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None): DataFrame =
    boundedReadKeys(spark, host, port,
      shards.map { case (st, sh) =>
        (RedisStreams.shardedKey(st, sh, sharded), st, sh)
      }, batch, afterMs, clusterSeeds, tls, auth)

  /** [[boundedRead]] over EXPLICIT redis keys — the shape SCAN-based shard
    * discovery produces (key names already known, shard parsed from the
    * suffix).
    */
  def boundedReadKeys(spark: SparkSession, host: String, port: Int,
      keys: Seq[(String, String, Long)],
      batch: Int = 1000, afterMs: Option[Long] = None,
      clusterSeeds: Option[Seq[(String, Int)]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val afterId = afterMs.map(RedisStreams.seekAfterId).getOrElse("0-0")
    sc.parallelize(keys, math.max(1, keys.size)).mapPartitions { it =>
      // cluster: resolve each key's owner once per task (slot-map
      // bootstrap); a mid-scan rebalance would need a reconnect — rare
      // enough that the task retry is the recovery path
      val slotMap = clusterSeeds.map { seeds =>
        val cc = new RedisClusterClient(seeds, tls, auth)
        try cc.bootstrapSlots() finally cc.close()
      }
      it.flatMap { case (key, stream, shard) =>
        val (h, p) = slotMap.flatMap(_.owner(key)).getOrElse((host, port))
        TaskResources.closing(new RedisClient.Session(
          () => new RedisClient(h, p, tls = tls, auth = auth)))(
          pagedScan(_, key, stream, shard, batch, afterId = afterId))
      }
    }.toDF()
  }

  /** One slot-epoch commit attempt: WATCH the ledger, read the epoch
    * watermark, queue the slot's commands plus the bumped watermark SET in
    * one MULTI, EXEC. Returns true iff THIS attempt's EXEC landed; false
    * on the two idempotent skips — the slot was already committed
    * (replayed epoch), or a RIVAL attempt of the same (slot, epoch) won
    * the race and our EXEC came back nil.
    *
    * The WATCH is the zombie fence (the redis analogue of
    * [[graft.kafka.KafkaEosSink]]'s transactional-id epoch bump): a Spark
    * speculative task, or a first attempt deemed dead whose connection is
    * actually alive, races the retry to the same ledger key. Both pass
    * the GET check, but the first EXEC moves the watched key, so the
    * loser's EXEC returns nil and applies NOTHING — redis's optimistic
    * CAS, exactly its documented WATCH/MULTI contract.
    */
  private[graft] def commitSlotEpoch(client: RedisClient, ledger: String,
      epochId: Long, cmds: Iterator[Seq[Array[Byte]]],
      beforeExec: () => Unit = () => ()): Boolean = {
    // MATERIALIZE the one-shot iterator: the floor-aware form's nil loop
    // may call mkCmds again (a zombie of an OLDER epoch can move the
    // watched ledger without satisfying the skip check), and replaying
    // an exhausted iterator would commit the advanced watermark with
    // ZERO data — a silently lost epoch on every subsequent replay
    val cached = cmds.toSeq
    commitSlotEpoch(client, ledger, epochId, Seq.empty, _ => cached.iterator,
      beforeExec)
  }

  /** Floor-aware form: `dataKeys` are the stream keys this epoch writes,
    * WATCHed alongside the ledger so ANY concurrent write to them —
    * foreign producer, sibling writer — nils the EXEC before anything
    * applies (real redis refuses a lower explicit `<ms>-*` id, and a
    * refusal INSIDE an EXEC does not stop the watermark SET queued after
    * it, so an unwatched key could lose entries while the ledger still
    * advanced — then the task retry reads committed and SKIPS: silent
    * loss). `mkCmds` builds the queue from `floorOf`, each key's
    * current tip ms read UNDER the watch — it must return a FRESH
    * iterator per call, because a nil'd EXEC retries with fresh floors.
    * A nil is disambiguated by re-reading the ledger: advanced past this
    * epoch ⇒ a rival attempt of the SAME (slot, epoch) won (identical
    * content — idempotent skip, the zombie fence); not advanced ⇒ a
    * foreign writer moved a data key — retry, bounded and loud.
    */
  private[graft] def commitSlotEpoch(client: RedisClient, ledger: String,
      epochId: Long, dataKeys: Seq[String],
      mkCmds: (String => Long) => Iterator[Seq[Array[Byte]]],
      beforeExec: () => Unit): Boolean = {
    var attempts = 0
    while (true) {
      client.command(RedisStreams.watch(ledger +: dataKeys: _*): _*) match {
        case Resp.Err(m) =>
          throw new IllegalStateException(s"WATCH refused: $m")
        case _ => ()
      }
      val committed = client.command(RedisStreams.get(ledger): _*) match {
        case Resp.Bulk(bs) => new String(bs, "UTF-8").toLong
        case _ => 0L
      }
      if (committed >= epochId + 1) {
        // replayed epoch, already committed — drop the watch and skip
        client.command(RedisStreams.unwatch: _*)
        return false
      }
      // per-key ms floors, read AFTER the WATCH: a tip that moves after
      // this read nils the EXEC, so a clamped id can never be refused
      // inside it
      val floors = dataKeys.map { k =>
        k -> RedisStreams.tipMs(
          client.command(RedisStreams.xrevrangeTip(k): _*))
      }.toMap
      // queue in BOUNDED pipeline chunks — writing a whole epoch before
      // reading any reply deadlocks once the server's reply bytes outgrow
      // the socket buffers (server blocks writing +QUEUED, stops reading,
      // client blocks writing); chunking keeps in-flight replies O(chunk),
      // the same discipline as the plain producer's pipelineAcked
      client.command(RedisStreams.multi: _*)
      // pipelineRaw, not pipeline: pipeline() THROWS on the first Err
      // and leaves the remaining replies unread on the socket — the
      // refusal check below must both fire and keep the connection
      // drained
      mkCmds(k => floors.getOrElse(k, 0L)).grouped(500).foreach { chunk =>
        client.pipelineRaw(chunk).collectFirst { case Resp.Err(m) =>
          throw new IllegalStateException(s"MULTI queue refused: $m")
        }
      }
      // the watermark queues LAST; EXEC goes separately so an injected
      // crash dies with a full queue and an un-issued commit — the
      // tightest window
      client.command(RedisStreams.set(ledger, (epochId + 1).toString): _*)
      beforeExec()
      // a top-level EXEC error (EXECABORT) surfaces as a thrown
      // RedisError from command() — re-framed; a `case Err` arm here
      // would be dead code
      val execReply =
        try client.command(RedisStreams.exec: _*)
        catch {
          case e: RedisClient.RedisError =>
            throw new IllegalStateException(s"EXEC failed: ${e.msg}", e)
        }
      execReply match {
        case Resp.NullArr =>
          val now = client.command(RedisStreams.get(ledger): _*) match {
            case Resp.Bulk(bs) => new String(bs, "UTF-8").toLong
            case _ => 0L
          }
          if (now >= epochId + 1) return false // rival won — fenced clean
          attempts += 1
          require(attempts <= 8,
            s"epoch $epochId on $ledger: EXEC nil'd $attempts times with " +
              "the ledger unmoved — a foreign writer keeps touching the " +
              s"epoch's stream keys (${dataKeys.mkString(", ")})")
          // jittered sit-out: a plain producer sharing the stream keys
          // (legal — the floor clamp exists for exactly that) must not
          // turn transient contention into a failed micro-batch via
          // back-to-back instant retries
          Thread.sleep(1L + java.util.concurrent.ThreadLocalRandom
            .current().nextLong(math.min(50L * attempts, 400L)))
        case Resp.Arr(rs) =>
          // unreachable for the id-monotonicity class by construction
          // (floors read under the watch) — anything else must still
          // surface, not vanish
          rs.collectFirst { case Resp.Err(m) =>
            throw new IllegalStateException(s"EXEC element failed: $m") }
          return true
        case _ => return true
      }
    }
    false // unreachable
  }

  /** Exactly-once Spark → redis sink for one micro-batch (epoch) — the
    * redis half of [[graft.kafka.KafkaEosSink]]'s contract, built on the
    * primitives redis actually has: WATCH + MULTI/EXEC. The batch
    * repartitions onto FIXED writer slots (a replayed epoch lands every
    * row on the same slot); each non-empty slot WATCHes its epoch
    * watermark (a plain ledger key `{prefix}:slot:{n}`), reads it —
    * already past this epoch → idempotent SKIP — else queues every XADD
    * plus the bumped watermark SET inside ONE MULTI and commits them
    * atomically at EXEC. A crash anywhere before EXEC takes the
    * connection and its queue with it (real redis's contract): no
    * entries, no watermark, and the epoch replay re-lands the slot.
    * Concurrent attempts of the same (slot, epoch) — speculative tasks,
    * alive-but-presumed-dead zombies — are fenced by the WATCH: exactly
    * one EXEC lands, every rival's returns nil ([[commitSlotEpoch]]).
    * Same invariant as the kafka sink: slot count must stay fixed across
    * restarts of a checkpoint lineage.
    *
    * Call from `foreachBatch { (b, id) => writeExactlyOnce(b, …, id) }`.
    * Scale shape: slots are independent single-connection writers; the
    * ledger costs one GET per slot per epoch; MULTI bounds per-epoch
    * atomicity to a slot's rows (a real deployment sizes slots so a
    * transaction stays proxy/latency-friendly).
    */
  def writeExactlyOnce(df: DataFrame, host: String, port: Int,
      ledgerPrefix: String, epochId: Long,
      sharded: Boolean = true, numSlots: Int = 8,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None): Unit = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    val keyCols =
      if (sharded) Seq(col("stream_key"), col("shard_id"))
      else Seq(col("stream_key"))
    df.select("stream_key", "shard_id", "timestamp", "payload")
      .repartition(numSlots, keyCols: _*)
      .sortWithinPartitions(col("timestamp"))
      .as[(String, Long, java.sql.Timestamp, Array[Byte])]
      .foreachPartition { (rows: Iterator[(String, Long, java.sql.Timestamp, Array[Byte])]) =>
        if (rows.nonEmpty) {
          val slot = org.apache.spark.TaskContext.getPartitionId()
          val ledger = s"$ledgerPrefix:slot:$slot"
          // group the slot's rows per redis key (time order survives the
          // sort above into each key's buffer) — the per-key grouping is
          // what lets ids clamp to the key's WATCHed tip-ms floor: LATE
          // DATA is normal in streaming, so epoch N+1 may carry lower
          // event times than epoch N's tip, and real redis would refuse
          // those inside the EXEC while the watermark SET still landed.
          // Memory note: the MULTI queue already holds the whole slot
          // server-side, so this buffer does not change the sizing rule.
          val byKey = rowsByKey(rows, sharded)
          val keys = byKey.keys.toSeq
          val client = new RedisClient(host, port, tls = tls, auth = auth)
          // landed-or-skipped is irrelevant here: both are success states
          try { commitSlotEpoch(client, ledger, epochId, keys,
            floorOf => keys.iterator.flatMap { k =>
              var last = floorOf(k)
              byKey(k).iterator.map { case (ms, payload) =>
                last = math.max(ms, last)
                RedisStreams.xadd(k, last, payload)
              }
            },
            beforeExec = () =>
              if (crashBeforeCommit.exists(graft.ops.Failpoints.fire))
                throw new IllegalStateException(
                  s"injected crash: redis slot $slot epoch $epochId " +
                    "queued, not EXECed")); () }
          finally client.close()
        }
      }
  }

  /** Cluster-sharded exactly-once sink — [[writeExactlyOnce]]'s scale
    * path. Cluster MULTI is only legal when every touched key lives in
    * ONE hash slot, so the atomic unit shrinks from a Spark writer slot
    * to one redis KEY per epoch: each key's XADDs commit together with a
    * per-key ledger `prefix:{key}` whose hash TAG is the key itself —
    * same slot by construction (CRC16 of the braced tag equals CRC16 of
    * the bare key), and the stream key's public name is untouched, so
    * consumers read exactly what the single-node sink writes.
    *
    * [[WriterPlacement]] gives each redis key one writer task (a pure
    * function of the key, so the same across epoch replays); each task
    * groups its rows by key in time order and runs the same WATCH-fenced
    * [[commitSlotEpoch]] per key against the key's owner node. A MOVED bounce (slot migrated) refreshes the routing and
    * retries the WHOLE key-transaction on a fresh connection — safe
    * because nothing applies until EXEC, and the bounced connection is
    * quarantined in case it holds an open MULTI queue. Replay skips
    * committed keys via their ledgers; the WATCH fences concurrent rivals
    * exactly as on a single node.
    *
    * Scale story: per-key transactions and their ledgers spread across
    * every cluster node, so the single-node sink's one-apply-thread wall
    * becomes N nodes applying in parallel — the sharding the r8 family's
    * sf10 decade receipt points at.
    */
  def writeExactlyOnceCluster(df: DataFrame, seeds: Seq[(String, Int)],
      ledgerPrefix: String, epochId: Long,
      sharded: Boolean = true,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None): Unit = {
    WriterPlacement.foreachTask(df, destinationsOf(sharded)) { rows =>
      val cc = new RedisClusterClient(seeds, tls, auth)
      try {
        try cc.bootstrapSlots()
        catch { case scala.util.control.NonFatal(_) => () } // lazy MOVED fallback
        rowsByKey(rows, sharded).foreach { case (key, rs) =>
          val ledger = s"$ledgerPrefix:{$key}"
          var attempts = 0
          var done = false
          while (!done) {
            val client = cc.connectionFor(key)
            try {
              // key + ledger share a slot by construction, so the
              // floor-aware WATCH (ledger AND the data key) is legal
              // on a cluster node; ids clamp to the watched tip ms —
              // late data across epochs can never be refused in-EXEC
              commitSlotEpoch(client, ledger, epochId, Seq(key),
                floorOf => {
                  var last = floorOf(key)
                  rs.iterator.map { case (ms, payload) =>
                    last = math.max(ms, last)
                    RedisStreams.xadd(key, last, payload)
                  }
                },
                beforeExec = () =>
                  if (crashBeforeCommit.exists(graft.ops.Failpoints.fire))
                    throw new IllegalStateException(
                      s"injected crash: redis key $key epoch $epochId " +
                        "queued, not EXECed"))
              done = true
            } catch {
              case e: RedisClient.RedisError
                  if e.msg.startsWith("MOVED") && attempts < 5 =>
                attempts += 1
                cc.quarantineConnectionOf(key)
                if (!cc.noteMoved(key, e.msg))
                  try cc.bootstrapSlots()
                  catch { case scala.util.control.NonFatal(_) => () }
            }
          }
        }
      } finally cc.close()
    }
  }

  /** Pipelined XADD write: each writer task opens one connection and
    * flushes command batches of `pipelineSize`. [[WriterPlacement]] gives
    * every REDIS KEY — (stream, shard) when sharded, the stream alone when
    * not (unsharded rows share the bare key regardless of shard_id) —
    * exactly ONE writer task, appending in timestamp order: redis rejects
    * non-monotonic explicit `<ms>-*` ids, and the reference keeps the same
    * single-producer-per-key model (one producer actor per connection).
    *
    * `clusterSeeds` switches each task to cluster routing: the slot→node
    * map is bootstrapped once per task (`CLUSTER SLOTS`), every key's
    * pipeline goes straight to its owner, and MOVED bounces replay the
    * batch against the new owner (the reference producer's redirect loop,
    * producer.rs:428-507).
    *
    * `clampToTip`: floor each row's packed ms at the destination key's
    * last-GENERATED id (one `XINFO STREAM` probe per key per task,
    * on the session's own connection — the EOS sinks' floor idiom, minus
    * the WATCH fence; `last_id` rather than the visible tip, because
    * XTRIM/XDEL do not lower the XADD refusal bar and a tip probe on a
    * trimmed-empty stream would re-refuse forever). Without it a re-send
    * of rows older than the bar — a relay restarted from its last
    * committed offset after a mid-batch cut, late event times after a
    * process restart — is refused by real redis ("equal or smaller than
    * the target stream top item") and crash-loops the producer; with it
    * those rows land as duplicates at the bar, the at-least-once trade
    * the restart already made. A refusal that still slips through (a
    * CONCURRENT writer advancing the bar between the probe and the send)
    * re-probes and re-clamps the chunk, bounded, on both the single-node
    * and cluster paths; the resend may duplicate the chunk's
    * already-applied tail — at-least-once again, never a crash loop. To
    * keep the packed sub-sequence (16-bit) from saturating when a huge
    * re-shipped backlog collapses onto one ms, the per-ms entry count —
    * seeded from the server's own last-generated sub-seq — spills the
    * floor forward 1 ms at [[ClampSpillRows]]. Off by default: a
    * first-run producer pays no probe, and a refused non-monotone send
    * stays loud for callers that want the invariant enforced.
    */
  def write(df: DataFrame, host: String, port: Int,
      sharded: Boolean = true, pipelineSize: Int = 100,
      clusterSeeds: Option[Seq[(String, Int)]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None,
      clampToTip: Boolean = false): Unit = {
    val dests = destinationsOf(sharded)
    WriterPlacement.foreachTask(df, dests) { rows =>
      // rows arrive ts-sorted and each redis key has this one writer task,
      // so a single running floor per key keeps clamped ids monotone. The
      // probe reads the stream's last-GENERATED id (XINFO STREAM), not the
      // visible tip: `last_id` outlives XTRIM/XDEL of every entry, so a
      // re-send onto a trimmed-empty stream converges instead of
      // re-refusing forever. atFloor counts entries at the current floor
      // ms for the sub-seq spill, SEEDED from the server's own sub-seq so
      // entries it already holds at that ms count too.
      val floor = scala.collection.mutable.Map.empty[String, Long]
      val atFloor = scala.collection.mutable.Map.empty[String, Long]
      def clamp(key: String, ms: Long,
          probe: String => (Long, Long)): Long =
        if (!clampToTip) ms
        else {
          if (!floor.contains(key)) {
            val (fm, fs) = probe(key)
            floor(key) = fm
            atFloor(key) = fs + 1
          }
          var f = floor(key)
          if (ms > f) {
            floor(key) = ms
            atFloor(key) = 1L
            ms
          } else {
            val n = atFloor.getOrElse(key, 0L) + 1L
            if (n >= ClampSpillRows) {
              f += 1 // spill to the next ms before sub-seq saturates
              floor(key) = f
              atFloor(key) = 1L
            } else atFloor(key) = n
            f
          }
        }
      def cmdWith(probe: String => (Long, Long))
          : WriterPlacement.Row => Seq[Array[Byte]] =
        r => {
          val key = RedisStreams.shardedKey(r._1, r._2, sharded)
          RedisStreams.xadd(key, clamp(key, r._3.getTime, probe), r._4)
        }
      // a concurrent writer advanced the tip between our probe and this
      // send (the session surfaces the refusal as a FatalReply, the
      // cluster client as a RedisError): forget the stale floors,
      // re-probe, re-clamp, resend the chunk (its applied tail may
      // duplicate — at-least-once, documented)
      def reclamping(send: => Unit, attempts: Int = 0): Unit =
        try send
        catch {
          case e @ (_: RedisClient.FatalReply | _: RedisClient.RedisError)
              if clampToTip && attempts < 3 &&
                e.getMessage.contains("equal or smaller") =>
            floor.clear()
            atFloor.clear()
            reclamping(send, attempts + 1)
        }
      // "no such key" = the stream does not exist yet: floor 0, first
      // append mints sub-seq 0
      def decodeProbe(f: => graft.redis.Resp.Value): (Long, Long) =
        try RedisStreams.lastGeneratedId(f)
        catch {
          case e: RedisClient.RedisError
              if e.msg.contains("no such key") => (0L, -1L)
        }
      clusterSeeds match {
        case Some(seeds) =>
          val cc = new RedisClusterClient(seeds, tls, auth)
          try {
            try cc.bootstrapSlots()
            catch { case scala.util.control.NonFatal(_) => () } // lazy MOVED fallback
            val cmd = cmdWith(k => decodeProbe(
              cc.command(k, RedisStreams.xinfoStream(k): _*)))
            WriterPlacement.chunks(rows, pipelineSize, dests).foreach {
              case ((stream, shard), rs) =>
                val key = RedisStreams.shardedKey(stream, shard, sharded)
                reclamping(cc.pipelineFor(key, rs.map(cmd)))
            }
          } finally cc.close()
        case None =>
          // resumable session: a drop mid-pipeline replays only the
          // unacknowledged tail (producer.rs:464-507's requeue law) —
          // blind batch replay would duplicate already-acked ms-* ids.
          // The probe rides the SAME session (reconnect-protected, no
          // extra connection). Pipelines mix the task's keys.
          val session = new RedisClient.Session(
            () => new RedisClient(host, port, tls = tls, auth = auth))
          try {
            val cmd = cmdWith(k => decodeProbe(session.retrying("tip probe")(
              _.command(RedisStreams.xinfoStream(k): _*))))
            rows.grouped(pipelineSize).foreach { chunk =>
              reclamping(session.pipelineAcked(chunk.map(cmd)))
            }
          } finally session.close()
      }
    }
  }

  /** The plain writers' redis destinations: one key per (stream, shard)
    * when sharded, one per stream when not.
    */
  private def destinationsOf(sharded: Boolean): WriterPlacement.Destinations =
    if (sharded) WriterPlacement.Shards else WriterPlacement.Streams

  /** A writer task's rows per redis key, keys in encounter order; each
    * key's (ms, payload) buffer keeps the task's time order.
    */
  private def rowsByKey(rows: Iterator[WriterPlacement.Row], sharded: Boolean)
      : scala.collection.mutable.LinkedHashMap[
        String, scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]] = {
    val byKey = scala.collection.mutable.LinkedHashMap.empty[
      String, scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]]
    rows.foreach { r =>
      byKey.getOrElseUpdate(RedisStreams.shardedKey(r._1, r._2, sharded),
        scala.collection.mutable.ArrayBuffer.empty) += ((r._3.getTime, r._4))
    }
    byKey
  }

  /** Rows landed at one floor ms before the clamp spills to the next ms —
    * comfortably under the 16-bit packed sub-sequence ceiling (0xFFFF)
    * the seek/EOS machinery guards, with headroom for entries the server
    * already holds at that ms.
    */
  val ClampSpillRows: Int = 32768
}
