package graft.redis.spark

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{BrokerStream, LiveSource, MessageReaders, SeaMessage,
  StreamerUri}
import graft.redis.{RedisClient, RedisClusterClient, RedisSecurity, RedisSlotMap, RedisSource, RedisStreams, Resp}

/** `spark.readStream.format("redis-stream")` — live micro-batch consumer
  * over Redis Streams, the reference's XREAD loop re-expressed in Spark's
  * offset model (sea-streamer-redis/src/consumer/node.rs:448-610):
  *
  *   - an offset is the last-delivered entry id per `stream:shard` key;
  *   - latestOffset asks each key for its tip (`XREVRANGE key + - COUNT 1`);
  *   - each micro-batch reads `(lastId, tip]` per key with exclusive-start
  *     XRANGE — one partition per key, executor-side connections, so 32k
  *     shard keys fan out to 32k parallel tasks;
  *   - `startingOffsets` earliest replays from 0-0, latest anchors at each
  *     key's current tip (AutoStreamReset law);
  *   - `startingTimestamp` (ms) pushes the seek law `timestamp > T` into
  *     the per-key start id — ids are `<ms>-<seq>` (message.rs:27-64), so
  *     the start is `T-MaxValue` exclusive, no post-filter needed;
  *   - `maxEntriesPerTrigger` bounds each micro-batch
  *     ([[SupportsAdmissionControl]], the Kafka `maxOffsetsPerTrigger`
  *     pattern): `latestOffset(start, limit)` receives Spark's committed
  *     start, so a restart can never plan behind the checkpoint, and a deep
  *     backlog drains in bounded batches instead of one giant first batch.
  *     Capped ends are resolved with per-key `XRANGE (start + COUNT n`
  *     pipelined per node — driver work per trigger is O(cap), the user's
  *     own per-batch bound, never O(backlog);
  *   - `group` switches delivery to `XREADGROUP`/PEL semantics
  *     (consumer/node.rs:647-744, SURVEY §7.4.2): on a fresh start the
  *     whole pending-entries-list is `XAUTOCLAIM`ed to this consumer and
  *     re-delivered (a crashed consumer's unacked deliveries are not lost),
  *     new entries advance the group cursor, and the committed prefix is
  *     `XACK`ed by the NEXT batch's readers — executor-side, distributed,
  *     the `AutoCommit::Rolling` at-least-once law. `claimIntervalMs`
  *     re-claims one page per key per interval for mid-run failovers;
  *   - `cluster=true` bootstraps the slot→node map (`CLUSTER SLOTS`,
  *     reference cluster.rs:1-135) from `nodes` (comma-separated seeds,
  *     default `host:port`) and routes every key's partition, tips probe
  *     and claim to its owner node (consumer/cluster.rs:14-239).
  *
  * Delivery is at-least-once under the checkpoint like every Spark source;
  * ack/commit is the checkpointed epoch (SURVEY §2.6 mapping), plus real
  * XACKs when a `group` is set.
  */
class RedisDataSource extends LiveSource("redis-stream", Seq("host", "streams"),
  new RedisMicroBatchStream(_))

/** `{"ids":{"<key>":"<ms>-<seq>"}}`; "0-0" = nothing delivered yet. */
final case class RedisOffset(ids: Map[String, String]) extends Offset {
  override def json(): String =
    ids.toSeq.sorted
      .map { case (k, v) => s""""${k}":"${v}"""" }
      .mkString("{\"ids\":{", ",", "}}")
}

object RedisOffset {
  /** Keys are redis stream names ([a-zA-Z0-9._-] plus the `:shard` suffix),
    * which cannot contain `"` or `,` — so pairs split on `,` and each pair
    * on the `":"` QUOTE-colon-QUOTE separator (a bare ':' inside the key,
    * e.g. `events:3`, never matches it).
    */
  def fromJson(json: String): RedisOffset = {
    val inner = json.trim.stripPrefix("{\"ids\":{").stripSuffix("}}")
    if (inner.isEmpty) RedisOffset(Map.empty)
    else RedisOffset(inner.split(',').map { pair =>
      val sep = pair.indexOf("\":\"")
      if (sep < 0)
        throw new IllegalArgumentException(s"bad RedisOffset pair: $pair")
      pair.substring(0, sep).stripPrefix("\"") ->
        pair.substring(sep + 3).stripSuffix("\"")
    }.toMap)
  }
}

final case class RedisInputPartition(
    host: String, port: Int, key: String, stream: String, shard: Long,
    afterId: String, untilId: String, batch: Int,
    group: Option[String], consumer: String,
    tls: Option[RedisClient.Tls] = None,
    auth: Option[RedisClient.Auth] = None) extends InputPartition

class RedisMicroBatchStream(options: CaseInsensitiveStringMap)
    extends BrokerStream[String, String](options, 6379,
      "maxEntriesPerTrigger", RedisPartitionReader) {

  /** `assign` pins the consumer to EXPLICIT (stream, shard) keys — the
    * reference's `Consumer::assign` (sea-streamer-types/src/
    * consumer.rs:77-85). Entries are `stream:shard` (sharded key form) or a
    * bare `stream` (unsharded, shard 0). Overrides `streams`×`shards`.
    */
  private val assigned: Option[Seq[(String, String, Long)]] = {
    val v = options.get("assign")
    if (v == null || v.isEmpty) None
    else Some(v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .map(RedisStreams.keyIdentity))
  }
  private val streams = Option(options.get("streams"))
    .orElse(assigned.map(_ => ""))
    .getOrElse(throw new IllegalArgumentException(
      "redis-stream requires a `streams` or `assign` option"))
    .split(',').map(_.trim).filter(_.nonEmpty).toSeq
  private val shards = options.getInt("shards", 1)
  private val batch = options.getInt("batchSize", 1000)
  private val consumerName = options.getOrDefault("consumerName", "spark")
  // reference default: only entries idle >= 60 s are claimable, so a LIVE
  // sibling consumer's fresh deliveries are never stolen
  // (sea-streamer-redis/src/consumer/mod.rs:70-79)
  private val claimMinIdleMs = options.getLong("claimMinIdleMs", 60000L)
  private val claimIntervalMs = options.getLong("claimIntervalMs", 30000L)
  private val clusterMode = options.getBoolean("cluster", false)
  /** `rediss://`'s client half on the options surface
    * ([[RedisSecurity]] — the one spelling shared with the facade's
    * emit side); RESP is byte-identical inside the channel.
    */
  private val tls: Option[RedisClient.Tls] =
    RedisSecurity.parse(k => Option(options.get(k)))
  /** AUTH credentials on the same options surface ([[RedisSecurity]]) —
    * every connection this source opens authenticates first.
    */
  private val auth: Option[RedisClient.Auth] =
    RedisSecurity.parseAuth(k => Option(options.get(k)))

  private val seeds: Seq[(String, Int)] = {
    val ns = options.get("nodes")
    if (ns == null || ns.isEmpty) Seq((host, port))
    else ns.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .map(StreamerUri.hostPort(_, 6379))
  }

  /** Slot→node map, bootstrapped once per stream start (driver-side,
    * metadata-only). Standalone nodes answer an empty CLUSTER SLOTS.
    */
  private lazy val slotMap: Option[RedisSlotMap] =
    if (!clusterMode) None
    else {
      val cc = new RedisClusterClient(seeds, tls, auth)
      try Some(cc.bootstrapSlots()).filterNot(_.isEmpty)
      finally cc.close()
    }

  private def nodeFor(key: String): (String, Int) =
    slotMap.flatMap(_.owner(key)).getOrElse(seeds.head)

  /** `discoverShards` finds each stream's `stream:N` keys by SCAN instead
    * of trusting a configured count — the reference consumer's discovery
    * sweep (consumer/shard.rs:38-93). Refreshed once per trigger, so shards
    * added while the query runs start flowing from their beginning on the
    * next micro-batch.
    */
  private val discover = options.getBoolean("discoverShards", false)
  @volatile private var discovered: Seq[(String, String, Long)] = Seq.empty
  @volatile private var groupedKeys: Set[String] = Set.empty
  private def refreshDiscovery(): Unit =
    if (discover && assigned.isEmpty) {
      // sweep every master the slot map knows (a seed list is usually a
      // subset of the cluster), with the same transient-IO retry as the
      // rest of driver-side planning
      val sweepNodes = slotMap.map(_.nodes).getOrElse(seeds)
      val found = sweepNodes.flatMap { case (h, p) =>
        RedisClient.retrying() {
          val c = new RedisClient(h, p, tls = tls, auth = auth)
          try streams.flatMap(st => RedisStreams.discoverShardKeys(c, st))
          finally c.close()
        }
      }.distinct.sortBy(_._1)
      discovered = found
      // a shard created mid-run needs the group created before any reader
      // issues XREADGROUP against it (real redis answers NOGROUP otherwise)
      group.foreach { g =>
        val fresh = found.filterNot { case (k, _, _) => groupedKeys.contains(k) }
        if (fresh.nonEmpty) {
          val from = if (latest && groupedKeys.isEmpty) "$" else "0"
          byNode(fresh) { (client, ks) =>
            client.pipelineRaw(ks.map { case (k, _, _) =>
              RedisStreams.xgroupCreate(k, g, from)
            })
            Seq.empty[Unit]
          }
          groupedKeys ++= fresh.map(_._1)
        }
      }
    }

  private def keys: Seq[(String, String, Long)] =
    assigned.getOrElse(
      if (discover) discovered
      else streams.flatMap(st => (0L until shards.toLong).map(sh =>
        (RedisStreams.shardedKey(st, sh, shards > 1), st, sh))))

  /** Run `f` once per owner node with that node's keys — one pipelined
    * connection per node per call, so cluster fan-out stays O(#nodes)
    * round trips, not O(#keys).
    *
    * Driver-side planning has no task-retry safety net (an IOException in
    * latestOffset fails the whole query), so transient connect/IO failures
    * retry with short backoff — the reference consumer's reconnect loop
    * (node.rs:299-310), bounded instead of its unbounded exponential climb
    * because a dead broker should surface quickly in a scheduler.
    */
  private def byNode[T](ks: Seq[(String, String, Long)])(
      f: (RedisClient, Seq[(String, String, Long)]) => Seq[T]): Seq[T] =
    ks.groupBy { case (k, _, _) => nodeFor(k) }.toSeq.sortBy(_._1)
      .flatMap { case ((h, p), nodeKeys) =>
        RedisClient.retrying() {
          val client = new RedisClient(h, p, tls = tls, auth = auth)
          try f(client, nodeKeys) finally client.close()
        }
      }

  /** All tips pipelined per node — 32k shard keys cost one round trip per
    * node per micro-batch, not 32k serialized ones.
    */
  private def tips(): Map[String, String] =
    byNode(keys) { (client, ks) =>
      val replies = client.pipeline(ks.map { case (k, _, _) =>
        RedisStreams.xrevrangeTip(k)
      })
      ks.zip(replies).map {
        case ((k, _, _), Resp.Arr(Seq(Resp.Arr(Seq(id: Resp.Bulk, _))))) =>
          k -> id.utf8
        case ((k, _, _), _) => k -> "0-0"
      }
    }.toMap

  private def entryIds(v: Resp.Value): Seq[String] = v match {
    case Resp.Arr(es) => es.collect {
      case Resp.Arr((id: Resp.Bulk) +: _) => id.utf8
    }
    case _ => Seq.empty
  }

  private def baseStarts(): Map[String, String] = startingTimestamp match {
    case Some(ms) =>
      keys.map { case (k, _, _) => k -> RedisStreams.seekAfterId(ms) }.toMap
    case None if latest => tips()
    case None => keys.map { case (k, _, _) => k -> "0-0" }.toMap
  }

  override def initialOffset(): Offset = {
    refreshDiscovery()
    group.foreach(initGroup)
    val ids: Map[String, String] = group match {
      case None => baseStarts()
      case Some(g) =>
        // group mode: delivery is cursor/PEL-driven and the offset is only
        // the batch CLAMP — but the clamp must (1) FLOOR AT THE GROUP
        // CURSOR (everything at/below last-delivered-id was already
        // delivered: acked = consumed, unacked = covered by (2)), or a
        // fresh capped query over a resumed group would spend its first
        // windows crawling the consumed prefix — O(history/cap) empty
        // batches in which `>` deliveries overshoot the window and park
        // unemitted in the PEL; (2) still sit below the oldest pending
        // entry, so re-deliveries (claims, resumes) fall inside the first
        // batch's range. The floor only ever RAISES the clamp, so a
        // `latest` anchor (tips) keeps skipping backlog.
        val base = baseStarts()
        val cursors = groupCursorFloors()
        val pendingMin = pendingMinIds(g)
        keys.map { case (k, _, _) =>
          val b = base(k)
          val floored = cursors.get(k) match {
            case Some(c) if RedisStreams.idCompare(c, b) > 0 => c
            case _ => b
          }
          k -> (pendingMin.get(k) match {
            case Some(minId) if RedisStreams.idCompare(minId, floored) <= 0 =>
              RedisStreams.idPredecessor(minId)
            case _ => floored
          })
        }.toMap
    }
    RedisOffset(ids)
  }

  /** This group's `last-delivered-id` cursor per key (XINFO GROUPS) —
    * the floor [[initialOffset]] raises a fresh query's clamp to. Reply
    * errors decode empty: no cursor, no floor.
    */
  private def groupCursorFloors(): Map[String, String] =
    group.map { g =>
      byNode(keys) { (client, ks) =>
        val rs = client.pipelineRaw(ks.map { case (k, _, _) =>
          RedisStreams.xinfoGroups(k)
        })
        ks.zip(rs).flatMap { case ((k, _, _), v) =>
          RedisStreams.groupCursors(v).get(g).map(k -> _)
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** Oldest pending (unacked) entry id per key, any consumer (XPENDING
    * summary) — the floor the initial clamp must sit under.
    */
  private def pendingMinIds(g: String): Map[String, String] =
    byNode(keys) { (client, ks) =>
      val rs = client.pipelineRaw(ks.map { case (k, _, _) =>
        RedisStreams.xpending(k, g)
      })
      ks.zip(rs).collect {
        case ((k, _, _), Resp.Arr(Resp.Num(n) +: (minId: Resp.Bulk) +: _))
          if n > 0 => k -> minId.utf8
      }
    }.toMap

  /** Create the group everywhere (BUSYGROUP = resume) and claim the WHOLE
    * pending backlog to this consumer, so deliveries stranded in a dead
    * consumer's PEL re-enter the very first batches (reference
    * node.rs:647-744; SURVEY §7.4.2 restart-recovery plan).
    */
  private def initGroup(g: String): Unit = {
    val from = startingTimestamp.map(RedisStreams.seekAfterId)
      .getOrElse(if (latest) "$" else "0")
    byNode(keys) { (client, ks) =>
      client.pipelineRaw(ks.map { case (k, _, _) =>
        RedisStreams.xgroupCreate(k, g, from)
      }).foreach {
        case Resp.Err(m) if m.contains("BUSYGROUP") => ()
        case Resp.Err(m) => throw RedisClient.RedisError(m)
        case _ => ()
      }
      ks.foreach { case (k, _, _) =>
        var cursor = "0-0"
        var done = false
        while (!done) client.command(RedisStreams.xautoclaim(
          k, g, consumerName, claimMinIdleMs, cursor): _*) match {
          case Resp.Arr((next: Resp.Bulk) +: _) =>
            val n = next.utf8
            if (n == "0-0" || n == cursor) done = true else cursor = n
          case _ => done = true
        }
      }
      Seq.empty[Unit]
    }
    ()
  }

  /** Mid-run failover sweep: one XAUTOCLAIM page per key per
    * `claimIntervalMs` (reference claim interval, consumer/mod.rs:70-79),
    * starting strictly after the committed offset so an entry a previous
    * epoch already delivered is never claimed-then-acked unseen.
    *
    * Known edge (shared with the reference's continuous claim): a foreign
    * consumer's pending entry BELOW our committed clamp is not claimable
    * mid-run — claiming it would be indistinguishable from our own
    * committed re-delivery and would be acked unseen. Recovery path: a
    * fresh member/start (clamp 0-0) claims and re-delivers the whole PEL,
    * as initGroup and the failover member in RedisLoadBalancedSpec do.
    */
  private var lastClaimAtMs = 0L
  private def maybeClaim(after: Map[String, String]): Unit = group.foreach { g =>
    val now = System.currentTimeMillis()
    if (now - lastClaimAtMs >= claimIntervalMs) {
      lastClaimAtMs = now
      byNode(keys) { (client, ks) =>
        client.pipelineRaw(ks.map { case (k, _, _) =>
          val a = after.getOrElse(k, "0-0")
          RedisStreams.xautoclaim(k, g, consumerName, claimMinIdleMs,
            if (a == "0-0") "0-0" else RedisStreams.idSuccessor(a))
        })
        Seq.empty[Unit]
      }
      ()
    }
  }

  protected def positions(offset: Offset): Map[String, String] =
    offset.asInstanceOf[RedisOffset].ids
  protected def offset(positions: Map[String, String]): Offset =
    RedisOffset(positions)
  override def deserializeOffset(json: String): Offset = RedisOffset.fromJson(json)

  /** Uncapped: ends are the per-key tips (one metadata round trip per
    * node). Capped: [[cappedEnds]]. Each trigger first refreshes shard
    * discovery and runs the failover claim sweep.
    */
  protected def ends(after: Map[String, String],
      maxRows: Option[Long]): Map[String, String] = {
    refreshDiscovery()
    maybeClaim(after)
    maxRows.fold(tips())(cappedEnds(after, _))
  }

  /** Advances per trigger to rotate the capped-serve window across keys.
    * Driver-side, in-memory only — a restart resets it to 0, which only
    * restarts the rotation, never loses data (unserved keys keep their
    * committed position in the offset).
    */
  private var serveRotation = 0

  /** Capped ends resolve via per-key `XRANGE (start + COUNT n` — the
    * driver touches at most `maxEntriesPerTrigger` entries per trigger
    * (its own batch bound). The row budget splits across keys WITH
    * BACKLOG (tip moved past the committed id) — an idle key must not eat
    * a deep key's share, the same lag-aware apportioning Kafka's
    * maxOffsetsPerTrigger does.
    */
  private def cappedEnds(after: Map[String, String],
      maxRows: Long): Map[String, String] = {
    val tip = tips()
    val active = keys.filter { case (k, _, _) =>
      tip.getOrElse(k, "0-0") != after.getOrElse(k, "0-0")
    }
    if (active.isEmpty)
      return keys.map { case (k, _, _) =>
        k -> after.getOrElse(k, "0-0")
      }.toMap
    // when backlogged keys outnumber the budget, a per-key minimum of 1
    // would overshoot the cap — serve a ROTATING subset of maxRows keys per
    // trigger (sorted order, window advanced each call), so under sustained
    // inflow every key is served within ceil(#active / budget) triggers —
    // a fixed first-N subset would starve later-sorted keys forever
    val served =
      if (active.size.toLong > maxRows) {
        val sorted = active.sortBy(_._1)
        val n = math.max(1L, maxRows).toInt
        // long + floorMod: serveRotation * n as Int overflows after
        // ~2^31/n triggers and a negative start would degrade the window
        // back to the fixed first-N subset the rotation exists to prevent
        val start =
          math.floorMod(serveRotation.toLong * n, sorted.size.toLong).toInt
        serveRotation += 1
        (sorted.drop(start) ++ sorted.take(start)).take(n)
      } else active
    val perKey = // clamp: a huge "effectively unlimited" cap must not
      // overflow into a negative XRANGE COUNT
      math.min(Int.MaxValue.toLong, math.max(1L, maxRows / served.size)).toInt
    val resolved = byNode(served) { (client, ks) =>
      val replies = client.pipeline(ks.map { case (k, _, _) =>
        val a = after.getOrElse(k, "0-0")
        RedisStreams.xrange(k, if (a == "0-0") "-" else s"($a", "+",
          Some(perKey))
      })
      ks.zip(replies).map { case ((k, _, _), v) =>
        val ids = entryIds(v)
        k -> (if (ids.isEmpty) after.getOrElse(k, "0-0") else ids.last)
      }
    }.toMap
    keys.map { case (k, _, _) =>
      k -> resolved.getOrElse(k, after.getOrElse(k, "0-0"))
    }.toMap
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RedisOffset].ids
    val e = end.asInstanceOf[RedisOffset].ids
    // Plan the keys the OFFSETS name, not whatever the current sweep says:
    // after a checkpoint restart Spark replays the last batch straight
    // through planInputPartitions — with discovery that sweep hasn't run
    // yet, and planning from a fresh sweep could silently drop a logged
    // key's range. The offset map IS the authoritative key set.
    val planKeys: Seq[(String, String, Long)] =
      if (assigned.isDefined) keys // explicit identities (bare-key shards)
      else {
        val fromOffsets = (e.keySet ++ s.keySet).toSeq.sorted.map(RedisStreams.keyIdentity)
        if (fromOffsets.nonEmpty) fromOffsets else keys
      }
    // group mode: a key with pending re-deliveries must be planned even when
    // its tip hasn't moved (claimed entries sit at/below the tip)
    val pendingKeys: Set[String] = group match {
      case Some(g) =>
        byNode(planKeys) { (client, ks) =>
          val rs = client.pipelineRaw(ks.map { case (k, _, _) =>
            RedisStreams.xpending(k, g)
          })
          ks.zip(rs).collect {
            case ((k, _, _), Resp.Arr(Resp.Num(n) +: _)) if n > 0 => k
          }
        }.toSet
      case None => Set.empty
    }
    planKeys.flatMap { case (k, stream, shard) =>
      val after = s.getOrElse(k, "0-0")
      val until = e.getOrElse(k, after)
      if (after == until && !pendingKeys.contains(k)) None
      else {
        val (h, p) = nodeFor(k)
        Some(RedisInputPartition(h, p, k, stream, shard,
          after, until, batch, group, consumerName, tls, auth))
      }
    }.toArray
  }
}

/** Reads one `(stream, shard)` key's slice of a micro-batch.
  *
  * Plain mode: paged exclusive-start XRANGE over `(afterId, untilId]` — the
  * page cursor is the RAW last entry id (a packed-seq reconstruction loses
  * sub-sequence bits past 64k entries/ms and would loop).
  *
  * Group mode (`XREADGROUP`, at-least-once):
  *   1. page this consumer's PEL (`STREAMS key <cursor>`): entries at/below
  *      `afterId` were delivered by a COMMITTED epoch — XACK them (the
  *      lagged Rolling commit); entries in `(afterId, untilId]` are
  *      re-deliveries (epoch replay after a crash, or claims from a dead
  *      consumer) and are emitted again;
  *   2. page undelivered entries (`STREAMS key >`) up to `untilId`; an
  *      overshooting page's tail stays pending (unemitted, unacked) and
  *      re-enters via step 1 of the next batch.
  * A replayed epoch re-reads its exact deliveries from the PEL in step 1 —
  * deterministic replay without rewinding the group cursor. Sequential task
  * RETRIES are covered the same way (the retry finds the failed attempt's
  * fetches in its own PEL). CAVEAT: group mode requires speculative
  * execution to stay OFF (Spark's default) — two live attempts of one task
  * would split `>` pages between them and the loser's fetches could be
  * acked unseen by the next batch; the offset-clamped XRANGE mode (no
  * `group`) has no such constraint, which is why it is the default.
  */
object RedisPartitionReader extends MessageReaders[RedisInputPartition] {

  // plain XRANGE mode rides a reconnecting session (cursor resume is
  // exactly-once); group mode stays on a bare client — its recovery
  // path is PEL redelivery across epochs, not an in-scan reconnect.
  // Either mode opens exactly one socket per partition.
  def open(p: RedisInputPartition): (Iterator[SeaMessage], AutoCloseable) =
    p.group match {
      case Some(g) =>
        val client = new RedisClient(p.host, p.port, tls = p.tls, auth = p.auth)
        (groupScan(p, g, client), client)
      case None =>
        val session = new RedisClient.Session(
          () => new RedisClient(p.host, p.port, tls = p.tls, auth = p.auth))
        (RedisSource.pagedScan(session, p.key, p.stream, p.shard,
          p.batch, p.untilId, p.afterId), session)
    }

  private def groupScan(p: RedisInputPartition, g: String,
      client: RedisClient): Iterator[SeaMessage] =
    new Iterator[SeaMessage] {
      private var phase = 0 // 0 = own PEL, 1 = new entries, 2 = done
      private var pelCursor = "0-0"
      private var page: Iterator[(String, SeaMessage)] = Iterator.empty

      private def decode(v: Resp.Value): Seq[(String, SeaMessage)] =
        RedisStreams.decodeReadReplyWithIds(v).flatMap(_._2)

      private def fetchPel(): Unit = {
        val entries = decode(client.command(RedisStreams.xreadGroup(
          g, p.consumer, Seq(p.key -> pelCursor), Some(p.batch)): _*))
        if (entries.isEmpty) phase = 1
        else {
          pelCursor = entries.last._1
          val (committed, fresh) = entries.partition { case (id, _) =>
            RedisStreams.idCompare(id, p.afterId) <= 0
          }
          if (committed.nonEmpty)
            client.command(RedisStreams.xack(p.key, g,
              committed.map(_._1)): _*)
          page = fresh.filter { case (id, _) =>
            RedisStreams.idCompare(id, p.untilId) <= 0
          }.iterator
          if (fresh.exists { case (id, _) =>
            RedisStreams.idCompare(id, p.untilId) > 0 }) phase = 1
        }
      }

      private def fetchNew(): Unit = {
        val entries = decode(client.command(RedisStreams.xreadGroup(
          g, p.consumer, Seq(p.key -> ">"), Some(p.batch)): _*))
        if (entries.isEmpty) phase = 2
        else {
          val within = entries.filter { case (id, _) =>
            RedisStreams.idCompare(id, p.untilId) <= 0
          }
          page = within.iterator
          if (within.size < entries.size) phase = 2
        }
      }

      def hasNext: Boolean = {
        while (!page.hasNext && phase < 2)
          if (phase == 0) fetchPel() else fetchNew()
        page.hasNext
      }
      def next(): SeaMessage = page.next()._2
    }
}
