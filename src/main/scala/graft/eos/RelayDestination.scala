package graft.eos

import graft.kafka.{KafkaClient, KafkaTls, KafkaTxnProducer, KafkaWire}
import graft.ops.Failpoints
import graft.redis.{EosCommit, RedisClient, RedisStreams, Resp}

/** Where a relay's resume point lives: inside the destination, so no
  * Spark checkpoint and no source-side state is needed — lose everything
  * but the destination, restart anywhere, and the cursors say exactly
  * what landed. */
sealed trait RelayDestination extends Serializable {

  /** Driver side: the committed cursor of each coordinate that has one. */
  def cursors(source: RelaySource)(coords: Seq[Coord]): Map[Coord, Long]

  /** Concurrent tasks an epoch of `ranges` planned ranges runs in. */
  def tasks(ranges: Int): Int = ranges

  /** Executor side: relay `[committed cursor, until)` of `c` exactly once
    * — the records and the advanced cursor publish atomically, a rival
    * attempt of the same coordinate is fenced, and a crash before the
    * commit leaves nothing visible and the cursor unmoved. Returns the
    * records this attempt committed. */
  def relay(source: RelaySource, c: Coord, until: Long): Long
}

/** A kafka transaction as the destination. The cursor of source
  * coordinate (name, part) is the committed offset of that synthetic
  * coordinate under consumer group `group` — the group coordinator stores
  * offsets by plain (group, topic, partition) key, so the "topic" never
  * has to exist as a log — staged INSIDE the transaction
  * (`send_offsets_to_transaction`), so it publishes atomically with the
  * relayed records. Each page goes to `topicOf(name)` at the partition
  * its target names (a broker source's own partition, order-preserving;
  * a `.ss` frame's folded shard), one `send` per page into the open
  * transaction, and a target partition the topic lacks refuses the
  * range. The source's cap bounds the transaction (the
  * `transaction.timeout.ms` pressure valve).
  *
  * Fence FIRST, read the cursor second: `initTransactions` bumps the
  * producer epoch of the slot's transactional id, aborting any open
  * transaction of a previous incarnation, so no zombie can move (or
  * abort-drop) the cursor this task is about to trust. A range that
  * consumes positions but relays no records (all-aborted, truncated,
  * expired, filtered) still commits its cursor as an offsets-only
  * transaction — a plain OffsetCommit could be rewound by a fenced
  * zombie. A crash anywhere before the commit leaves the records
  * invisible and the cursor unmoved; the next epoch re-relays the range.
  * Fence races retry in-task ([[KafkaTxnDestination.retryFenced]]).
  */
final case class KafkaTxnDestination(host: String, port: Int, group: String,
    txnIdPrefix: String, topicOf: String => String,
    sasl: Option[(String, String)] = None,
    saslMechanism: String = "PLAIN",
    tls: Option[KafkaTls.Client] = None,
    crashBeforeCommit: Option[String] = None,
    raceAfterFence: Option[String] = None) extends RelayDestination {

  private def client() = new KafkaClient(host, port, sasl = sasl,
    saslMechanism = saslMechanism, tls = tls)

  def cursors(source: RelaySource)(coords: Seq[Coord]): Map[Coord, Long] = {
    val c = client()
    try {
      c.findCoordinator(group)
      if (coords.isEmpty) Map.empty
      else c.fetchOffsets(group,
        coords.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2) })
    } finally c.close()
  }

  def relay(source: RelaySource, c: Coord, until: Long): Long = {
    val reader = source.open()
    try KafkaTxnDestination.retryFenced(s"relay ${c._1}/${c._2}") {
      val kc = client()
      try {
        val producer = new KafkaTxnProducer(kc,
          s"$txnIdPrefix-${source.tag(c, "-")}").initTransactions()
        kc.findCoordinator(group)
        val committed = kc.fetchOffsets(group, Map(c._1 -> Seq(c._2)))
          .getOrElse(c, 0L)
        raceAfterFence.foreach(Failpoints.fireHook)
        if (committed >= until) 0L // range already landed — replay skip
        else {
          producer.begin()
          val partitions = scala.collection.mutable.Map.empty[String, Int]
          var n = 0L
          val end = reader.read(c, committed, until, source.budget) { page =>
            val (to, part) = (topicOf(page.target._1), page.target._2)
            val have = partitions.getOrElseUpdate(to,
              kc.metadata(Seq(to)).getOrElse(to, Seq.empty).size)
            require(part < have, s"destination $to lacks partition $part " +
              s"(it has $have)")
            producer.send(to, part.toInt, page.records)
            n += page.records.size
          }
          if (end <= committed) 0L
          else {
            producer.sendOffsetsToTransaction(group, Map(c -> end))
            if (crashBeforeCommit.exists(Failpoints.fire))
              throw new IllegalStateException(
                s"injected crash: relay ${c._1}/${c._2} produced + " +
                  "staged, not committed")
            producer.commit()
            n
          }
        }
      } finally kc.close()
    } finally reader.close()
  }
}

object KafkaTxnDestination {

  /** Run `body`; on INVALID_PRODUCER_EPOCH — a rival incarnation of the
    * slot (typically a killed-but-still-running task of a failed prior
    * epoch whose init landed after ours) fenced this attempt
    * mid-transaction, leaving nothing of it visible — back off and re-run:
    * the fresh init re-fences the rival, the post-fence cursor read
    * absorbs anything the rival committed. Each rival incarnation can
    * fence at most once (after OUR re-init its next RPC dies), so the
    * bound only trips under a genuinely contended slot — two live drivers
    * relaying the same ranges — and then it fails LOUD.
    */
  private[graft] def retryFenced(what: String, maxRetries: Int = 5)(
      body: => Long): Long = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: KafkaClient#KafkaServerErr
            if e.code == KafkaWire.Err.InvalidProducerEpoch =>
          attempts += 1
          if (attempts > maxRetries)
            throw new IllegalStateException(
              s"$what: fenced $attempts times — a live rival keeps " +
                "re-initializing this transactional id (two concurrent " +
                "relays of the same ranges?)", e)
          Thread.sleep(100L * attempts)
      }
    }
    -1L // unreachable
  }
}

/** The redis WATCH/MULTI ledger as the destination. Each source
  * coordinate keeps its committed cursor in the ledger key
  * `prefix:{<tag>}` on the destination, and every commit lands entries
  * (each page into `streamOf(name):shard` of its target) AND the
  * advanced cursor in ONE WATCH-fenced MULTI/EXEC
  * ([[EosCommit.commitKeyed]] — the one redis-destination commit
  * protocol: rival filtering, tip-ms floors, nil retry with geometric
  * batch shrink). Pages are read into a bounded buffer UNWATCHED first:
  * the paging is the slow phase, and holding the destination-key WATCH
  * across it would let any foreign append on the destination stream nil
  * the EXEC — a relay into a stream a plain producer also feeds must ride
  * out contention, not livelock.
  *
  * A range commits as SUB-EPOCHS of about [[RedisLedgerDestination.TxnBytes]]
  * of payload, cut before the first page that starts above everything
  * buffered (so the sub-epoch's `last position + 1` cursor never passes a
  * position still to come). The conflict window, the nil-retry cost, the
  * task's buffer and the server's MULTI queue are all bounded by it. When
  * several coordinates write one destination key (`.ss` part files
  * routinely each carry every (stream, shard)), sibling tasks nil each
  * other's EXECs; a sub-epoch keeps that cost to one sub-epoch, not the
  * range, and each retry re-reads cursor and floors and re-queues from
  * memory, so an in-EXEC id refusal is impossible by construction.
  * Concurrency is capped at [[RedisLedgerDestination.RedisShipSlices]]
  * tasks per node, and commits pass an adaptive per-node gate
  * ([[RedisLedgerDestination.isGateContended]]).
  *
  * The ledger key hash-tags the braced coordinate; on a redis CLUSTER the
  * per-coordinate transaction must keep entries and ledger in one hash
  * slot ([[graft.redis.RedisSource.writeExactlyOnceCluster]]'s per-key tag
  * pattern) — this single-node form keeps the reference consumer's
  * `stream:shard` key naming readable instead.
  */
final case class RedisLedgerDestination(host: String, port: Int,
    ledgerPrefix: String, streamOf: String => String,
    tls: Option[RedisClient.Tls] = None,
    auth: Option[RedisClient.Auth] = None,
    crashBeforeCommit: Option[String] = None,
    raceAfterRead: Option[String] = None,
    raceBeforeExec: Option[String] = None) extends RelayDestination {
  import RedisLedgerDestination._

  private def client() = new RedisClient(host, port, tls = tls, auth = auth)

  private def ledger(source: RelaySource, c: Coord): String =
    s"$ledgerPrefix:{${source.tag(c, "/")}}"

  private def cursor(rc: RedisClient, ledger: String): Option[Long] =
    rc.command(RedisStreams.get(ledger): _*) match {
      case Resp.Bulk(bs) => Some(new String(bs, "UTF-8").toLong)
      case _ => None
    }

  def cursors(source: RelaySource)(coords: Seq[Coord]): Map[Coord, Long] = {
    val rc = client()
    try coords.flatMap(c => cursor(rc, ledger(source, c)).map(c -> _)).toMap
    finally rc.close()
  }

  override def tasks(ranges: Int): Int = math.min(ranges, RedisShipSlices)

  def relay(source: RelaySource, c: Coord, until: Long): Long = {
    val led = ledger(source, c)
    val gateKey = (host, port, ledgerPrefix)
    val gate = commitGates.computeIfAbsent((host, port), _ => new Object)
    val reader = source.open()
    try {
      val rc = client()
      try {
        var total = 0L
        var buf = Vector.newBuilder[(Long, String, Long, Array[Byte])]
        var bufBytes = 0L
        var last = -1L // highest buffered position; -1 = empty
        var ordered = true
        def commit(finalCursor: Long): Unit = {
          val entries = buf.result()
          total += EosCommit.commitKeyed(rc, led,
            if (ordered) entries else entries.sortBy(_._1),
            finalCursor, label = s"relay ${c._1}/${c._2}",
            crashBeforeCommit = crashBeforeCommit,
            raceAfterRead = raceAfterRead, raceBeforeExec = raceBeforeExec,
            gate = Some(gate), gated = () => isGateContended(gateKey),
            onNil = () => noteShipNil(gateKey),
            onApplied = () => noteShipApplied(gateKey))
          buf = Vector.newBuilder; bufBytes = 0L; last = -1L; ordered = true
        }
        // the epoch budget counts CURSOR PROGRESS — source records
        // consumed from the planned start — not records this task
        // committed: EosCommit excludes a rival's share, so budgeting on
        // its return value would let a rival-assisted epoch exceed the
        // bounded-transaction law
        var consumed = 0L
        var from = cursor(rc, led).getOrElse(0L)
        while (from < until && consumed < source.budget) {
          val end = reader.read(c, from, until, source.budget - consumed) {
            page =>
              val first = page.positions(0)
              if (bufBytes >= TxnBytes && first > last) commit(last + 1L)
              if (first < last) ordered = false
              val key = RedisStreams.shardedKey(streamOf(page.target._1),
                page.target._2, sharded = true)
              var i = 0
              page.records.foreach { case (tsMs, _, payload) =>
                buf += ((page.positions(i), key, tsMs, payload))
                bufBytes += payload.length + 64L
                i += 1
              }
              last = math.max(last, page.positions(i - 1))
              consumed += i
          }
          if (end <= from) from = until // nothing left below the tip
          else {
            // an empty buffer (a fully-truncated/aborted/expired/filtered
            // range) still advances the cursor under the same fence
            commit(end)
            // a rival covering the batch returns 0 — re-read the cursor
            // and keep draining toward the planned tip
            from = if (end >= until) until else cursor(rc, led).getOrElse(0L)
          }
        }
        total
      } finally rc.close()
    } finally reader.close()
  }
}

object RedisLedgerDestination {

  /** Payload bytes per sub-epoch transaction (each entry weighs its
    * payload + 64). */
  private val TxnBytes: Long = 8L << 20

  /** Concurrent relay tasks per redis destination node: one node applies
    * every EXEC under one mutation thread, so throughput is apply-bound
    * past a handful of writers, and extra concurrent tasks only hold
    * open WATCH windows that nil each other (measured at sf1: 32
    * concurrent file tasks → ~5 nils per commit; 8 → near zero). Ranges
    * beyond the cap run sequentially inside a task; on a sharded
    * destination the cap is per-NODE concurrency, which a cluster
    * deployment multiplies by its master count. */
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

  /** Adaptive gating: a destination starts UNGATED — relays whose
    * coordinates never share a destination key (every broker source,
    * since `RelayDriver`'s pair check refuses non-injective renames, and
    * `.ss` layouts written with `repartitionByKey`) never conflict, and
    * gating them would forfeit the parallel queue/parse the server offers
    * across connections. The FIRST nil proves the layout contended and flips
    * the destination to gate-first: shared-key layouts then serialize
    * their commit sections, paying at most one wasted queue per
    * concurrent task to learn it. The flag is scoped per (host, port,
    * ledgerPrefix) — a later key-disjoint relay to a reused node (or a
    * fresh embedded server on a recycled port) must not inherit
    * serialized commits — and DECAYS: after [[GateCalmCommits]]
    * consecutive nil-free gated commits the destination un-gates and
    * re-probes the optimistic path, re-gating on the next nil (≤ one
    * wasted attempt per decay window).
    */
  private val gateContended =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String), java.lang.Boolean]()
  private val gateCalm =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String),
      java.util.concurrent.atomic.AtomicInteger]()
  private[graft] val GateCalmCommits = 64

  private[graft] def isGateContended(key: (String, Int, String)): Boolean =
    java.lang.Boolean.TRUE.equals(gateContended.get(key))

  private[graft] def noteShipNil(key: (String, Int, String)): Unit = {
    gateContended.put(key, true)
    gateCalm.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicInteger).set(0)
  }

  private[graft] def noteShipApplied(key: (String, Int, String)): Unit = {
    val calm = gateCalm.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicInteger)
    if (calm.incrementAndGet() >= GateCalmCommits) {
      calm.set(0)
      gateContended.remove(key) // re-probe the optimistic ungated path
    }
  }
}
