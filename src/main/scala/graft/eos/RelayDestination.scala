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
  def cursors(tips: RelayTips)(coords: Seq[Coord]): Map[Coord, Long]

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
  * relayed records. Each range relays to `topicOf(name)` at the SAME
  * partition (order-preserving), streaming pages into the open
  * transaction; `cap` bounds the transaction (the
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

  def cursors(tips: RelayTips)(coords: Seq[Coord]): Map[Coord, Long] = {
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
    try transact(source, c, until) { (kc, producer, committed) =>
      val to = topicOf(c._1)
      require(kc.metadata(Seq(to)).getOrElse(to, Seq.empty).size > c._2,
        s"destination $to lacks partition ${c._2}")
      var n = 0L
      val end = reader.read(c, committed, until, source.budget) { page =>
        producer.send(to, c._2, page.records)
        n += page.records.size
      }
      (end, n)
    } finally reader.close()
  }

  /** One fenced transaction over `[committed, until)` of `c`: fence,
    * read the committed cursor, run `body` inside the open transaction —
    * it returns (the cursor after what it consumed, records sent) — then
    * stage that cursor and commit. Nothing is committed when `body`
    * consumed nothing. Fence races retry in-task ([[KafkaTxnDestination.retryFenced]]).
    */
  private[graft] def transact(tips: RelayTips, c: Coord, until: Long)(
      body: (KafkaClient, KafkaTxnProducer, Long) => (Long, Long)): Long =
    KafkaTxnDestination.retryFenced(s"relay ${c._1}/${c._2}") {
      val kc = client()
      try {
        val producer = new KafkaTxnProducer(kc,
          s"$txnIdPrefix-${tips.tag(c, "-")}").initTransactions()
        kc.findCoordinator(group)
        val committed = kc.fetchOffsets(group, Map(c._1 -> Seq(c._2)))
          .getOrElse(c, 0L)
        raceAfterFence.foreach(Failpoints.fireHook)
        if (committed >= until) 0L // range already landed — replay skip
        else {
          producer.begin()
          val (end, n) = body(kc, producer, committed)
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
  * `prefix:{<tag>}` on the destination, and every commit lands the
  * coordinate's entries (into `streamOf(name):part`) AND the advanced
  * cursor in ONE WATCH-fenced MULTI/EXEC ([[EosCommit]] — the one
  * redis-destination commit protocol: rival filtering, tip-ms floors,
  * nil retry with geometric batch shrink). The range is read into a
  * bounded buffer UNWATCHED first: the paging is the slow phase, and
  * holding the destination-key WATCH across it would let any foreign
  * append on the destination stream nil the EXEC — a relay into a stream
  * a plain producer also feeds must ride out contention, not livelock.
  * `cap` bounds the MULTI (redis holds the whole queue in memory until
  * EXEC).
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

  private[graft] def client() =
    new RedisClient(host, port, tls = tls, auth = auth)

  private[graft] def ledger(tips: RelayTips, c: Coord): String =
    s"$ledgerPrefix:{${tips.tag(c, "/")}}"

  private[graft] def cursor(rc: RedisClient, ledger: String): Option[Long] =
    rc.command(RedisStreams.get(ledger): _*) match {
      case Resp.Bulk(bs) => Some(new String(bs, "UTF-8").toLong)
      case _ => None
    }

  def cursors(tips: RelayTips)(coords: Seq[Coord]): Map[Coord, Long] = {
    val rc = client()
    try coords.flatMap(c => cursor(rc, ledger(tips, c)).map(c -> _)).toMap
    finally rc.close()
  }

  def relay(source: RelaySource, c: Coord, until: Long): Long = {
    val led = ledger(source, c)
    val dstKey = RedisStreams.shardedKey(streamOf(c._1), c._2.toLong,
      sharded = true)
    val reader = source.open()
    try {
      val rc = client()
      try {
        var total = 0L
        // the epoch budget counts CURSOR PROGRESS — source records
        // consumed from the planned start — not records this task
        // committed: EosCommit excludes a rival's share, so budgeting on
        // its return value would let a rival-assisted epoch exceed the
        // bounded-transaction law
        var consumed = 0L
        var from = cursor(rc, led).getOrElse(0L)
        while (from < until && consumed < source.budget) {
          val buf = Vector.newBuilder[(Long, Long, Array[Byte])]
          val end = reader.read(c, from, until, source.budget - consumed) {
            page => buf ++= page.positions.iterator.zip(page.records)
              .map { case (pos, (tsMs, _, payload)) => (pos, tsMs, payload) }
          }
          if (end <= from) from = until // nothing left below the tip
          else {
            val entries = buf.result()
            consumed += entries.size
            // an empty buffer (a fully-truncated/aborted/expired range)
            // still advances the cursor under the same fence
            total += EosCommit.commit(rc, led, dstKey, entries,
              finalCursor = end, label = s"relay ${c._1}/${c._2}",
              crashBeforeCommit = crashBeforeCommit,
              raceAfterRead = raceAfterRead, raceBeforeExec = raceBeforeExec)
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
