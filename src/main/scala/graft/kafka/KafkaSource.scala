package graft.kafka

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{SeaMessage, TaskResources, WriterPlacement}
import graft.core.WriterPlacement.Partitions
import KafkaWire.KRecord

/** Spark ↔ Kafka integration over [[KafkaClient]]. Envelope mapping is the
  * reference consumer's Message impl (sea-streamer-kafka/src/consumer.rs:
  * 591-618): stream_key = topic, shard_id = partition, sequence = offset,
  * timestamp = record timestamp (ms), payload = record value.
  *
  * Scale shape mirrors [[graft.redis.RedisSource]]/[[graft.iggy.IggySource]]:
  * one Spark partition per (topic, kafka-partition), each task holding its
  * own connection — reads are byte-capped fetch pages, writes are batched
  * produces. Nothing funnels through the driver.
  */
object KafkaSource {

  /** Lazy fetch-paged scan over one (topic, partition): [from, until).
    * Runs through a [[KafkaClient.Session]]: a connection dropped mid-fetch
    * reconnects and re-asks from `next0`, which only advances after a page
    * fully decodes — a retry can therefore never re-deliver a row. The
    * cursor advances by BATCH extent (fetchIso's nextOffset), not by
    * record offsets: under read_committed an entire page can be aborted
    * data + markers yielding zero records, and a record-offset cursor
    * would stall forever on it.
    */
  private[kafka] def pagedFetch(session: KafkaClient.Session, topic: String,
      part: Int, from: Long, until: Long,
      maxBytes: Int = 1 << 20,
      readCommitted: Boolean = false): Iterator[SeaMessage] =
    new Iterator[SeaMessage] {
      private var next0 = from
      private var page: Iterator[KRecord] = Iterator.empty
      private var exhausted = from >= until
      private def fetchPage(): Unit = {
        val (_, next, recs) = session.retrying(s"fetch $topic/$part")(
          _.fetchIso(topic, part, next0, maxBytes, readCommitted))
        val bounded = recs.takeWhile(_.offset < until)
        if (next <= next0) exhausted = true // nothing served: end of range
        else {
          next0 = math.min(next, until)
          if (next0 >= until) exhausted = true
          page = bounded.iterator
        }
      }
      def hasNext: Boolean = {
        while (!page.hasNext && !exhausted) fetchPage()
        page.hasNext
      }
      def next(): SeaMessage = {
        val r = page.next()
        SeaMessage(topic, part.toLong, r.offset,
          new java.sql.Timestamp(r.tsMs), r.value)
      }
    }

  /** The next offset per kept partition of `topics`, in Metadata order:
    * one Metadata, then one ListOffsets(latest) per partition. Under
    * read_committed the readable tip is the LAST STABLE OFFSET, not the
    * high watermark — with an OPEN transaction parked below the hw, a plan
    * up to the hw would page forever at the LSO getting empty committed
    * fetches — and one 1-byte read_committed fetch at the hw resolves it.
    * The one tip probe of kafka-wire, bounded reads and the relay.
    */
  private[graft] def tips(c: KafkaClient, topics: Seq[String],
      keep: (String, Int) => Boolean,
      readCommitted: Boolean): Seq[((String, Int), Long)] = {
    val meta = c.metadata(topics)
    for (t <- topics; p <- meta.getOrElse(t, Seq.empty) if keep(t, p)) yield {
      val hw = c.listOffset(t, p, KafkaWire.Ts.Latest).getOrElse(0L)
      (t, p) -> (if (!readCommitted) hw
        else c.fetchIso(t, p, hw, maxBytes = 1, readCommitted = true)._1)
    }
  }

  /** The first offset with timestamp > `ms` (the seek law is strictly `>`:
    * ListOffsets(ms + 1), the `offsets_for_times` seek of
    * consumer.rs:464-494), `tip` when no such record exists yet.
    */
  private[graft] def seek(c: KafkaClient, topic: String, part: Int, ms: Long,
      tip: Long): Long =
    c.listOffset(topic, part, ms + 1).getOrElse(tip)

  /** Per-partition [start, end) ranges, resolved once on the driver
    * (Metadata + ListOffsets — the same planning calls a Kafka consumer
    * makes on assignment).
    */
  private def planRanges(host: String, port: Int, topics: Seq[String],
      afterMs: Option[Long], fromOffset: Option[Long],
      assign: Option[Seq[(String, Long)]],
      sasl: Option[(String, String)],
      saslMechanism: String,
      tls: Option[KafkaTls.Client],
      readCommitted: Boolean): Seq[(String, Int, Long, Long)] = {
    val c = new KafkaClient(host, port, sasl = sasl,
      saslMechanism = saslMechanism, tls = tls)
    val keep = (t: String, p: Int) =>
      assign.forall(_.exists(a => a._1 == t && a._2 == p.toLong))
    try tips(c, topics, keep, readCommitted).map { case ((t, p), until) =>
      val from = afterMs match {
        case Some(ms) => seek(c, t, p, ms, until)
        case None => fromOffset.getOrElse(0L)
      }
      (t, p, math.min(from, until), until)
    } finally c.close()
  }

  /** Bounded read of whole topics: one task per (topic, partition); ends
    * frozen at planning (reads are repeatable under task retry). `afterMs`
    * pushes the facade seek into ListOffsets; `fromOffset` is the rewind
    * law (`sequence >= n` — offsets ARE the envelope sequence on Kafka).
    * `assign` is the manual-partition pin (`Consumer::assign`): the
    * planner drops unassigned partitions BEFORE any ListOffsets or fetch —
    * the pin prunes the scan, not the result (shard_id = partition on this
    * backend, so the facade's (stream, shard) pairs map 1:1).
    */
  def boundedRead(spark: SparkSession, host: String, port: Int,
      topics: Seq[String], afterMs: Option[Long] = None,
      fromOffset: Option[Long] = None,
      maxFetchBytes: Int = 1 << 20,
      assign: Option[Seq[(String, Long)]] = None,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      readCommitted: Boolean = false): DataFrame = {
    import spark.implicits._
    val ranges = planRanges(host, port, topics, afterMs, fromOffset, assign,
      sasl, saslMechanism, tls, readCommitted)
    spark.sparkContext.parallelize(ranges, math.max(1, ranges.size))
      .mapPartitions(_.flatMap { case (topic, partition, from, until) =>
        TaskResources.closing(new KafkaClient.Session(
          () => new KafkaClient(host, port, sasl = sasl,
            saslMechanism = saslMechanism, tls = tls)))(
          pagedFetch(_, topic, partition, from, until, maxFetchBytes,
            readCommitted))
      }).toDF()
  }

  /** Batched produce. [[graft.core.WriterPlacement]] gives each target
    * (topic, partition) exactly ONE writer task, appending in timestamp
    * order — ListOffsets' first-ts>=T lookup then matches the seek law
    * exactly (same invariant as IggySource.write). Topics auto-create at
    * `partitions` via the broker's Metadata path.
    */
  def write(df: DataFrame, host: String, port: Int, partitions: Int = 4,
      batchSize: Int = 1000,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      compression: String = "none"): Unit = {
    // fail on an unknown/unsupported codec BEFORE any executor work
    val codec = KafkaWire.Codec.of(compression)
    WriterPlacement.foreachTask(df, Partitions(partitions)) { rows =>
      // produces retry through the session: a RETRIABLE error code
      // means the broker refused (did not append) the batch, so the
      // replay is duplicate-free; a reconnect-after-accept is the
      // standard at-least-once produce gap (the reference shares it
      // without idempotent producers) — exactly-once sits in the
      // engine's epoch ledger (ops.ExactlyOnce), not here
      val session = new KafkaClient.Session(
        () => new KafkaClient(host, port, sasl = sasl,
          saslMechanism = saslMechanism, tls = tls))
      try sendRows(rows, partitions, batchSize)(topic =>
        session.retrying(s"metadata $topic")(
          _.metadata(Seq(topic)).getOrElse(topic, Seq.empty))) {
        (topic, part, recs) =>
          session.retrying(s"produce $topic/$part")(
            _.produce(topic, part, recs, codec))
      } finally session.close()
    }
  }

  /** [[write]] through the KIP-98 transactional producer: each task runs
    * ONE transaction covering all its produces (transactional id =
    * `txnIdPrefix-taskPartition` — unique per task so parallel writers
    * never fence each other, exactly the id scheme a Spark exactly-once
    * Kafka sink uses), committed or ABORTED at the end. `commit = false`
    * is the rolled-back-producer shape: the records land in the log,
    * followed by abort markers, and a read_committed consumer must never
    * see them — k6's oracle law.
    */
  def writeTransactional(df: DataFrame, host: String, port: Int,
      txnIdPrefix: String, commit: Boolean,
      partitions: Int = 4, batchSize: Int = 1000,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      compression: String = "none"): Unit = {
    val codec = KafkaWire.Codec.of(compression)
    WriterPlacement.foreachTask(df, Partitions(partitions)) { rows =>
      val client = new KafkaClient(host, port, sasl = sasl,
        saslMechanism = saslMechanism, tls = tls)
      try {
        val txnId = txnIdPrefix + "-" +
          org.apache.spark.TaskContext.getPartitionId()
        val producer = new KafkaTxnProducer(client, txnId)
          .initTransactions()
        producer.begin()
        sendRows(rows, partitions, batchSize)(topic =>
          client.metadata(Seq(topic)).getOrElse(topic, Seq.empty))(
          producer.send(_, _, _, codec))
        if (commit) producer.commit() else producer.abort()
        ()
      } finally client.close()
    }
  }

  /** Sends one writer task's rows ([[WriterPlacement.chunks]]) through
    * `send`, checking each topic's partition count (`metadata`) before
    * its first send. The one send loop of the plain, transactional and
    * exactly-once kafka writers.
    */
  private[kafka] def sendRows(rows: Iterator[WriterPlacement.Row],
      partitions: Int, batchSize: Int)(metadata: String => Seq[Int])
      (send: (String, Int, Seq[(Long, Array[Byte], Array[Byte])]) => Unit)
      : Unit = {
    val known = scala.collection.mutable.Set.empty[String]
    WriterPlacement.chunks(rows, batchSize, Partitions(partitions)).foreach {
      case ((topic, part), rs) =>
        if (known.add(topic)) {
          val parts = metadata(topic)
          require(parts.size >= partitions,
            s"topic $topic has ${parts.size} partitions, need $partitions")
        }
        send(topic, part.toInt,
          rs.map(r => (r._3.getTime, null: Array[Byte], r._4)))
    }
  }
}
