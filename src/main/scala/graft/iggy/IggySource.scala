package graft.iggy

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{SeaMessage, TaskResources, WriterPlacement}
import IggyWire.{Partitioning, PolledMessage, PollStrategy}

/** Spark ↔ iggy integration. Envelope mapping: sea-streamer StreamKey =
  * iggy TOPIC (the adapter's own mapping, sea-streamer-iggy/src/
  * streamer.rs:141-155), shard = iggy partition, sequence = the partition's
  * dense offset, timestamp = message event time. The iggy STREAM is a
  * namespace around the topics (one per facade connection).
  *
  * Scale shape mirrors [[graft.redis.RedisSource]]: one Spark partition per
  * (topic, iggy-partition), each task holding its own connection — reads
  * are paged offset polls, writes are batched SEND_MESSAGES. Nothing
  * funnels through the driver.
  */
object IggySource {

  /** Default iggy namespace stream for facade connections. */
  val DefaultStream = "graft"

  /** Lazy paged poll over one (topic, partition): first page at `from`,
    * later pages continue offset-exclusive; only one page in memory.
    * `group` polls as that consumer group with auto-commit, so the server's
    * stored group offset tracks delivery (IggyAutoCommit::AfterPolling —
    * options.rs:88-97).
    *
    * Runs over an [[IggyClient.Session]]: a drop mid-scan reconnects and
    * re-polls the CURRENT page. Past the first page the cursor is an
    * explicit AtOffset, so the resume is exactly-once; a first-page retry
    * re-issues the deterministic start strategy (for group-Next with
    * auto-commit a lost REPLY can skip the in-flight page — the inherent
    * at-most-once edge of server-side commit-on-poll, same as the
    * reference's auto_commit mode).
    *
    * With an `until` bound (a micro-batch slice below a planned tip) the
    * scan stops before offset `until` and polls on past short pages; an
    * open-ended scan ends at its first short page.
    */
  private[iggy] def pagedPoll(session: IggyClient.Session, stream: String,
      topic: String, part: Int, from: PollStrategy, batch: Int,
      group: Option[String] = None,
      until: Long = Long.MaxValue): Iterator[SeaMessage] =
    new Iterator[SeaMessage] {
      private val consumer = group.map((1, _)).getOrElse((0, ""))
      private var strategy = from
      private var page: Iterator[PolledMessage] = Iterator.empty
      private var exhausted = false
      private def fetch(): Unit = {
        val want = strategy match {
          case PollStrategy.AtOffset(o) =>
            math.min(batch.toLong, until - o).toInt
          case _ => batch
        }
        val (_, msgs) = session.retrying("poll")(_.pollMessages(stream,
          topic, part, strategy, want, consumer,
          autoCommit = group.isDefined))
        if (msgs.isEmpty) exhausted = true
        else {
          val next = msgs.last.offset + 1
          strategy = PollStrategy.AtOffset(next)
          exhausted = next >= until ||
            (until == Long.MaxValue && msgs.size < batch)
          page = msgs.iterator
        }
      }
      def hasNext: Boolean = {
        if (!page.hasNext && !exhausted) fetch()
        page.hasNext
      }
      def next(): SeaMessage = {
        val m = page.next()
        SeaMessage(topic, part.toLong, m.offset,
          new java.sql.Timestamp(m.tsMs), m.payload)
      }
    }

  /** The next offset per kept partition of `topics`: one GET_TOPIC per
    * topic (metadata-only, like a Kafka metadata request). A topic missing
    * on the server lists no partitions until it appears. The one tip probe
    * of iggy-stream, bounded reads and the relay.
    */
  private[graft] def tips(c: IggyClient, stream: String,
      topics: Seq[String], keep: (String, Int) => Boolean = (_, _) => true)
      : Seq[((String, Int), Long)] =
    for {
      t <- topics
      (tip, p) <- c.topicTips(stream, t).toSeq.flatMap(_.zipWithIndex)
      if keep(t, p)
    } yield (t, p) -> tip

  /** The first offset with timestamp > `ms` (the Timestamp strategy at
    * `ms + 1`, one count-1 poll), `tip` when no such message exists yet.
    */
  private[graft] def seek(c: IggyClient, stream: String, topic: String,
      part: Int, ms: Long, tip: Long): Long =
    c.pollMessages(stream, topic, part, PollStrategy.AtTimestamp(ms + 1), 1)
      ._2.headOption.map(_.offset).getOrElse(tip)

  /** Bounded read of whole topics: one task per (topic, partition).
    * `afterMs` pushes the facade seek into the server-side Timestamp
    * strategy (`ts >= afterMs+1`, exact for ms-resolution envelopes — no
    * pre-seek scan); `group` + Next resumes from the stored group offset
    * and commits as it pages (the adapter's auto_commit poll loop,
    * streamer.rs:214-239).
    */
  def boundedRead(spark: SparkSession, host: String, port: Int,
      topics: Seq[String], stream: String = DefaultStream,
      batch: Int = 1000, afterMs: Option[Long] = None,
      group: Option[String] = None,
      /** Rewind law `sequence >= n` pushed as the per-partition AtOffset
        * start (offsets ARE the envelope sequence on iggy) — the pre-rewind
        * prefix is never polled. Ignored when `afterMs` is set (the seek
        * start wins; the facade keeps its exact residual filter).
        */
      fromOffset: Option[Long] = None,
      /** `Consumer::assign` pin: unassigned (topic, partition) pairs are
        * dropped at planning — never polled (shard = iggy partition, so
        * the facade's (stream, shard) pairs map 1:1).
        */
      assign: Option[Seq[(String, Long)]] = None,
      /** LoginUser credentials — the reference's connection-string
        * user:pass (streamer.rs:51; iggy's bootstrap default). */
      auth: (String, String) = ("iggy", "iggy")): DataFrame = {
    import spark.implicits._
    val parts = {
      val c = new IggyClient(host, port, username = auth._1,
        password = auth._2)
      try tips(c, stream, topics, (t, p) =>
        assign.forall(_.exists(a => a._1 == t && a._2 == p.toLong))).map(_._1)
      finally c.close()
    }
    val start: PollStrategy = afterMs match {
      case Some(ms) => PollStrategy.AtTimestamp(ms + 1) // seek law: ts > ms
      case None if fromOffset.isDefined => PollStrategy.AtOffset(fromOffset.get)
      case None if group.isDefined => PollStrategy.Next
      case None => PollStrategy.First
    }
    spark.sparkContext.parallelize(parts, math.max(1, parts.size))
      .mapPartitions(_.flatMap { case (topic, partition) =>
        TaskResources.closing(new IggyClient.Session(() =>
          new IggyClient(host, port, username = auth._1,
            password = auth._2)))(
          pagedPoll(_, stream, topic, partition, start, batch, group))
      }).toDF()
  }

  /** Batched send. [[graft.core.WriterPlacement]] gives each target iggy
    * partition — `shard % partitions`, not the raw shard, so two shards
    * folding onto one partition share its writer — exactly ONE writer task,
    * appending in timestamp order: offsets stay ts-monotone per partition,
    * which the Timestamp strategy's binary search and the envelope's seek
    * law rely on. Topics are created on demand
    * (create_stream/topic_if_not_exists, streamer.rs:86-132).
    *
    * `balanced = true` drops shard fidelity and lets the SERVER round-robin
    * each batch (Partitioning::balanced, producer.rs:100-105) — the
    * reference producer's default.
    */
  def write(df: DataFrame, host: String, port: Int,
      stream: String = DefaultStream, partitions: Int = 4,
      batchSize: Int = 1000, balanced: Boolean = false,
      auth: (String, String) = ("iggy", "iggy")): Unit = {
    val dests = WriterPlacement.Partitions(partitions)
    WriterPlacement.foreachTask(df, dests) { rows =>
      // session: a dropped send retries ITS OWN request after a
      // reconnect — earlier batches were already acknowledged, so the
      // known-applied prefix is never replayed (a lost in-flight reply
      // is at-least-once, as for every request/reply producer)
      val session = new IggyClient.Session(() =>
        new IggyClient(host, port, username = auth._1,
          password = auth._2))
      val created = scala.collection.mutable.Set.empty[String]
      try {
        session.retrying("create-stream")(_.createStreamIfAbsent(stream))
        WriterPlacement.chunks(rows, batchSize, dests).foreach {
          case ((topic, part), rs) =>
            if (created.add(topic))
              session.retrying("create-topic")(
                _.createTopicIfAbsent(stream, topic, partitions))
            val p =
              if (balanced) Partitioning.Balanced
              else Partitioning.PartitionId(part.toInt)
            session.retrying("send")(_.sendMessages(stream, topic, p,
              rs.map(r => (r._3.getTime, r._4))))
        }
      } finally session.close()
    }
  }
}
