package graft.iggy.spark

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{DenseOffset, Envelope, SeaMessage, SourceOptions}
import graft.iggy.{IggyClient, IggySource}
import graft.iggy.IggyWire.PollStrategy
import graft.ss.spark.SsRows

/** `spark.readStream.format("iggy-stream")` — live micro-batch consumer
  * over the iggy backend, the reference adapter's background poll loop
  * (sea-streamer-iggy/src/streamer.rs:180-250) re-expressed in Spark's
  * offset model:
  *
  *   - an offset is the NEXT offset to read per `topic/partition` (dense
  *     u64s, the Kafka shape — simpler than redis entry ids);
  *   - latestOffset asks each topic for its partition tips (one metadata
  *     round trip for the whole topic, O(#topics) per trigger);
  *   - each micro-batch reads `[from, until)` per partition — one Spark
  *     partition per iggy partition, executor-side connections;
  *   - `startingOffsets` earliest|latest = PollingStrategy First / Last
  *     anchoring (options.rs:69-82); `startingTimestamp` (ms) = the
  *     Timestamp strategy, resolved to a per-partition start offset at
  *     stream start (driver-side, one count-1 poll per partition);
  *   - `maxMessagesPerTrigger` bounds each micro-batch via
  *     [[SupportsAdmissionControl]] — `latestOffset(start, limit)` receives
  *     Spark's committed start, so a restart can never plan behind the
  *     checkpoint, and the budget splits across partitions WITH BACKLOG
  *     (computable exactly here: lag = tip - committed);
  *   - `group` polls as that consumer group with auto-commit, so the
  *     server's stored group offset tracks delivery
  *     (IggyAutoCommit::AfterPolling, options.rs:88-97).
  *
  * Delivery is at-least-once under the checkpoint like every Spark source;
  * the epoch commit is the offset commit (SURVEY §2.6 mapping).
  */
class IggyDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "iggy-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Envelope.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new IggyTable(new CaseInsensitiveStringMap(properties))
  override def supportsExternalMetadata(): Boolean = true
}

class IggyTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"iggy-stream:${options.get("host")}:${options.get("topics")}"
  override def schema(): StructType = Envelope.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(opts.asCaseSensitiveMap())
    val all = new CaseInsensitiveStringMap(merged)
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = Envelope.schema
        override def toMicroBatchStream(loc: String): MicroBatchStream =
          new IggyMicroBatchStream(all)
      }
    }
  }
}

final case class IggyInputPartition(
    host: String, port: Int, stream: String, topic: String, partition: Int,
    from: Long, until: Long, batch: Int, group: Option[String],
    user: String = "iggy", password: String = "iggy")
  extends InputPartition

class IggyMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val host = Option(options.get("host")).getOrElse("127.0.0.1")
  private val port = options.getInt("port", 8090)
  private val stream = options.getOrDefault("stream", IggySource.DefaultStream)
  // LoginUser credentials on the options surface (iggy's bootstrap
  // default) — every connection this source opens logs in with them
  private val user = options.getOrDefault("username", "iggy")
  private val password = options.getOrDefault("password", "iggy")
  private val topics = Option(options.get("topics"))
    .getOrElse(throw new IllegalArgumentException(
      "iggy-stream requires a `topics` option"))
    .split(',').map(_.trim).filter(_.nonEmpty).toSeq
  private val batch = options.getInt("batchSize", 1000)
  private val latest = options.getOrDefault("startingOffsets", "earliest")
    .equalsIgnoreCase("latest")
  private val startingTimestamp: Option[Long] = {
    val v = options.get("startingTimestamp")
    if (v == null || v.isEmpty) None else Some(v.toLong)
  }
  if (latest && startingTimestamp.isDefined)
    throw new IllegalArgumentException(
      "startingOffsets=latest conflicts with startingTimestamp")
  private val maxMessagesPerTrigger: Option[Long] =
    SourceOptions.positive(options, "maxMessagesPerTrigger")
  private val group: Option[String] = {
    val v = options.get("group")
    if (v == null || v.isEmpty) None else Some(v)
  }

  /** Manual partition assign (`Consumer::assign`): `"topic:0,topic:2"`
    * pins the subscription — unassigned partitions are never tip-listed,
    * polled, or checkpointed (same pruning law as the kafka-wire stream).
    */
  private val assign: Option[Set[(String, Int)]] =
    SourceOptions.assign(options)
  private def keep(t: String, p: Int): Boolean =
    assign.forall(_.contains((t, p)))

  /** Driver-side metadata calls ride one connection, opened lazily and
    * recreated on failure (planning has no task-retry net).
    */
  private def withClient[T](f: IggyClient => T): T = {
    val c = new IggyClient(host, port, username = user, password = password)
    try f(c) finally c.close()
  }

  /** Tips = next offset per partition, one GET_TOPIC per topic. A topic
    * missing on the server plans as zero partitions until it appears.
    */
  private def tips(): Map[(String, Int), Long] =
    withClient { c =>
      topics.flatMap { t =>
        c.topicTips(stream, t).toSeq.flatMap(_.zipWithIndex.collect {
          case (tip, p) if keep(t, p) => (t, p) -> tip
        })
      }.toMap
    }

  override def initialOffset(): Offset = {
    val ids: Map[(String, Int), Long] = startingTimestamp match {
      case Some(ms) =>
        // Timestamp strategy: first offset with ts >= ms+1 (facade seek law
        // is strictly >); at/past the tip when no such message yet
        withClient { c =>
          topics.flatMap { t =>
            c.topicTips(stream, t).toSeq.flatMap(_.zipWithIndex.collect {
              case (tip, p) if keep(t, p) =>
                val (_, msgs) = c.pollMessages(stream, t, p,
                  PollStrategy.AtTimestamp(ms + 1), 1)
                (t, p) -> msgs.headOption.map(_.offset).getOrElse(tip)
            })
          }.toMap
        }
      case None if latest => tips()
      case None => tips().map { case (k, _) => k -> 0L }
    }
    val resolved = group match {
      // group RESUME (k4/r6's law on this backend): a group-anchored
      // stream continues AFTER the server's stored offset wherever one
      // exists — the stored offset is the last DELIVERED message (the
      // broker's Next semantics), so the start id is stored+1; partitions
      // with no stored offset keep the strategy-derived anchor. An
      // explicit timestamp seek overrides the stored cursor.
      case Some(g) if startingTimestamp.isEmpty =>
        withClient { c =>
          topics.foreach(t => c.createGroupIfAbsent(stream, t, g))
          ids.map { case ((t, p), anchor) =>
            (t, p) -> c.getOffset(stream, t, p, (1, g))
              .map(_ + 1L).getOrElse(anchor)
          }
        }
      case _ =>
        group.foreach { g =>
          withClient(c => topics.foreach(t => c.createGroupIfAbsent(stream, t, g)))
        }
        ids
    }
    DenseOffset(resolved)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxMessagesPerTrigger.map(ReadLimit.maxRows)
      .getOrElse(ReadLimit.allAvailable())

  /** Capped ends are pure arithmetic (lag = tip - committed): the budget
    * splits across partitions with backlog proportionally, no data reads on
    * the driver at all — O(#topics) metadata per trigger.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val after = start.asInstanceOf[DenseOffset].offs
    val tip = tips()
    val ends = limit match {
      case r: ReadMaxRows =>
        val lags = tip.map { case (k, t) =>
          k -> math.max(0L, t - after.getOrElse(k, 0L))
        }.filter(_._2 > 0)
        if (lags.isEmpty) tip
        else {
          val shares = graft.core.AdmissionShares.proportional(lags, r.maxRows())
          tip.map { case (k, t) =>
            k -> math.min(t, after.getOrElse(k, 0L) + shares.getOrElse(k, 0L))
          }
        }
      case _ => tip
    }
    // a topic can vanish from the sweep — its committed position must
    // survive in the offset (same law as the redis source)
    DenseOffset(after ++ ends)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "IggyMicroBatchStream implements SupportsAdmissionControl; " +
        "Spark calls latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DenseOffset].offs
    val e = end.asInstanceOf[DenseOffset].offs
    // plan the partitions the OFFSETS name (authoritative across restarts)
    (e.keySet ++ s.keySet).toSeq.sorted.flatMap { case (t, p) =>
      val from = s.getOrElse((t, p), 0L)
      val until = e.getOrElse((t, p), from)
      if (until <= from) None
      else Some(IggyInputPartition(host, port, stream, t, p, from, until,
        batch, group, user, password))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new IggyPartitionReader(p.asInstanceOf[IggyInputPartition])
    }

  override def deserializeOffset(json: String): Offset = DenseOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Reads one partition's `[from, until)` slice in offset-paged polls. */
class IggyPartitionReader(p: IggyInputPartition)
    extends PartitionReader[InternalRow] {

  // reconnecting session: the cursor is always an explicit AtOffset, so a
  // drop mid-batch re-polls the current page exactly-once
  private val session = new IggyClient.Session(
    () => new IggyClient(p.host, p.port, username = p.user,
      password = p.password))
  private var current: SeaMessage = _
  private var nextOffset = p.from
  private var page: Iterator[SeaMessage] = Iterator.empty

  private def fetch(): Boolean = {
    if (nextOffset >= p.until) return false
    val want = math.min(p.batch.toLong, p.until - nextOffset).toInt
    val (_, msgs) = session.retrying("poll")(_.pollMessages(
      p.stream, p.topic, p.partition,
      PollStrategy.AtOffset(nextOffset), want,
      consumer = p.group.map((1, _)).getOrElse((0, "")),
      autoCommit = p.group.isDefined))
    if (msgs.isEmpty) false
    else {
      nextOffset = msgs.last.offset + 1
      page = msgs.iterator.map(m => SeaMessage(p.topic, p.partition.toLong,
        m.offset, new java.sql.Timestamp(m.tsMs), m.payload))
      true
    }
  }

  override def next(): Boolean = {
    while (!page.hasNext && fetch()) ()
    if (page.hasNext) { current = page.next(); true } else false
  }

  override def get(): InternalRow = SsRows.toInternalRow(current)
  override def close(): Unit = session.close()
}
