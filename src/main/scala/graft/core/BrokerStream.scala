package graft.core

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The admission-controlled micro-batch stream of a broker source
  * (kafka-wire, iggy-stream, redis-stream), written once over its
  * positions `Map[K, V]`:
  *
  *   - `latestOffset(start, limit)` receives Spark's committed start, so a
  *     restart can never plan behind the checkpoint; the source resolves
  *     only the next batch's [[ends]], uncapped or within `capOption`'s
  *     row budget (the default read limit);
  *   - the offset is `start ++ ends`: a coordinate can drop out of the
  *     broker's sweep (deleted, renamed, unassigned) and its committed
  *     position must survive in the offset, or a re-created coordinate
  *     would restart from the beginning and re-emit everything;
  *   - the epoch commit is the checkpointed offset, so `commit` and `stop`
  *     do nothing unless the source overrides them.
  *
  * Also parses the options all three share: `host`, `port`,
  * `startingOffsets` earliest|latest, `startingTimestamp` (ms) and `group`.
  * Delivery is at-least-once under the checkpoint like every Spark source.
  */
abstract class BrokerStream[K, V](options: CaseInsensitiveStringMap,
    defaultPort: Int, capOption: String, readers: PartitionReaderFactory)
    extends MicroBatchStream with SupportsAdmissionControl {

  protected val host: String =
    Option(options.get("host")).getOrElse("127.0.0.1")
  protected val port: Int = options.getInt("port", defaultPort)
  protected val latest: Boolean =
    options.getOrDefault("startingOffsets", "earliest")
      .equalsIgnoreCase("latest")
  protected val startingTimestamp: Option[Long] = {
    val v = options.get("startingTimestamp")
    if (v == null || v.isEmpty) None else Some(v.toLong)
  }
  if (latest && startingTimestamp.isDefined)
    throw new IllegalArgumentException(
      "startingOffsets=latest conflicts with startingTimestamp")
  private val cap: Option[Long] = SourceOptions.positive(options, capOption)
  protected val group: Option[String] = {
    val v = options.get("group")
    if (v == null || v.isEmpty) None else Some(v)
  }

  protected def positions(offset: Offset): Map[K, V]
  protected def offset(positions: Map[K, V]): Offset

  /** The next batch's end position per listed coordinate, after `after`;
    * with `maxRows`, admitting at most that many rows in total. */
  protected def ends(after: Map[K, V], maxRows: Option[Long]): Map[K, V]

  override def getDefaultReadLimit: ReadLimit =
    cap.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val after = positions(start)
    val maxRows = limit match {
      case r: ReadMaxRows => Some(r.maxRows())
      case _ => None
    }
    offset(after ++ ends(after, maxRows))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} implements SupportsAdmissionControl; " +
        "Spark calls latestOffset(start, limit)")

  override def createReaderFactory(): PartitionReaderFactory = readers
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The dense-offset half of [[BrokerStream]] (kafka-wire, iggy-stream): a
  * position is the NEXT offset per `topic/partition` ([[DenseOffset]]),
  * one Spark partition per broker partition with backlog.
  *
  *   - `topics` (required) and `assign` (`"topic:0,topic:2"`, the
  *     reference's `Consumer::assign`) name the partitions; unassigned
  *     ones are never tip-listed, read or checkpointed;
  *   - capped ends are pure arithmetic (lag = tip - start): the budget
  *     splits across partitions with backlog by [[AdmissionShares]], no
  *     data reads on the driver, one [[tips]] probe per trigger;
  *   - an end never sits below its start: offsets only grow within a
  *     partition, and a tip that reads lower (the LAST STABLE OFFSET under
  *     a start the seek or a group placed at the high watermark) holds the
  *     position instead of rewinding onto records that start excluded.
  */
abstract class DenseStream(options: CaseInsensitiveStringMap, format: String,
    defaultPort: Int, capOption: String, readers: PartitionReaderFactory)
    extends BrokerStream[(String, Int), Long](options, defaultPort, capOption,
      readers) {

  protected val topics: Seq[String] = Option(options.get("topics"))
    .getOrElse(throw new IllegalArgumentException(
      s"$format requires a `topics` option"))
    .split(',').map(_.trim).filter(_.nonEmpty).toSeq
  private val assign = SourceOptions.assign(options)
  protected def keep(t: String, p: Int): Boolean =
    assign.forall(_.contains((t, p)))

  /** The next offset per kept partition: one probe of the broker. */
  protected def tips(): Map[(String, Int), Long]
  /** The first offset with timestamp > `ms` per kept partition (the facade
    * seek law is strictly `>`), at the tip where no such message is yet. */
  protected def seek(ms: Long): Map[(String, Int), Long]
  /** Resolves a fresh query's start from its [[anchors]] (group resume). */
  protected def resume(anchors: Map[(String, Int), Long]): Map[(String, Int), Long]
  /** The input partition reading `[from, until)` of one partition. */
  protected def slice(topic: String, partition: Int, from: Long,
      until: Long): InputPartition

  /** `startingTimestamp`'s seek, else the tips (`latest`) or zero. */
  private def anchors(): Map[(String, Int), Long] = startingTimestamp match {
    case Some(ms) => seek(ms)
    case None if latest => tips()
    case None => tips().map { case (k, _) => k -> 0L }
  }

  override def initialOffset(): Offset = DenseOffset(resume(anchors()))

  protected def positions(offset: Offset): Map[(String, Int), Long] =
    offset.asInstanceOf[DenseOffset].offs
  protected def offset(positions: Map[(String, Int), Long]): Offset =
    DenseOffset(positions)
  override def deserializeOffset(json: String): Offset = DenseOffset.fromJson(json)

  protected def ends(after: Map[(String, Int), Long],
      maxRows: Option[Long]): Map[(String, Int), Long] = {
    val tip = tips()
    val shares = maxRows.map(AdmissionShares.proportional(tip.map {
      case (k, t) => k -> (t - after.getOrElse(k, 0L))
    }.filter(_._2 > 0), _))
    tip.map { case (k, t) =>
      val from = after.getOrElse(k, 0L)
      k -> math.max(from,
        shares.fold(t)(s => math.min(t, from + s.getOrElse(k, 0L))))
    }
  }

  /** Plans the partitions the OFFSETS name (authoritative across restarts). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = positions(start)
    val e = positions(end)
    (e.keySet ++ s.keySet).toSeq.sorted.flatMap { case (t, p) =>
      val from = s.getOrElse((t, p), 0L)
      val until = e.getOrElse((t, p), from)
      if (until <= from) None else Some(slice(t, p, from, until))
    }.toArray
  }
}
