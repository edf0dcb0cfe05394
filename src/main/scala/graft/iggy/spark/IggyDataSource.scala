package graft.iggy.spark

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{DenseStream, LiveSource, MessageReaders, SeaMessage}
import graft.iggy.{IggyClient, IggySource}
import graft.iggy.IggyWire.PollStrategy

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
  *   - `maxMessagesPerTrigger` bounds each micro-batch; admission,
  *     offsets and planning are [[graft.core.DenseStream]]'s, tips and
  *     seeks [[IggySource.tips]]';
  *   - `group` polls as that consumer group with auto-commit, so the
  *     server's stored group offset tracks delivery
  *     (IggyAutoCommit::AfterPolling, options.rs:88-97).
  *
  * Delivery is at-least-once under the checkpoint like every Spark source;
  * the epoch commit is the offset commit (SURVEY §2.6 mapping).
  */
class IggyDataSource extends LiveSource("iggy-stream", Seq("host", "topics"),
  new IggyMicroBatchStream(_))

final case class IggyInputPartition(
    host: String, port: Int, stream: String, topic: String, partition: Int,
    from: Long, until: Long, batch: Int, group: Option[String],
    user: String = "iggy", password: String = "iggy")
  extends InputPartition

class IggyMicroBatchStream(options: CaseInsensitiveStringMap)
    extends DenseStream(options, "iggy-stream", 8090, "maxMessagesPerTrigger",
      IggyPartitionReader) {

  private val stream = options.getOrDefault("stream", IggySource.DefaultStream)
  // LoginUser credentials on the options surface (iggy's bootstrap
  // default) — every connection this source opens logs in with them
  private val user = options.getOrDefault("username", "iggy")
  private val password = options.getOrDefault("password", "iggy")
  private val batch = options.getInt("batchSize", 1000)

  /** Each driver-side call opens, logs in and closes its own connection. */
  private def withClient[T](f: IggyClient => T): T = {
    val c = new IggyClient(host, port, username = user, password = password)
    try f(c) finally c.close()
  }

  protected def tips(): Map[(String, Int), Long] =
    withClient(IggySource.tips(_, stream, topics, keep).toMap)

  protected def seek(ms: Long): Map[(String, Int), Long] = withClient { c =>
    IggySource.tips(c, stream, topics, keep).map {
      case ((t, p), tip) => (t, p) -> IggySource.seek(c, stream, t, p, ms, tip)
    }.toMap
  }

  /** Group RESUME (k4/r6's law on this backend): a group-anchored stream
    * continues AFTER the server's stored offset wherever one exists — the
    * stored offset is the last DELIVERED message (the broker's Next
    * semantics), so the start id is stored+1; partitions with no stored
    * offset keep the anchor. An explicit timestamp seek overrides the
    * stored cursor. Either way the group is created first.
    */
  protected def resume(ids: Map[(String, Int), Long]): Map[(String, Int), Long] =
    group.fold(ids) { g =>
      withClient { c =>
        topics.foreach(t => c.createGroupIfAbsent(stream, t, g))
        if (startingTimestamp.isDefined) ids
        else ids.map { case ((t, p), anchor) =>
          (t, p) -> c.getOffset(stream, t, p, (1, g))
            .map(_ + 1L).getOrElse(anchor)
        }
      }
    }

  protected def slice(topic: String, partition: Int, from: Long,
      until: Long): InputPartition =
    IggyInputPartition(host, port, stream, topic, partition, from, until,
      batch, group, user, password)
}

/** Reads one partition's `[from, until)` slice in offset-paged polls. */
object IggyPartitionReader extends MessageReaders[IggyInputPartition] {
  def open(p: IggyInputPartition): (Iterator[SeaMessage], AutoCloseable) = {
    // reconnecting session: the cursor is always an explicit AtOffset, so a
    // drop mid-batch re-polls the current page exactly-once
    val session = new IggyClient.Session(
      () => new IggyClient(p.host, p.port, username = p.user,
        password = p.password))
    (IggySource.pagedPoll(session, p.stream, p.topic, p.partition,
      PollStrategy.AtOffset(p.from), p.batch, p.group, p.until), session)
  }
}
