package graft.kafka.spark

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{DenseOffset, DenseStream, LiveSource, MessageReaders, SeaMessage}
import graft.kafka.{KafkaClient, KafkaSource}

/** `spark.readStream.format("kafka-wire")` — live micro-batch consumer over
  * this library's own Kafka wire client ([[graft.kafka.KafkaClient]], the
  * real public protocol) — the facade's one Kafka read path; it needs no
  * connector jars. Options and semantics mirror Spark's builtin
  * `format("kafka")` connector's surface where they overlap:
  *
  *   - an offset is the NEXT offset per `topic/partition` (Kafka's native
  *     shape); latestOffset = one ListOffsets sweep, O(#partitions) per
  *     trigger;
  *   - each micro-batch fetches `[from, until)` per partition — one Spark
  *     partition per Kafka partition, executor-side connections;
  *   - `startingOffsets` earliest|latest; `startingTimestamp` (ms) resolves
  *     per-partition starts via ListOffsets(ts) — the `offsets_for_times`
  *     seek the reference does (sea-streamer-kafka/src/consumer.rs:464-494);
  *   - `maxOffsetsPerTrigger` (the builtin connector's knob name) bounds
  *     each micro-batch; admission, offsets and planning are
  *     [[graft.core.DenseStream]]'s, tips and seeks [[KafkaSource.tips]]'.
  *
  * Delivery is at-least-once under the checkpoint like every Spark source;
  * the epoch commit is the offset commit (SURVEY §2.6: checkpoint = commit).
  */
class KafkaDataSource extends LiveSource("kafka-wire", Seq("host", "topics"),
  new KafkaMicroBatchStream(_))

final case class KafkaInputPartition(
    host: String, port: Int, topic: String, partition: Int,
    from: Long, until: Long, maxFetchBytes: Int,
    sasl: Option[(String, String)] = None,
    saslMechanism: String = "PLAIN",
    tls: Option[graft.kafka.KafkaTls.Client] = None,
    readCommitted: Boolean = false)
  extends InputPartition

class KafkaMicroBatchStream(options: CaseInsensitiveStringMap)
    extends DenseStream(options, "kafka-wire", 9092, "maxOffsetsPerTrigger",
      KafkaPartitionReader) {

  private val maxFetchBytes = options.getInt("maxFetchBytes", 1 << 20)

  /** The full wire security surface — `security.protocol` (all four
    * modes: TLS wraps the socket, SASL runs inside it as orthogonal
    * layers) + mechanism + JAAS + truststore, parsed by the shared
    * [[graft.kafka.KafkaSecurity]] so the DataSource and the facade's
    * bounded paths can never drift. Fails loudly at planning — never
    * silently connects unauthenticated or unencrypted.
    */
  private val wireSecurity = graft.kafka.KafkaSecurity.parse(
    k => Option(options.get(k)))
  private val saslMechanism: String = wireSecurity.saslMechanism
  private val sasl: Option[(String, String)] = wireSecurity.sasl
  private val tls: Option[graft.kafka.KafkaTls.Client] = wireSecurity.tls

  /** `isolation.level` (the builtin connector's `kafka.isolation.level`,
    * KIP-98's consumer half): `read_committed` plans every trigger's end
    * offsets at the LAST STABLE OFFSET instead of the high watermark —
    * an OPEN transaction bounds the stream (its region is simply not yet
    * admitted; the next trigger after EndTxn picks it up) rather than
    * wedging or leaking — and the partition readers fetch with
    * isolation_level=1, dropping aborted ranges via the broker's
    * (pid, first_offset) index + the on-log markers.
    */
  private val readCommitted: Boolean =
    options.getOrDefault("isolation.level", "read_uncommitted")
      .toLowerCase(java.util.Locale.ROOT) match {
      case "read_uncommitted" => false
      case "read_committed" => true
      case other => throw new IllegalArgumentException(
        s"isolation.level must be read_uncommitted or read_committed, got $other")
    }

  /** Driver-side planning calls ride one short-lived connection. */
  private def withClient[T](f: KafkaClient => T): T = {
    val c = new KafkaClient(host, port, sasl = sasl,
      saslMechanism = saslMechanism, tls = tls)
    try f(c) finally c.close()
  }

  protected def tips(): Map[(String, Int), Long] =
    withClient(KafkaSource.tips(_, topics, keep, readCommitted).toMap)

  /** The seek skips every record the log holds at seek time, open
    * transactions included, so it falls back to the high watermark even
    * under read_committed; the stream's ends hold there until the LSO
    * passes it.
    */
  protected def seek(ms: Long): Map[(String, Int), Long] = withClient { c =>
    KafkaSource.tips(c, topics, keep, readCommitted = false).map {
      case ((t, p), hw) => (t, p) -> KafkaSource.seek(c, t, p, ms, hw)
    }.toMap
  }

  /** Consumer group (the builtin connector's `kafka.group.id` role): start
    * from the group's COMMITTED offsets when present (absent partitions
    * keep the anchor), and [[commit]] each epoch's end offsets back via
    * OffsetCommit — so external lag monitors see this stream's progress,
    * and a fresh checkpoint resumes where the group left off. The
    * CHECKPOINT stays the source of truth within a query (the reference's
    * `commit` maps to OffsetCommit the same way, consumer.rs:526-548).
    */
  protected def resume(ids: Map[(String, Int), Long]): Map[(String, Int), Long] =
    group.fold(ids) { g =>
      withClient { c =>
        c.findCoordinator(g)
        val committed = c.fetchOffsets(g,
          ids.keys.groupBy(_._1).map { case (t, ks) =>
            t -> ks.map(_._2).toSeq.sorted })
        ids ++ committed.view.filterKeys(ids.contains).toMap
      }
    }

  protected def slice(topic: String, partition: Int, from: Long,
      until: Long): InputPartition =
    KafkaInputPartition(host, port, topic, partition, from, until,
      maxFetchBytes, sasl, saslMechanism, tls, readCommitted)

  /** Epoch commit → OffsetCommit of the batch's end offsets (at-least-once
    * group progress; the checkpoint remains the within-query truth).
    */
  override def commit(end: Offset): Unit =
    group.foreach { g =>
      val offs = end.asInstanceOf[DenseOffset].offs
      if (offs.nonEmpty) withClient(_.commitOffsets(g, offs))
    }
}

/** Reads one partition's `[from, until)` slice in byte-capped fetches. */
object KafkaPartitionReader extends MessageReaders[KafkaInputPartition] {
  def open(p: KafkaInputPartition): (Iterator[SeaMessage], AutoCloseable) = {
    val session = new KafkaClient.Session(
      () => new KafkaClient(p.host, p.port, sasl = p.sasl,
        saslMechanism = p.saslMechanism, tls = p.tls))
    (KafkaSource.pagedFetch(session, p.topic, p.partition, p.from, p.until,
      p.maxFetchBytes, p.readCommitted), session)
  }
}
