package graft.kafka.spark

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{AdmissionShares, DenseOffset, Envelope, SeaMessage,
  SourceOptions}
import graft.kafka.{KafkaClient, KafkaWire}
import graft.ss.spark.SsRows

/** `spark.readStream.format("kafka-wire")` — live micro-batch consumer over
  * this library's own Kafka wire client ([[graft.kafka.KafkaClient]], the
  * real public protocol), for clusters where the builtin `format("kafka")`
  * connector jars aren't present. Options and semantics mirror the builtin
  * connector's surface where they overlap:
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
  *     each micro-batch via [[SupportsAdmissionControl]]: latestOffset
  *     receives Spark's committed start, so a restart can never plan behind
  *     the checkpoint, and the budget splits proportionally across
  *     partitions with backlog ([[AdmissionShares]]).
  *
  * Delivery is at-least-once under the checkpoint like every Spark source;
  * the epoch commit is the offset commit (SURVEY §2.6: checkpoint = commit).
  */
class KafkaDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka-wire"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Envelope.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KafkaTable(new CaseInsensitiveStringMap(properties))
  override def supportsExternalMetadata(): Boolean = true
}

class KafkaTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"kafka-wire:${options.get("host")}:${options.get("topics")}"
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
          new KafkaMicroBatchStream(all)
      }
    }
  }
}

final case class KafkaInputPartition(
    host: String, port: Int, topic: String, partition: Int,
    from: Long, until: Long, maxFetchBytes: Int,
    sasl: Option[(String, String)] = None,
    saslMechanism: String = "PLAIN",
    tls: Option[graft.kafka.KafkaTls.Client] = None,
    readCommitted: Boolean = false)
  extends InputPartition

class KafkaMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val host = Option(options.get("host")).getOrElse("127.0.0.1")
  private val port = options.getInt("port", 9092)
  private val topics = Option(options.get("topics"))
    .getOrElse(throw new IllegalArgumentException(
      "kafka-wire requires a `topics` option"))
    .split(',').map(_.trim).filter(_.nonEmpty).toSeq
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
  private val latest = options.getOrDefault("startingOffsets", "earliest")
    .equalsIgnoreCase("latest")
  private val startingTimestamp: Option[Long] = {
    val v = options.get("startingTimestamp")
    if (v == null || v.isEmpty) None else Some(v.toLong)
  }
  if (latest && startingTimestamp.isDefined)
    throw new IllegalArgumentException(
      "startingOffsets=latest conflicts with startingTimestamp")
  private val maxOffsetsPerTrigger: Option[Long] =
    SourceOptions.positive(options, "maxOffsetsPerTrigger")
  /** Consumer group (the builtin connector's `kafka.group.id` role): start
    * from the group's COMMITTED offsets when present (falling back to
    * startingOffsets/startingTimestamp per partition), and commit each
    * epoch's end offsets back via OffsetCommit — so external lag monitors
    * see this stream's progress, and a fresh checkpoint resumes where the
    * group left off. The CHECKPOINT stays the source of truth within a
    * query (the reference's `commit` maps to OffsetCommit the same way,
    * consumer.rs:526-548).
    */
  private val group: Option[String] = {
    val v = options.get("group")
    if (v == null || v.isEmpty) None else Some(v)
  }

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

  /** Manual partition assign (`Consumer::assign`): `"topic:0,topic:2"`
    * pins the subscription to exactly those partitions. The pin prunes the
    * SCAN, not the result — unassigned partitions are never listed,
    * fetched, or checkpointed (the builtin connector's assign JSON pushes
    * to the broker the same way; at scale this is what makes a
    * two-consumer split read each byte once).
    */
  private val assign: Option[Set[(String, Int)]] =
    SourceOptions.assign(options)
  private def keep(t: String, p: Int): Boolean =
    assign.forall(_.contains((t, p)))

  /** Driver-side planning calls ride one short-lived connection. */
  private def withClient[T](f: KafkaClient => T): T = {
    val c = new KafkaClient(host, port, sasl = sasl,
      saslMechanism = saslMechanism, tls = tls)
    try f(c) finally c.close()
  }

  /** Tips = next offset per partition: one Metadata + a ListOffsets sweep.
    * Under read_committed the tip is the LSO (one empty fetch at the hw
    * resolves it — O(#partitions) per trigger, no data bytes served).
    */
  private def tips(): Map[(String, Int), Long] =
    withClient { c =>
      val meta = c.metadata(topics)
      topics.flatMap { t =>
        meta.getOrElse(t, Seq.empty).filter(keep(t, _)).map { p =>
          val hw = c.listOffset(t, p, KafkaWire.Ts.Latest).getOrElse(0L)
          val end =
            if (!readCommitted) hw
            else c.fetchIso(t, p, hw, maxBytes = 1,
              readCommitted = true)._1
          (t, p) -> end
        }
      }.toMap
    }

  override def initialOffset(): Offset = {
    val ids: Map[(String, Int), Long] = startingTimestamp match {
      case Some(ms) =>
        // seek law is strictly `>`: first offset with ts >= ms+1, at the
        // tip when no such message yet
        withClient { c =>
          val meta = c.metadata(topics)
          topics.flatMap { t =>
            meta.getOrElse(t, Seq.empty).filter(keep(t, _)).map { p =>
              val tip = c.listOffset(t, p, KafkaWire.Ts.Latest).getOrElse(0L)
              (t, p) -> c.listOffset(t, p, ms + 1).getOrElse(tip)
            }
          }.toMap
        }
      case None if latest => tips()
      case None => tips().map { case (k, _) => k -> 0L }
    }
    // committed group offsets override the reset anchors per partition
    // (absent partitions keep the anchor) — the resume-where-the-group-left
    // law; the coordinator lookup is the real client flow
    val resumed = group.fold(ids) { g =>
      withClient { c =>
        c.findCoordinator(g)
        val committed = c.fetchOffsets(g,
          ids.keys.groupBy(_._1).map { case (t, ks) =>
            t -> ks.map(_._2).toSeq.sorted })
        ids ++ committed.view.filterKeys(ids.contains).toMap
      }
    }
    DenseOffset(resumed)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows)
      .getOrElse(ReadLimit.allAvailable())

  /** Capped ends are pure arithmetic (lag = tip - committed): no data reads
    * on the driver, O(#partitions) metadata per trigger.
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
          val shares = AdmissionShares.proportional(lags, r.maxRows())
          tip.map { case (k, t) =>
            k -> math.min(t, after.getOrElse(k, 0L) + shares.getOrElse(k, 0L))
          }
        }
      case _ => tip
    }
    // a topic can vanish from the sweep — its committed position must
    // survive in the offset (same law as the redis/iggy sources)
    DenseOffset(after ++ ends)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "KafkaMicroBatchStream implements SupportsAdmissionControl; " +
        "Spark calls latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DenseOffset].offs
    val e = end.asInstanceOf[DenseOffset].offs
    (e.keySet ++ s.keySet).toSeq.sorted.flatMap { case (t, p) =>
      val from = s.getOrElse((t, p), 0L)
      val until = e.getOrElse((t, p), from)
      if (until <= from) None
      else Some(KafkaInputPartition(host, port, t, p, from, until,
        maxFetchBytes, sasl, saslMechanism, tls, readCommitted))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new KafkaPartitionReader(p.asInstanceOf[KafkaInputPartition])
    }

  override def deserializeOffset(json: String): Offset =
    DenseOffset.fromJson(json)

  /** Epoch commit → OffsetCommit of the batch's end offsets (at-least-once
    * group progress; the checkpoint remains the within-query truth).
    */
  override def commit(end: Offset): Unit =
    group.foreach { g =>
      val offs = end.asInstanceOf[DenseOffset].offs
      if (offs.nonEmpty) withClient(_.commitOffsets(g, offs))
    }
  override def stop(): Unit = ()
}

/** Reads one partition's `[from, until)` slice in byte-capped fetches. */
class KafkaPartitionReader(p: KafkaInputPartition)
    extends PartitionReader[InternalRow] {

  private val session = new KafkaClient.Session(
    () => new KafkaClient(p.host, p.port, sasl = p.sasl,
      saslMechanism = p.saslMechanism, tls = p.tls))
  private val scan = graft.kafka.KafkaSource.pagedFetch(
    session, p.topic, p.partition, p.from, p.until, p.maxFetchBytes,
    p.readCommitted)
  private var current: SeaMessage = _

  override def next(): Boolean =
    if (scan.hasNext) { current = scan.next(); true } else false

  override def get(): InternalRow = SsRows.toInternalRow(current)
  override def close(): Unit = session.close()
}
