package graft.ss.spark

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Envelope, SeaMessage}
import graft.ss.{SsFormat, SsOffsetWalk, SsReader, SsSurveyor, SsWriter}

/** `spark.read.format("ss")` / `readStream` / `writeStream` for the `.ss`
  * seekable container (SURVEY.md §2.2; format spec
  * sea-streamer-file/src/format.rs).
  *
  * Scale design:
  *   - batch scans split on beacon boundaries (1 MiB default interval) —
  *     a 100 TB directory of `.ss` parts yields fine-grained, independently
  *     decodable splits, like parquet row groups;
  *   - a "path" may be one file or a directory of part files (the sink writes
  *     one part per task — there is no cross-executor mux into a single file,
  *     by design);
  *   - the micro-batch stream tracks frame-exact byte offsets per file and
  *     only ever walks NEW bytes (incremental tail discovery = `tail -f`
  *     without the reference's OS watcher, SURVEY.md §7.4.7).
  *
  * Options: `subscribe` (comma-separated stream keys; `*` = all),
  * `verifyChecksum` (default true), `beaconInterval` (write side),
  * `startingOffsets` earliest|latest, `maxBytesPerTrigger` (streaming
  * admission control — per-micro-batch byte budget), `maxMessagesPerTrigger`
  * (row-counted admission, Kafka `maxOffsetsPerTrigger` semantics;
  * mutually exclusive with the byte budget).
  */
class SsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ss"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Envelope.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("ss source requires a path"))
    new SsTable(path, new CaseInsensitiveStringMap(properties))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object SsDataSource {
  /** All `.ss` data files under a path (a single file or a directory). */
  def listFiles(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory)
      // listFiles returns null if the directory vanishes between the check
      // and the listing (concurrent trim/rotation) — treat as empty
      Option(f.listFiles((_, name) => name.endsWith(".ss")))
        .fold(Seq.empty[File])(_.toSeq.sortBy(_.getName))
    else if (f.exists()) Seq(f)
    else Seq.empty
  }

  def subscribedKeys(options: CaseInsensitiveStringMap): Option[Set[String]] = {
    val sub = options.get("subscribe")
    if (sub == null || sub.isEmpty || sub == Envelope.SeaStreamerWildcard) None
    else Some(sub.split(',').map(_.trim).filter(_.nonEmpty).toSet)
  }
}

class SsTable(path: String, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"ss:$path"
  override def schema(): StructType = Envelope.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(opts.asCaseSensitiveMap())
    new SsScanBuilder(path, new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SsWriteBuilder(path, info)
}

// ---------------------------------------------------------------- read path

final case class SsInputPartition(
    path: String,
    /** First frame-start byte to include; <= HeaderSize means "from header". */
    startOffset: Long,
    /** Frames starting at/after this byte are excluded; Long.MaxValue = EOF. */
    endOffset: Long,
    verifyChecksum: Boolean,
    keys: Option[Set[String]]) extends InputPartition

class SsScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  // Split-pruning thresholds from seek/rewind-shaped predicates. Beacon
  // markers carry PREFIX-max seq/ts per stream, so a split whose end beacon
  // shows max <= threshold cannot contain a match (SURVEY §2.4 seek laws ↔
  // parquet row-group pruning analogue).
  private var minTsExclusiveMs: Option[Long] = None
  private var minSeqInclusive: Option[Long] = None
  private var accepted: Array[Filter] = Array.empty

  private def tsMillis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case GreaterThan("timestamp", v) =>
        tsMillis(v).foreach { ms =>
          minTsExclusiveMs = Some(minTsExclusiveMs.fold(ms)(math.max(_, ms)))
          accepted :+= GreaterThan("timestamp", v)
        }
      case GreaterThanOrEqual("timestamp", v) =>
        tsMillis(v).foreach { ms =>
          // prune when prefix-max < ms  ⇔  prefix-max <= ms - 1
          minTsExclusiveMs = Some(minTsExclusiveMs.fold(ms - 1)(math.max(_, ms - 1)))
          accepted :+= GreaterThanOrEqual("timestamp", v)
        }
      case GreaterThanOrEqual("sequence", v: Long) =>
        minSeqInclusive = Some(minSeqInclusive.fold(v)(math.max(_, v)))
        accepted :+= GreaterThanOrEqual("sequence", v)
      case GreaterThan("sequence", v: Long) =>
        minSeqInclusive = Some(minSeqInclusive.fold(v + 1)(math.max(_, v + 1)))
        accepted :+= GreaterThan("sequence", v)
      case _ => ()
    }
    filters // all filters re-evaluated by Spark; pruning is split-level only
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new SsScan(path, options, minTsExclusiveMs, minSeqInclusive)
}

class SsScan(
    path: String,
    options: CaseInsensitiveStringMap,
    minTsExclusiveMs: Option[Long] = None,
    minSeqInclusive: Option[Long] = None) extends Scan {
  override def readSchema(): StructType = Envelope.schema
  override def description(): String = {
    val pruning =
      minTsExclusiveMs.map(t => s"timestamp>$t").toSeq ++
        minSeqInclusive.map(n => s"sequence>=$n").toSeq
    s"SsScan($path" +
      (if (pruning.nonEmpty) pruning.mkString(", BeaconPruning: [", ",", "]")
       else "") + ")"
  }

  override def toBatch: Batch =
    new SsBatch(path, options, minTsExclusiveMs, minSeqInclusive)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SsMicroBatchStream(path, options)
}

class SsBatch(
    path: String,
    options: CaseInsensitiveStringMap,
    minTsExclusiveMs: Option[Long],
    minSeqInclusive: Option[Long]) extends Batch {
  private val verify = options.getBoolean("verifyChecksum", true)
  private val keys = SsDataSource.subscribedKeys(options)

  /** True when the whole split ending at this beacon can be skipped: the
    * beacon must cover ALL streams (marker count below the budget — a full
    * round-robin fit) and every marker's prefix-max must sit at/below the
    * pruning threshold.
    */
  private def prunable(f: File, endBoundary: Long, interval: Long): Boolean = {
    if (minTsExclusiveMs.isEmpty && minSeqInclusive.isEmpty) return false
    SsReader.readBeaconAt(f.getPath, endBoundary) match {
      case Some(b) if b.items.nonEmpty &&
        b.items.length < SsFormat.numMarkers(interval.toInt) =>
        val tsOk = minTsExclusiveMs.forall(t => b.items.forall(_.maxTimestampMillis <= t))
        val seqOk = minSeqInclusive.forall(n => b.items.forall(_.maxSeqNo < n))
        (minTsExclusiveMs.isDefined || minSeqInclusive.isDefined) && tsOk && seqOk
      case _ => false
    }
  }

  /** Beacon-boundary splits sized to spark.sql.files.maxPartitionBytes. */
  override def planInputPartitions(): Array[InputPartition] = {
    val targetBytes =
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    SsDataSource.listFiles(path).flatMap { f =>
      val size = f.length()
      if (size > 0 && size < SsFormat.HeaderSize) {
        // not a valid container and too short to be an in-flight header write
        // worth tolerating in a *batch* read — fail loudly, don't return empty
        val head = java.nio.file.Files.readAllBytes(f.toPath)
        if (head.length < 3 || (head(0) & 0xFF) != SsFormat.ByteMark0 ||
          (head(1) & 0xFF) != SsFormat.ByteMark1)
          throw SsFormat.FormatException(s"Not a .ss file: ${f.getPath}")
      }
      if (size <= SsFormat.HeaderSize) Seq.empty
      else {
        val interval = SsReader.readHeader(f.getPath).beaconInterval.toLong
        val strideBeacons = math.max(1L, targetBytes / interval)
        val nBeacons = (size - 1) / interval // beacon k sits at k*interval
        val bounds = (0L to nBeacons by strideBeacons) :+ (nBeacons + 1)
        bounds.iterator.sliding(2).withPartial(false).map { case Seq(a, b) =>
          SsInputPartition(
            f.getPath,
            if (a == 0) 0L else a * interval,
            if (b > nBeacons) Long.MaxValue else b * interval,
            verify, keys)
        }.filterNot { p =>
          p.endOffset != Long.MaxValue && prunable(f, p.endOffset, interval)
        }.toSeq
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SsPartitionReaderFactory
}

class SsPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SsPartitionReader(partition.asInstanceOf[SsInputPartition])
}

class SsPartitionReader(p: SsInputPartition)
    extends PartitionReader[InternalRow] {

  private val reader: SsReader =
    if (p.startOffset <= SsFormat.HeaderSize)
      SsReader.open(p.path, p.verifyChecksum)
    else SsReader.openAtOffset(p.path, p.startOffset, p.verifyChecksum)

  private var row: InternalRow = _

  @annotation.tailrec
  override final def next(): Boolean = reader.next() match {
    case Some(rec) if rec.startOffset >= p.endOffset => false
    case Some(rec) =>
      if (p.keys.forall(_.contains(rec.message.stream_key))) {
        row = Envelope.toInternalRow(rec.message); true
      } else next()
    case None => false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

// ----------------------------------------------------------- streaming read

/** Frame-exact byte offsets per file, JSON `{"files":{"<path>":<offset>}}`. */
final case class SsOffset(files: Map[String, Long]) extends Offset {
  override def json(): String =
    files.toSeq.sorted
      .map { case (p, o) => s"${SsOffset.quote(p)}:$o" }
      .mkString("{\"files\":{", ",", "}}")
}

object SsOffset {
  private[spark] def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Strict char-level parser for the exact shape json() emits — handles
    * commas/quotes/control-chars inside paths and undoes every escape
    * `quote` produces.
    */
  def fromJson(json: String): SsOffset = {
    val s = json.trim
    var i = 0
    def at(idx: Int): Char = {
      if (idx >= s.length)
        throw new IllegalArgumentException(s"truncated SsOffset json: $s")
      s.charAt(idx)
    }
    def expect(lit: String): Unit = {
      if (!s.startsWith(lit, i))
        throw new IllegalArgumentException(s"bad SsOffset json at $i: $s")
      i += lit.length
    }
    expect("{\"files\":{")
    val entries = Map.newBuilder[String, Long]
    if (at(i) != '}') {
      var more = true
      while (more) {
        expect("\"")
        val key = new StringBuilder
        while (at(i) != '"') {
          if (at(i) == '\\') {
            at(i + 1) match {
              case '"' => key += '"'; i += 2
              case '\\' => key += '\\'; i += 2
              case 'u' =>
                if (i + 6 > s.length)
                  throw new IllegalArgumentException(s"truncated SsOffset json: $s")
                key += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
                i += 6
              case other =>
                throw new IllegalArgumentException(s"bad escape \\$other")
            }
          } else { key += at(i); i += 1 }
        }
        i += 1 // closing quote
        expect(":")
        val start = i
        while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '-')) i += 1
        entries += key.result() -> s.substring(start, i).toLong
        if (at(i) == ',') i += 1 else more = false
      }
    }
    expect("}}")
    SsOffset(entries.result())
  }
}

class SsMicroBatchStream(path: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val verify = options.getBoolean("verifyChecksum", true)
  private val keys = SsDataSource.subscribedKeys(options)

  /** Per-trigger byte budget across all files (the reference's prefetch /
    * batch-size knob, sea-streamer-file options.rs:270-285; Kafka's
    * `maxOffsetsPerTrigger` analogue — ours is byte-based because ss offsets
    * are byte offsets). The cap is approximate: a micro-batch always ends on
    * a frame boundary, so it may overshoot by at most one frame. Unset =
    * unbounded (drain everything available, the previous behavior).
    */
  private val maxBytesPerTrigger: Option[Long] =
    graft.core.SourceOptions.positive(options, "maxBytesPerTrigger")

  /** Row-counted admission — Kafka's `maxOffsetsPerTrigger` semantics (the
    * cap the t14–t19 streaming operators and the redis/iggy/kafka sources
    * share). ss offsets are bytes, so honoring a row cap costs an O(cap)
    * frame-header skim per trigger (SsOffsetWalk.safeEndRows) instead of
    * the byte budget's O(beaconInterval) — at ingest scale prefer
    * `maxBytesPerTrigger`; mutually exclusive with it.
    */
  private val maxMessagesPerTrigger: Option[Long] = {
    val n = graft.core.SourceOptions.positive(options, "maxMessagesPerTrigger")
    if (n.isDefined && maxBytesPerTrigger.isDefined)
      throw new IllegalArgumentException(
        "maxMessagesPerTrigger and maxBytesPerTrigger are mutually exclusive")
    n
  }

  /** `startingOffsets`: `earliest` (default, replay whole file) or `latest`
    * (Live mode — only frames appended after the query starts; the
    * reference's AutoStreamReset / StreamMode law, SURVEY §2.4).
    *
    * `startingTimestamp` (ms, seek law `timestamp > T`) and/or
    * `startingSequence` (rewind law `sequence >= S`) instead start each file
    * at the surveyor's beacon-binary-searched point — a mid-file replay
    * never scans the frames before the threshold (surveyor.rs:16-122).
    * Files created after the stream starts replay from their beginning.
    */
  override def initialOffset(): Offset = {
    def longOpt(k: String): Option[Long] = {
      val v = options.get(k)
      if (v == null || v.isEmpty) None else Some(v.toLong)
    }
    val startTs = longOpt("startingTimestamp")
    val startSeq = longOpt("startingSequence")
    val latest = options.getOrDefault("startingOffsets", "earliest")
      .equalsIgnoreCase("latest")
    if (latest && (startTs.isDefined || startSeq.isDefined))
      throw new IllegalArgumentException(
        "startingOffsets=latest conflicts with startingTimestamp/startingSequence")
    if (startTs.isDefined || startSeq.isDefined)
      SsOffset(SsDataSource.listFiles(path)
        .map(f => f.getPath -> SsSurveyor.seekOffset(f.getPath, startTs, startSeq))
        .toMap)
    else if (latest)
      SsOffset(SsDataSource.listFiles(path)
        .map(f => f.getPath -> safeEnd(f, 0L)).toMap)
    else SsOffset(Map.empty)
  }

  /** The byte budget is surfaced to Spark as a [[ReadLimit]] so admission
    * control composes with the engine (Trigger.AvailableNow drains in
    * budget-sized batches; the Kafka `maxOffsetsPerTrigger` pattern).
    */
  override def getDefaultReadLimit: ReadLimit =
    maxBytesPerTrigger.map(ReadLimit.maxBytes)
      .orElse(maxMessagesPerTrigger.map(ReadLimit.maxRows))
      .getOrElse(ReadLimit.allAvailable())

  /** Frame-exact per-file ends with BOUNDED driver work: metadata
    * (`File.length`) plus a beacon-entry walk of only the tail interval
    * (SsOffsetWalk) — O(#files + #beacon-probes + beaconInterval) per
    * trigger, never O(new bytes). `start` is Spark's committed/initial
    * offset for this batch, so a query restart can never plan an end offset
    * behind the checkpoint (the failure a driver-local "last planned" cache
    * had under maxBytesPerTrigger).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val prev = start.asInstanceOf[SsOffset]
    // Budget (bytes or rows) is shared across files in listing order, so a
    // multi-part store drains front-to-back instead of N files × budget
    // each.
    limit match {
      case r: ReadMaxRows =>
        var rowBudget = r.maxRows()
        val updated = SsDataSource.listFiles(path).map { f =>
          val startOff = prev.files.getOrElse(f.getPath, 0L)
          val (endRes, taken) =
            if (rowBudget <= 0L) (SsOffsetWalk.End(startOff, 0L, 0), 0L)
            else SsOffsetWalk.safeEndRows(f.getPath, startOff, rowBudget)
          rowBudget -= taken
          f.getPath -> math.max(startOff, endRes.offset)
        }.toMap
        SsOffset(updated)
      case _ =>
        var budget = limit match {
          case b: ReadMaxBytes => b.maxBytes()
          case _ => Long.MaxValue
        }
        val updated = SsDataSource.listFiles(path).map { f =>
          val startOff = prev.files.getOrElse(f.getPath, 0L)
          val end = if (budget <= 0L) startOff else safeEnd(f, startOff, budget)
          budget -= math.max(0L,
            end - math.max(startOff, SsFormat.HeaderSize.toLong))
          f.getPath -> end
        }.toMap
        SsOffset(updated)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SsMicroBatchStream implements SupportsAdmissionControl; " +
        "Spark calls latestOffset(start, limit)")

  private def safeEnd(f: File, from: Long, budget: Long = Long.MaxValue): Long =
    graft.ss.SsOffsetWalk.safeEnd(f.getPath, from, budget).offset

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SsOffset].files
    val e = end.asInstanceOf[SsOffset].files
    e.toSeq.sorted.flatMap { case (p, endOff) =>
      val startOff = s.getOrElse(p, 0L)
      if (endOff > startOff)
        Some(SsInputPartition(p, startOff, endOff, verify, keys))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SsPartitionReaderFactory

  override def deserializeOffset(json: String): Offset = SsOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

// ---------------------------------------------------------------- write path

class SsWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** `repartitionByKey=true`: request a write distribution CLUSTERED on
    * (stream_key, shard_id), sequence-ordered within partitions — Catalyst
    * inserts the shuffle/sort, and each destination key then lives in
    * exactly ONE part file. This is the 100 TB ship layout: with the
    * default task-local layout every part file carries every key, so a
    * downstream exactly-once ship ([[graft.eos.FileRelaySource]] into
    * redis) pays sibling WATCH conflicts on shared destination keys
    * (BENCH_LOCAL.md: disjoint
    * 3.2 s vs interleaved 4.9 s per 1M frames at the redis destination).
    * Off by default — a plain dump shouldn't pay a shuffle it may not
    * need; turn it on when the directory feeds a relay/ship.
    */
  override def build(): Write =
    if (info.options().getBoolean("repartitionByKey", false))
      new SsWrite with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.{distributions => dist}
        import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection, SortOrder}
        override def requiredDistribution(): dist.Distribution =
          dist.Distributions.clustered(Array(
            E.column("stream_key"), E.column("shard_id")))
        override def requiredNumPartitions(): Int = 0 // planner's choice
        override def requiredOrdering(): Array[SortOrder] = Array(
          E.sort(E.column("stream_key"), SortDirection.ASCENDING),
          E.sort(E.column("shard_id"), SortDirection.ASCENDING),
          E.sort(E.column("sequence"), SortDirection.ASCENDING))
      }
    else new SsWrite

  private class SsWrite extends Write {
    override def toBatch: BatchWrite = new SsBatchWrite(path, info, doTruncate)
    override def toStreaming: StreamingWrite = new SsStreamingWrite(path, info)
  }
}

/** `(staged, dest)` pairs: the task's attempt-unique `.ss.staged` files and
  * the canonical final names the driver publishes them to.
  */
final case class SsCommitMessage(files: Seq[(String, String)], messages: Long)
    extends WriterCommitMessage

/** Two-phase commit bookkeeping shared by batch and streaming writes.
  *
  * Publish (driver, job/epoch commit): rename each task-staged
  * `<attempt>.ss.staged` to its canonical `<part>.ss`. Nothing is visible
  * to readers until this point. Streaming destinations are deterministic in
  * (queryId, epochId, partitionId) — no task/attempt component — so when a
  * restarted query replays an epoch whose publish already (partially or
  * fully) happened, the existing part is kept and the replayed staged copy
  * is discarded: the publish is idempotent and the sink is exactly-once
  * across epoch replays, the Spark-native analogue of the reference's Kafka
  * transactional producer (sea-streamer-kafka/src/producer.rs:236-301).
  * Batch destinations keep a per-job random tag: concurrent append jobs to
  * the same store must never collide on a name. Batch publish is therefore
  * NOT idempotent across driver crashes — parts rename one at a time, so a
  * crash mid-commit can leave a batch job partially visible (rerunning the
  * job appends a full fresh copy under a new tag); exactly-once batch
  * replay would need an epoch-keyed commit log like the streaming path's
  * deterministic names.
  *
  * Abort: sweep this job/epoch's intermediates (`.ss.tmp` from live writers
  * and `.ss.staged` from tasks whose commit raced the failure). Both
  * suffixes fail `listFiles`' `.ss` filter, so even an unswept straggler
  * (driver crash, executor-local disk on a real cluster) is garbage, never
  * phantom data.
  */
private[ss] object SsWriteReconcile {
  def publish(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case SsCommitMessage(files, _) => files.foreach { case (staged, dest) =>
        val src = new File(staged)
        val dst = new File(dest)
        if (dst.exists()) src.delete() // epoch replay: already published
        else if (!src.renameTo(dst) && !dst.exists())
          throw SsFormat.FormatException(
            s"ss sink could not publish $staged -> ${dst.getPath}")
      }
      case _ =>
    }

  def abort(path: String, namePrefix: String,
            messages: Array[WriterCommitMessage]): Unit = {
    if (messages != null) messages.foreach {
      case SsCommitMessage(files, _) =>
        files.foreach { case (staged, _) => new File(staged).delete() }
      case _ =>
    }
    val dir = new File(path)
    if (dir.isDirectory) {
      val stale = dir.listFiles((_, n) => n.startsWith(namePrefix) &&
        (n.endsWith(".ss.tmp") || n.endsWith(".ss.staged")))
      if (stale != null) stale.foreach(_.delete())
    }
  }
}

class SsBatchWrite(path: String, info: LogicalWriteInfo, truncate: Boolean)
    extends BatchWrite {
  private val interval =
    info.options().getInt("beaconInterval", SsFormat.DefaultBeaconInterval)
  private val sizeLimit =
    info.options().getLong("fileSizeLimit", SsFormat.DefaultFileSizeLimit)
  private val factory = new SsWriterFactory(path, interval, sizeLimit, None)

  override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new File(path)
    if (truncate && dir.isDirectory)
      dir.listFiles((_, n) => n.endsWith(".ss")).foreach(_.delete())
    dir.mkdirs()
    factory
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    SsWriteReconcile.publish(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SsWriteReconcile.abort(path, s"part-${factory.jobTag}-", messages)
}

class SsStreamingWrite(path: String, info: LogicalWriteInfo)
    extends StreamingWrite {
  private val interval =
    info.options().getInt("beaconInterval", SsFormat.DefaultBeaconInterval)
  private val sizeLimit =
    info.options().getLong("fileSizeLimit", SsFormat.DefaultFileSizeLimit)

  /** Stable across restarts (StreamExecution's persisted query id, not the
    * per-run id) — what makes replayed epochs land on the same part names.
    */
  private val queryTag: String =
    info.queryId().replaceAll("-", "").take(12)
  private val factory =
    new SsWriterFactory(path, interval, sizeLimit, Some(queryTag))

  override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory = {
    new File(path).mkdirs()
    factory
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    SsWriteReconcile.publish(messages)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    SsWriteReconcile.abort(path, f"part-q$queryTag-e$epochId%05d-", messages)
}

/** One `.ss` part file per task (and per epoch when streaming).
  *
  * Naming: batch parts carry a per-job random tag (concurrent append jobs
  * must not collide); streaming parts are canonically named by
  * (queryTag, epochId, partitionId) so an epoch replay after a restart maps
  * onto the same destinations and publish can dedup. The attempt-unique
  * taskId survives only in the staged/tmp names, so speculative attempts
  * never write the same intermediate file.
  */
class SsWriterFactory(path: String, interval: Int, sizeLimit: Long,
    streamingQueryTag: Option[String])
    extends DataWriterFactory with StreamingDataWriterFactory {

  val jobTag: String =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val name = f"part-$jobTag-$partitionId%05d-$taskId.ss"
    mk(name, name)
  }

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val q = streamingQueryTag.getOrElse(jobTag)
    mk(f"part-q$q-e$epochId%05d-p$partitionId%05d-t$taskId.ss",
      f"part-q$q-e$epochId%05d-p$partitionId%05d.ss")
  }

  private def mk(attemptName: String, finalName: String): DataWriter[InternalRow] = {
    val target = new File(path)
    if (target.exists() && !target.isDirectory)
      throw SsFormat.FormatException(
        s"ss sink path must be a directory, found a file: $path")
    new SsDataWriter(new File(target, attemptName),
      new File(target, finalName), interval, sizeLimit)
  }
}

/** Writes one part; rotates to `<part>-rN.ss` when the file-size quota is
  * exceeded (the reference sink's 16 GiB default quota + rotation,
  * sea-streamer-file/src/sink.rs:96-110, lib.rs:93).
  *
  * Commit protocol: every part is written as `<attempt>.ss.tmp` — invisible
  * to `SsDataSource.listFiles` (which matches only `.ss`) — and renamed to
  * `<attempt>.ss.staged` (still invisible) in `commit()`, which Spark
  * invokes only for the attempt the commit coordinator elects. The driver
  * publishes staged parts to their canonical destinations at job/epoch
  * commit (`SsWriteReconcile.publish`), so readers racing a writer see each
  * part either absent or complete, and a failed job publishes nothing.
  * Rotation applies the same `-rN` suffix to the attempt and destination
  * names, keeping replayed-epoch dedup exact per rotated part.
  */
class SsDataWriter(attemptFile: File, destFile: File, interval: Int,
    sizeLimit: Long)
    extends DataWriter[InternalRow] {

  private var rotation = 0
  private var messages = 0L
  // (written tmp, canonical destination) per part, in open order
  private val parts = Seq.newBuilder[(File, File)]
  private var current: SsWriter = open(attemptFile, destFile)

  private def open(attempt: File, dest: File): SsWriter = {
    val tmp = new File(attempt.getParentFile, attempt.getName + ".tmp")
    parts += ((tmp, dest))
    new SsWriter(
      new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16),
      dest.getName, interval)
  }

  private def rotated(f: File): File = new File(f.getParentFile,
    f.getName.stripSuffix(".ss") + s"-r$rotation.ss")

  override def write(row: InternalRow): Unit = {
    if (current.offset >= sizeLimit) {
      messages += current.messageCount
      current.close()
      rotation += 1
      current = open(rotated(attemptFile), rotated(destFile))
    }
    current.write(Envelope.fromInternalRow(row))
  }

  override def commit(): WriterCommitMessage = {
    messages += current.messageCount
    current.close()
    val staged = parts.result().map { case (tmp, dst) =>
      val stage = new File(tmp.getParentFile,
        tmp.getName.stripSuffix(".tmp") + ".staged")
      if (!tmp.renameTo(stage)) {
        parts.result().foreach { case (t, _) => t.delete() }
        throw SsFormat.FormatException(
          s"ss sink could not stage ${tmp.getPath} -> ${stage.getPath}")
      }
      (stage.getPath, dst.getPath)
    }
    SsCommitMessage(staged, messages)
  }
  override def abort(): Unit = {
    current.close()
    parts.result().foreach { case (tmp, _) => tmp.delete() }
  }
  override def close(): Unit = ()
}
