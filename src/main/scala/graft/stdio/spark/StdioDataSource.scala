package graft.stdio.spark

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{LiveSource, MessageReaders, SeaMessage}
import graft.ops.StdioParser

/** `spark.readStream.format("stdio-lines").load(path)` — the stdio
  * backend's LIVE consumer: tail a growing line file (the distributed
  * stand-in for the reference's dedicated stdin thread,
  * sea-streamer-stdio/src/streamer.rs:66-79 — a cluster has no shared
  * stdin, a shared append-only file is the same contract) and parse each
  * line through the meta-prefix grammar (parser.rs:31-97).
  *
  * Offsets are BYTE positions at line boundaries plus the line ordinal:
  * `latestOffset` scans only the newly-appended region for complete lines
  * (a partial trailing line stays unread until its newline arrives), so a
  * restart resumes exactly at a boundary and never re-parses history.
  *
  * Defaults mirror the reference's dispatch (consumer_group.rs:47-76):
  * absent key → the literal `broadcast` stream (lib.rs:60, delivered to
  * every subscriber by the facade filter), absent shard → 0, absent
  * timestamp → now (the reference stamps `Timestamp::now_utc` the same
  * way), absent sequence → the line ordinal. The ordinal diverges from the
  * reference's in-memory per-(key, shard) counter deliberately: that
  * counter is process-lifetime state a restarted reader cannot
  * reconstruct from a byte offset, while the ordinal is restart-stable
  * and preserves the law the dispatch relies on (monotone per key in
  * arrival order, `seq % n` group fan-out).
  *
  * Stdio is inherently a single serial feed (the reference consumes ONE
  * process's stdin), so each micro-batch plans ONE partition; the
  * downstream shuffle distributes. Not a 100 TB ingest path by design.
  */
class StdioDataSource extends LiveSource("stdio-lines", Seq("path"),
  new StdioMicroBatchStream(_))

/** `{"pos":<byte>,"line":<ordinal>}` — both advance only at '\n'. */
final case class StdioOffset(pos: Long, line: Long) extends Offset {
  override def json(): String = s"""{"pos":$pos,"line":$line}"""
}

object StdioOffset {
  private val Re = """\{"pos":(\d+),"line":(\d+)\}""".r
  def fromJson(json: String): StdioOffset = json.trim match {
    case Re(p, l) => StdioOffset(p.toLong, l.toLong)
    case other => throw new IllegalArgumentException(s"bad StdioOffset: $other")
  }
}

final case class StdioInputPartition(path: String, fromPos: Long,
    untilPos: Long, fromLine: Long) extends InputPartition

class StdioMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream {

  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("stdio-lines requires a path"))
  private val latest = options.getOrDefault("startingOffsets", "latest")
    .equalsIgnoreCase("latest")
  // the line ordinal byte 0 of THIS file corresponds to: a rotated spool
  // (consumed prefix dropped into a fresh file) passes the ordinal reached
  // so far, so default sequences keep counting instead of resetting to 0
  private val lineBase = options.getOrDefault("lineBase", "0").toLong

  /** Scan `[from, EOF)` for complete lines; returns (pos-after-last-'\n',
    * newline count). O(new bytes) per trigger on the driver — stdio is one
    * serial feed by contract, this is its throughput envelope.
    */
  private def scanComplete(from: Long): (Long, Long) = {
    val f = new java.io.File(path)
    if (!f.exists()) return (from, 0L)
    val in = new java.io.FileInputStream(f)
    try {
      var skipped = 0L
      while (skipped < from) {
        val s = in.skip(from - skipped)
        if (s <= 0) return (from, 0L)
        skipped += s
      }
      val buf = new Array[Byte](1 << 16)
      var pos = from
      var lastNl = from
      var lines = 0L
      var n = in.read(buf)
      while (n > 0) {
        var i = 0
        while (i < n) {
          if (buf(i) == '\n') { lastNl = pos + i + 1; lines += 1 }
          i += 1
        }
        pos += n
        n = in.read(buf)
      }
      (lastNl, lines)
    } finally in.close()
  }

  override def initialOffset(): Offset = {
    val o =
      if (latest) {
        val (p, l) = scanComplete(0L); StdioOffset(p, lineBase + l)
      } else StdioOffset(0L, lineBase)
    if (lastPlanned == null) lastPlanned = o
    o
  }

  override def latestOffset(): Offset = {
    // any line-boundary base on the offset chain gives a consistent
    // (pos, line) answer — the cursor only controls how much gets
    // rescanned per trigger
    if (lastPlanned == null) initialOffset()
    val base = lastPlanned
    val (p, l) = scanComplete(base.pos)
    val end = StdioOffset(p, base.line + l)
    if (end.pos > lastPlanned.pos) lastPlanned = end
    end
  }

  /** latestOffset() (no-arg form) has no start parameter; track the last
    * line boundary we've seen so each trigger scans only the new region.
    * Seeded LAZILY from the first offset Spark hands us: on a restarted
    * query that is the checkpointed offset (via [[deserializeOffset]]),
    * on a fresh query [[initialOffset]] — never an independent
    * construction-time file scan, which could disagree with the
    * checkpoint's line numbering and make the documented restart-stable
    * line ordinals jump (ADVICE r7).
    */
  @volatile private var lastPlanned: StdioOffset = null

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[StdioOffset]
    val e = end.asInstanceOf[StdioOffset]
    if (e.pos <= s.pos) Array.empty
    else Array(StdioInputPartition(path, s.pos, e.pos, s.line))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    StdioPartitionReader

  override def deserializeOffset(json: String): Offset = {
    val o = StdioOffset.fromJson(json)
    // seed — or re-anchor downward — from the checkpoint chain, so the
    // first planned batch after a restart continues the checkpoint's line
    // numbering exactly (end.line = checkpoint.line + newlines in range)
    if (lastPlanned == null || o.pos < lastPlanned.pos) lastPlanned = o
    o
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Parses `[fromPos, untilPos)` — all complete lines — into envelopes. */
object StdioPartitionReader extends MessageReaders[StdioInputPartition] {
  def open(p: StdioInputPartition): (Iterator[SeaMessage], AutoCloseable) = {
    val text = {
      val in = new java.io.RandomAccessFile(p.path, "r")
      try {
        in.seek(p.fromPos)
        val buf = new Array[Byte]((p.untilPos - p.fromPos).toInt)
        in.readFully(buf)
        new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    }
    // untilPos sits just after a '\n', so the text ends with '\n' and the
    // final split slice is always the "" artifact — drop exactly it.
    // INTERIOR empty lines are real messages (the reference's flush sends
    // an empty broadcast line, producer.rs:252).
    val lines = text.split("\n", -1).dropRight(1).iterator.zipWithIndex
    (lines.flatMap { case (line, i) =>
      // unparseable meta: skip, like the replay path
      StdioParser.parseMeta(line).toOption.map { case (h, payload) =>
        SeaMessage(
          h.streamKey.getOrElse("broadcast"),
          h.shardId.getOrElse(0L),
          h.sequence.getOrElse(p.fromLine + i),
          h.timestamp.getOrElse(
            new java.sql.Timestamp(System.currentTimeMillis())),
          payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }, () => ())
  }
}
