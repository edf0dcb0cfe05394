package graft.eos

import graft.iggy.{IggyClient, IggySource}
import graft.iggy.IggyWire.PollStrategy
import graft.kafka.{KafkaClient, KafkaSource, KafkaTls, KafkaWire}
import graft.redis.{RedisClient, RedisStreams, Resp}
import graft.ss.{SsFormat, SsOffsetWalk, SsReader, SsRecord}

/** A kafka source: dense offsets per (topic, partition). The tip is the
  * LAST STABLE OFFSET, not the high watermark — pointed at a
  * transactional source (this repo's own KafkaEosSink output is the
  * natural chain), a hw-planned range would page into open transactions;
  * one empty read_committed fetch at the hw resolves the LSO. Reads are
  * read_committed too: aborted and still-open transactions are never
  * relayed, and the nextOffset cursor (not record offsets) advances past
  * all-aborted pages and control markers without stalling. `cap` bounds
  * each epoch's range in offsets.
  */
final case class KafkaRelaySource(host: String, port: Int,
    topics: Seq[String], cap: Long = 100000L,
    maxFetchBytes: Int = 1 << 20,
    sasl: Option[(String, String)] = None,
    saslMechanism: String = "PLAIN",
    tls: Option[KafkaTls.Client] = None) extends RelaySource {
  require(cap > 0, "cap must be positive")

  private def client() = new KafkaClient(host, port, sasl = sasl,
    saslMechanism = saslMechanism, tls = tls)

  def tips(cursors: Seq[Coord] => Map[Coord, Long]): Seq[RelayPoint] = {
    val c = client()
    val all = try KafkaSource.tips(c, topics, (_, _) => true,
      readCommitted = true) finally c.close()
    val cur = cursors(all.map(_._1))
    all.map { case (coord, tip) =>
      RelayPoint(coord, cur.getOrElse(coord, 0L), tip)
    }
  }

  override def until(cursor: Long, tip: Long): Long =
    math.min(tip, cursor + cap)

  def open(): RelayReader = new RelayReader {
    private val c = client()
    def close(): Unit = c.close()
    def read(coord: Coord, from: Long, until: Long, budget: Long)(
        f: RelayPage => Unit): Long = {
      val (topic, part) = coord
      var next = from
      while (next < until) {
        val (_, page, recs) =
          c.fetchIso(topic, part, next, maxFetchBytes, readCommitted = true)
        if (page <= next) {
          // an empty page below an LSO-capped `until` has exactly one
          // legitimate cause: retention truncated the log under us.
          // Confirm against the log-start offset before skipping —
          // fast-forwarding for any OTHER cause would silently lose data
          // while still committing the offset
          val logStart = c.listOffset(topic, part, KafkaWire.Ts.Earliest)
            .getOrElse(0L)
          if (logStart > next) next = math.min(logStart, until)
          else throw new IllegalStateException(
            s"relay stalled: $topic/$part fetch at $next returned no " +
              s"progress (page=$page) but log starts at $logStart — " +
              "refusing to skip unrelayed records")
        } else {
          val keep = recs.takeWhile(_.offset < until)
          if (keep.nonEmpty)
            f(RelayPage((topic, part.toLong),
              keep.map(r => (r.tsMs, r.key, r.value)),
              keep.iterator.map(_.offset).toArray))
          next = math.min(page, until)
        }
      }
      next
    }
  }
}

/** A redis source: (stream, shard) keys, positions are the reference's
  * packed ids (sea-streamer-redis/src/message.rs:27-64: one SeqNo =
  * `(ms << 16) | sub_seq`), so the cursor is a single i64 — the packed id
  * of the next unrelayed entry — and rides any destination's cursor slot
  * verbatim. The tip is packed(last entry) + 1 from `XREVRANGE key + -
  * COUNT 1`. Ids are sparse, so `cap` bounds entries per task
  * ([[budget]]) rather than the range. Every RELAYED entry is checked
  * against the 64k/ms/shard packing ceiling ([[RedisStreams.guardSubSeq]];
  * the tip guard alone misses saturated mid-range ids). Each relayed
  * record's kafka key is its raw entry id.
  */
final case class RedisRelaySource(host: String, port: Int,
    shards: Seq[(String, Long)], cap: Long = 100000L, page: Int = 1000,
    tls: Option[RedisClient.Tls] = None,
    auth: Option[RedisClient.Auth] = None) extends RelaySource {
  require(cap > 0, "cap must be positive")
  require(page > 0, "page must be positive")

  private def client() = new RedisClient(host, port, tls = tls, auth = auth)
  private def key(c: Coord) =
    RedisStreams.shardedKey(c._1, c._2.toLong, sharded = true)

  def tips(cursors: Seq[Coord] => Map[Coord, Long]): Seq[RelayPoint] = {
    val coords = shards.map { case (st, sh) => (st, sh.toInt) }
    val cur = cursors(coords)
    val c = client()
    try coords.map { coord =>
      val tip = c.command(RedisStreams.xrevrangeTip(key(coord)): _*) match {
        case v: Resp.Arr =>
          RedisStreams.decodeEntriesWithIds(v, coord._1, coord._2.toLong)
            .headOption.map { case (rawId, _) =>
              // the cursor rides the PACKED id: saturation aliases it
              RedisStreams.guardSubSeq(rawId)
              val (ms, sub) = RedisStreams.parseEntryId(rawId)
              RedisStreams.packSeqNo(ms, sub) + 1L
            }.getOrElse(0L)
        case _ => 0L
      }
      RelayPoint(coord, cur.getOrElse(coord, 0L), tip)
    } finally c.close()
  }

  override def budget: Long = cap

  /** The backlog's time span: newest pending minus oldest pending entry
    * ms (ids carry their ms; counting entries would scan the backlog). */
  override def backlog(points: Seq[RelayPoint]): Seq[Backlog] = {
    val c = client()
    try points.map { p =>
      val span =
        if (p.cursor >= p.tip) 0L
        else c.command(RedisStreams.xrange(key(p.coord),
            RedisStreams.entryId(p.cursor >>> 16, p.cursor & 0xFFFFL), "+",
            Some(1)): _*) match {
          case v: Resp.Arr =>
            RedisStreams.decodeEntriesWithIds(v, p.coord._1, p.coord._2.toLong)
              .headOption.map { case (rawId, _) =>
                ((p.tip - 1L) >>> 16) - RedisStreams.parseEntryId(rawId)._1
              }.getOrElse(0L)
          case _ => 0L
        }
      Backlog(ms = Some(span))
    } finally c.close()
  }

  def open(): RelayReader = new RelayReader {
    private val c = client()
    def close(): Unit = c.close()
    def read(coord: Coord, from: Long, until: Long, budget: Long)(
        f: RelayPage => Unit): Long = {
      val (stream, shard) = (coord._1, coord._2.toLong)
      // exact BECAUSE of guardSubSeq: every entry that ever advanced this
      // cursor had sub < 0xFFFF, where packing is bijective —
      // reconstructing a wire id from a packed SeqNo is otherwise
      // forbidden (packSeqNo's doc)
      var start = RedisStreams.entryId(from >>> 16, from & 0xFFFFL)
      var end = from
      var n = 0L
      var drained = false
      while (!drained && n < budget) {
        val want = math.min(page.toLong, budget - n).toInt
        val entries = RedisStreams.decodeEntriesWithIds(
          c.command(RedisStreams.xrange(key(coord), start, "+", Some(want)): _*),
          stream, shard)
        // stop at the PLANNED tip: entries appended after planning belong
        // to the next epoch (bounded-transaction law)
        val keep = entries.takeWhile(_._2.sequence < until)
        keep.foreach { case (rawId, _) => RedisStreams.guardSubSeq(rawId) }
        if (keep.nonEmpty) {
          f(RelayPage((stream, shard), keep.map { case (rawId, m) =>
              (m.timestamp.getTime, rawId.getBytes("UTF-8"), m.payload)
            }, keep.iterator.map(_._2.sequence).toArray))
          n += keep.length
          end = keep.last._2.sequence + 1L
          start = RedisStreams.idSuccessor(keep.last._1)
        }
        drained = keep.length < want || keep.length < entries.length
      }
      end
    }
  }
}

/** An iggy source: dense offsets per (topic, partition) in one iggy
  * namespace stream, exactly like kafka's (sea-streamer-iggy/src/
  * consumer.rs's offset polls); the tip is the partition's current
  * offset end from GetTopic. An empty poll below the pinned tip has one
  * legitimate cause — `message_expiry` trimmed the range — confirmed
  * against the first available offset before the skipped positions are
  * consumed. The server's own group offsets stay untouched: the relay's
  * resume point must survive the source broker's loss.
  */
final case class IggyRelaySource(host: String, port: Int,
    iggyStream: String, topics: Seq[String], cap: Long = 100000L,
    page: Int = 1000, auth: (String, String) = ("iggy", "iggy"))
    extends RelaySource {
  require(cap > 0, "cap must be positive")

  private def client() =
    new IggyClient(host, port, username = auth._1, password = auth._2)

  def tips(cursors: Seq[Coord] => Map[Coord, Long]): Seq[RelayPoint] = {
    val c = client()
    val all = try IggySource.tips(c, iggyStream, topics) finally c.close()
    val cur = cursors(all.map(_._1))
    all.map { case (coord, tip) =>
      RelayPoint(coord, cur.getOrElse(coord, 0L), tip)
    }
  }

  override def until(cursor: Long, tip: Long): Long =
    math.min(tip, cursor + cap)

  def open(): RelayReader = new RelayReader {
    private val c = client()
    def close(): Unit = c.close()
    def read(coord: Coord, from: Long, until: Long, budget: Long)(
        f: RelayPage => Unit): Long = {
      val (topic, part) = coord
      var next = from
      while (next < until) {
        val want = math.min(page.toLong, until - next).toInt
        val keep = c.pollMessages(iggyStream, topic, part,
          PollStrategy.AtOffset(next), want)._2.takeWhile(_.offset < until)
        if (keep.isEmpty) {
          val first = c.pollMessages(iggyStream, topic, part,
            PollStrategy.First, 1)._2.headOption.map(_.offset)
          first match {
            case Some(o) if o > next => next = math.min(o, until)
            case _ => throw new IllegalStateException(
              s"relay stalled: $topic/$part poll at $next below the " +
                s"planned tip $until returned nothing and the log starts " +
                s"at ${first.getOrElse(-1L)}")
          }
        } else {
          f(RelayPage((topic, part.toLong),
            keep.map(m => (m.tsMs, null: Array[Byte], m.payload)),
            keep.iterator.map(_.offset).toArray))
          next = keep.last.offset + 1L
        }
      }
      next
    }
  }
}

/** `.ss` part files as a relay source: one coordinate per file,
  * identified by file NAME (so a relocated directory resumes) at shard 0;
  * the cursor is the frame-exact byte offset after the last shipped
  * frame, and the tip is [[SsOffsetWalk.safeEnd]] — the last COMPLETE
  * frame, so a live appender's torn tail is never shipped nor counted as
  * lag — capped at `capBytes` past the cursor.
  *
  * One byte cursor fans out to many destination coordinates: the reader
  * takes `[cursor, until)` of one file in chunks of at most `page` frames
  * or [[PageBytes]] of payload, and splits each chunk by destination —
  * `(stream_key, floorMod(shard_id, n))` when `partitions = Some(n)` (a
  * kafka topic's partitions, the [[graft.kafka.KafkaEosSink]] mapping),
  * `(stream_key, shard_id)` with the u64 shard id whole when `None` (redis
  * `stream:shard` keys). A frame's position is its end offset minus one,
  * so `last position + 1` is always a frame boundary. Frames of streams
  * outside `onlyStreams` are dropped, but their positions still count as
  * consumed, exactly like aborted slots on a kafka source.
  */
final case class FileRelaySource(paths: Seq[String],
    capBytes: Long = Long.MaxValue, partitions: Option[Int] = None,
    onlyStreams: Option[Set[String]] = None, page: Int = 1000)
    extends RelaySource {
  require(capBytes > 0, "capBytes must be positive")
  require(page > 0, "page must be positive")
  require(partitions.forall(_ > 0), "partitions must be positive")

  private val byName: Map[String, String] =
    paths.map(p => new java.io.File(p).getName -> p).toMap

  override def tag(c: Coord, sep: String): String = c._1

  def tips(cursors: Seq[Coord] => Map[Coord, Long]): Seq[RelayPoint] = {
    // cursor identity is the NAME — refuse aliasing loud at plan time
    val dup = paths.groupBy(p => new java.io.File(p).getName).collect {
      case (k, vs) if vs.size > 1 => k
    }
    require(dup.isEmpty,
      s"cursor keys are file NAMES and these collide across the given " +
        s"paths: ${dup.mkString(", ")} — rename the files or ship the " +
        "directories under different anchors")
    val coords = paths.map(p => (new java.io.File(p).getName, 0))
    val cur = cursors(coords)
    coords.map { coord =>
      // a never-shipped file's cursor reads 0, but the first frame starts
      // AFTER the container header; safeEnd returns `at` itself when
      // nothing new is readable, so a drained file reads tip == cursor
      val at = math.max(cur.getOrElse(coord, 0L), SsFormat.HeaderSize.toLong)
      RelayPoint(coord, at, SsOffsetWalk.safeEnd(byName(coord._1), at,
        capBytes).offset)
    }
  }

  override def backlog(points: Seq[RelayPoint]): Seq[Backlog] =
    points.map(p => Backlog(bytes = Some(math.max(0L, p.tip - p.cursor))))

  def open(): RelayReader = new RelayReader {
    def close(): Unit = ()
    def read(coord: Coord, from: Long, until: Long, budget: Long)(
        f: RelayPage => Unit): Long = {
      val reader = SsReader.openAtOffset(byName(coord._1),
        math.max(from, SsFormat.HeaderSize.toLong))
      try {
        val frames = reader.iterator.takeWhile(_.endOffset <= until)
        var end = from
        var n = 0L
        while (frames.hasNext && n < budget) {
          val chunk = Vector.newBuilder[SsRecord]
          var bytes = 0L
          var k = 0
          while (frames.hasNext && n < budget && k < page &&
              bytes < FileRelaySource.PageBytes) {
            val r = frames.next()
            end = r.endOffset
            n += 1
            if (onlyStreams.forall(_.contains(r.message.stream_key))) {
              chunk += r
              bytes += r.message.payload.length
              k += 1
            }
          }
          // one page per destination, in order of its first frame
          chunk.result().groupBy(target).values.toSeq
            .sortBy(_.head.endOffset).foreach { rs =>
              f(RelayPage(target(rs.head), rs.map(r =>
                  (r.message.timestamp.getTime, null: Array[Byte],
                    r.message.payload)),
                rs.iterator.map(_.endOffset - 1L).toArray))
            }
        }
        end
      } finally reader.close()
    }
  }

  private def target(r: SsRecord): (String, Long) = {
    val shard = r.message.shard_id
    (r.message.stream_key,
      partitions.fold(shard)(n => math.floorMod(shard, n.toLong)))
  }
}

object FileRelaySource {

  /** Payload bytes per chunk: bounds a page next to its frame count, so
    * large frames still reach the destination in ~1 MiB pages. */
  val PageBytes: Long = 1L << 20
}
