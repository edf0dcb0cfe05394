package graft.redis

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.SeaMessage

/** Redis Streams command builders and reply decoders, matching the
  * reference's wire usage exactly:
  *   - XADD with `<ms>-*` ids and a single message field
  *     (sea-streamer-redis/src/producer.rs:350-420, default field "msg");
  *   - XREAD / XREADGROUP with `STREAMS k... id...`, ids `$` (latest),
  *     `0-0` (earliest), `>` (undelivered), `<ms>-<seq>` (anchored)
  *     (consumer/node.rs:528-575);
  *   - entry id → SeqNo packing `(ms << 16) | sub_seq`
  *     (message.rs:7-11,27-88);
  *   - sharded keys `name:shard` (producer.rs:365-371).
  *
  * Builders return raw arg vectors for [[RedisClient]] / its pipeline, so
  * the exact bytes are unit-testable without a server.
  */
object RedisStreams {

  val DefaultMessageField = "msg"

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** `name:shard` or bare name for shard 0-only streams. */
  def shardedKey(stream: String, shard: Long, sharded: Boolean): String =
    if (sharded) s"$stream:$shard" else stream

  /** A parseable OUR-format shard suffix: ASCII digits only (Char.isDigit
    * accepts Unicode digits that toLong rejects) and within Long range.
    */
  private def shardSuffix(tail: String): Option[Long] =
    if (tail.nonEmpty && tail.length <= 18 &&
      tail.forall(c => c >= '0' && c <= '9')) Some(tail.toLong)
    else None

  /** Recover (redisKey, stream, shard) from a key name. Stream names cannot
    * contain ':' (the reference charset, stream.rs:89-97), so a trailing
    * shard suffix is unambiguous; anything else is a bare shard-0 key. The
    * ONE place this parse lives — discovery, offsets and reply decoding all
    * route here.
    */
  def keyIdentity(k: String): (String, String, Long) =
    k.lastIndexOf(':') match {
      case i if i > 0 =>
        shardSuffix(k.substring(i + 1)) match {
          case Some(sh) => (k, k.substring(0, i), sh)
          case None => (k, k, 0L)
        }
      case _ => (k, k, 0L)
    }

  def entryId(timestampMs: Long, subSeq: Long): String = s"$timestampMs-$subSeq"

  /** Split `"<ms>-<seq>"`; `sub_seq` saturates at 16 bits when packed. */
  def parseEntryId(id: String): (Long, Long) = {
    val i = id.indexOf('-')
    if (i < 0) throw new IllegalArgumentException(s"bad redis entry id: $id")
    (id.substring(0, i).toLong, id.substring(i + 1).toLong)
  }

  /** Lossy beyond 16 bits of sub-sequence (the reference packs the same
    * way, message.rs:7-11) — NEVER reconstruct a wire entry id from a
    * packed SeqNo; pagination and acks must carry the raw id string
    * ([[decodeEntriesWithIds]]).
    */
  def packSeqNo(timestampMs: Long, subSeq: Long): Long =
    (timestampMs << 16) | (subSeq & 0xFFFFL)

  /** Refuse an entry id whose sub-sequence saturates the 16-bit packed
    * field. A relay whose resume cursor rides a packed SeqNo
    * ([[graft.eos.RedisRelaySource]], into either destination's cursor
    * slot) would alias past 0xFFFF:
    * the stored cursor could move BACKWARD in wire order (duplicates) and
    * the reconstructed XRANGE start could skip live entries (loss). The
    * reference shares the same 64k-entries-per-ms-per-shard ceiling
    * (sea-streamer-redis/src/message.rs:7-11), so failing LOUD at the
    * ceiling matches its semantics; below it, `ms-sub ↔ packed` is
    * bijective and the cursor reconstruction those relays do is exact.
    */
  def guardSubSeq(rawId: String): Unit = {
    val (_, sub) = parseEntryId(rawId)
    if (sub >= 0xFFFFL)
      throw new IllegalStateException(
        s"entry id $rawId saturates the 16-bit sub-sequence the packed " +
          "cursor rides (>=65535 entries in one millisecond on one " +
          "shard) — the packed resume point would alias; re-shard the " +
          "stream or slow the producer below 64k entries/ms/shard")
  }

  /** Total order on raw entry ids: (ms, seq) lexicographic. */
  def idCompare(a: String, b: String): Int = {
    val (am, as_) = parseEntryId(a)
    val (bm, bs) = parseEntryId(b)
    if (am != bm) java.lang.Long.compare(am, bm)
    else java.lang.Long.compare(as_, bs)
  }

  /** The smallest id strictly greater than `id` — an INCLUSIVE cursor that
    * means "everything after `id`" for commands without exclusive-start
    * syntax (XAUTOCLAIM's scan cursor).
    */
  def idSuccessor(id: String): String = {
    val (ms, seq) = parseEntryId(id)
    if (seq == Long.MaxValue) s"${ms + 1}-0" else s"$ms-${seq + 1}"
  }

  /** Seek law `timestamp > T` as an exclusive-after id: every real entry at
    * `T` sorts at/below `T-MaxValue`, every entry with ms > T above it —
    * pushing the facade's strictly-greater filter into the XRANGE start
    * (reference treats entry-id time the same way, message.rs:27-64).
    */
  def seekAfterId(timestampMs: Long): String =
    s"$timestampMs-${Long.MaxValue}"

  /** The largest id strictly below `id` — an exclusive-after clamp that
    * INCLUDES `id` itself ("0-0" floors; no real entry id is 0-0).
    */
  def idPredecessor(id: String): String = {
    val (ms, seq) = parseEntryId(id)
    if (seq > 0) s"$ms-${seq - 1}"
    else if (ms > 0) s"${ms - 1}-${Long.MaxValue}"
    else "0-0"
  }

  // ---- command builders --------------------------------------------------

  /** `XADD key <ms>-* field payload` — auto-assigned sub-sequence, the
    * reference's UnixTimestampMillis format.
    */
  def xadd(key: String, timestampMs: Long, payload: Array[Byte],
      field: String = DefaultMessageField): Seq[Array[Byte]] =
    Seq(b("XADD"), b(key), b(s"$timestampMs-*"), b(field), payload)

  def xrange(key: String, start: String = "-", end: String = "+",
      count: Option[Int] = None): Seq[Array[Byte]] =
    Seq(b("XRANGE"), b(key), b(start), b(end)) ++
      count.toSeq.flatMap(n => Seq(b("COUNT"), b(n.toString)))

  /** `XREVRANGE key + - COUNT 1` — the tip probe the reference uses to pin
    * Latest anchors (consumer/node.rs:485-510).
    */
  def xrevrangeTip(key: String): Seq[Array[Byte]] =
    Seq(b("XREVRANGE"), b(key), b("+"), b("-"), b("COUNT"), b("1"))

  /** Decode an [[xrevrangeTip]] reply to the tip's ms (0 on an empty or
    * absent stream) — the one shared spelling of the probe-decode idiom.
    */
  def tipMs(reply: Resp.Value): Long =
    decodeEntriesWithIds(reply, "", 0L)
      .headOption.map(e => parseEntryId(e._1)._1)
      .getOrElse(0L)

  /** `XINFO STREAM key` — the probe for the stream's `last_id` (the XADD
    * refusal bar), which outlives XTRIM/XDEL of every entry, unlike the
    * visible tip [[xrevrangeTip]] reads.
    */
  def xinfoStream(key: String): Seq[Array[Byte]] =
    Seq(b("XINFO"), b("STREAM"), b(key))

  /** `XINFO GROUPS key` — per-group metadata; the consumer facade reads
    * each group's `last-delivered-id` cursor (the floor a fresh capped
    * group query clamps its first batch window to, so it never crawls the
    * group's consumed prefix in empty batches).
    */
  def xinfoGroups(key: String): Seq[Array[Byte]] =
    Seq(b("XINFO"), b("GROUPS"), b(key))

  /** Decode an [[xinfoGroups]] reply into group name → last-delivered-id.
    * Errors (no such key) and absent fields decode to empty — a missing
    * cursor just means no floor to apply.
    */
  def groupCursors(reply: Resp.Value): Map[String, String] = reply match {
    case Resp.Arr(groups) => groups.collect { case Resp.Arr(fields) =>
      val kv = fields.sliding(2, 2).collect {
        case Seq(Resp.Bulk(f), v) =>
          new String(f, java.nio.charset.StandardCharsets.UTF_8) -> v
      }.toMap
      (kv.get("name"), kv.get("last-delivered-id")) match {
        case (Some(Resp.Bulk(n)), Some(Resp.Bulk(c))) =>
          Some(new String(n, java.nio.charset.StandardCharsets.UTF_8) ->
            new String(c, java.nio.charset.StandardCharsets.UTF_8))
        case _ => None
      }
    }.flatten.toMap
    case _ => Map.empty
  }

  /** Decode an [[xinfoStream]] reply's `last-generated-id` as (ms, seq);
    * (0, -1) when the field is absent — so the first append at ms 0 still
    * gets sub-seq 0.
    */
  def lastGeneratedId(reply: Resp.Value): (Long, Long) = reply match {
    case Resp.Arr(items) =>
      items.sliding(2, 2).collectFirst {
        case Seq(Resp.Bulk(f), Resp.Bulk(v))
            if new String(f, java.nio.charset.StandardCharsets.UTF_8) ==
              "last-generated-id" =>
          parseEntryId(new String(v, java.nio.charset.StandardCharsets.UTF_8))
      }.getOrElse((0L, -1L))
    case _ => (0L, -1L)
  }

  def xread(streams: Seq[(String, String)], count: Option[Int] = None,
      blockMs: Option[Long] = None): Seq[Array[Byte]] =
    Seq(b("XREAD")) ++
      count.toSeq.flatMap(n => Seq(b("COUNT"), b(n.toString))) ++
      blockMs.toSeq.flatMap(t => Seq(b("BLOCK"), b(t.toString))) ++
      Seq(b("STREAMS")) ++ streams.map(s => b(s._1)) ++ streams.map(s => b(s._2))

  def xreadGroup(group: String, consumer: String,
      streams: Seq[(String, String)], count: Option[Int] = None): Seq[Array[Byte]] =
    Seq(b("XREADGROUP"), b("GROUP"), b(group), b(consumer)) ++
      count.toSeq.flatMap(n => Seq(b("COUNT"), b(n.toString))) ++
      Seq(b("STREAMS")) ++ streams.map(s => b(s._1)) ++ streams.map(s => b(s._2))

  /** `MKSTREAM` so group-create works on a not-yet-written stream — the
    * reference's create-group behavior (consumer/group.rs).
    */
  def xgroupCreate(key: String, group: String, from: String = "0"): Seq[Array[Byte]] =
    Seq(b("XGROUP"), b("CREATE"), b(key), b(group), b(from), b("MKSTREAM"))

  def xack(key: String, group: String, ids: Seq[String]): Seq[Array[Byte]] =
    Seq(b("XACK"), b(key), b(group)) ++ ids.map(b)

  /** Failover: claim entries idle past `minIdleMs` (consumer/node.rs:647-744). */
  def xautoclaim(key: String, group: String, consumer: String,
      minIdleMs: Long, start: String = "0-0"): Seq[Array[Byte]] =
    Seq(b("XAUTOCLAIM"), b(key), b(group), b(consumer),
      b(minIdleMs.toString), b(start))

  /** Summary form: `[pending-count, min-id, max-id, per-consumer]`. */
  def xpending(key: String, group: String): Seq[Array[Byte]] =
    Seq(b("XPENDING"), b(key), b(group))

  /** `SCAN cursor MATCH pat COUNT n TYPE stream` — the reference's shard
    * discovery sweep (sea-streamer-redis/src/consumer/shard.rs:38-93).
    */
  def scan(cursor: String, matchPattern: String,
      count: Int = 1000): Seq[Array[Byte]] =
    Seq(b("SCAN"), b(cursor), b("MATCH"), b(matchPattern),
      b("COUNT"), b(count.toString), b("TYPE"), b("stream"))

  /** Discover a stream's shard keys (`stream:N` plus the bare key) by
    * cursor-following SCAN; returns (redisKey, stream, shard) triples.
    */
  def discoverShardKeys(client: RedisClient,
      stream: String): Seq[(String, String, Long)] = {
    val found = Seq.newBuilder[String]
    var cursor = "0"
    var first = true
    while (first || cursor != "0") {
      first = false
      client.command(scan(cursor, s"$stream*"): _*) match {
        case Resp.Arr(Seq(next: Resp.Bulk, Resp.Arr(ks))) =>
          cursor = next.utf8
          found ++= ks.collect { case k: Resp.Bulk => k.utf8 }
        case other =>
          throw new IllegalArgumentException(s"bad SCAN reply: $other")
      }
    }
    found.result().distinct.sorted.flatMap { k =>
      keyIdentity(k) match {
        case id @ (_, st, _) if st == stream => Some(id)
        case _ => None // unrelated key sharing the prefix
      }
    }
  }

  /** `XTRIM key MAXLEN ~ n` — approximate, like the reference
    * (producer.rs:168-218).
    */
  def xtrimMaxLen(key: String, maxLen: Long): Seq[Array[Byte]] =
    Seq(b("XTRIM"), b(key), b("MAXLEN"), b("~"), b(maxLen.toString))

  def xtrimMinId(key: String, minId: String): Seq[Array[Byte]] =
    Seq(b("XTRIM"), b(key), b("MINID"), b("~"), b(minId))

  // ---- transactions + plain keys (the MULTI exactly-once producer) ------
  def multi: Seq[Array[Byte]] = Seq(b("MULTI"))
  def exec: Seq[Array[Byte]] = Seq(b("EXEC"))
  def discard: Seq[Array[Byte]] = Seq(b("DISCARD"))
  def set(key: String, value: String): Seq[Array[Byte]] =
    Seq(b("SET"), b(key), b(value))
  def get(key: String): Seq[Array[Byte]] = Seq(b("GET"), b(key))
  def watch(keys: String*): Seq[Array[Byte]] = b("WATCH") +: keys.map(b)
  def unwatch: Seq[Array[Byte]] = Seq(b("UNWATCH"))

  // ---- reply decoders ----------------------------------------------------

  /** XRANGE reply: `[[id, [f1, v1, ...]], ...]` → (raw entry id, envelope
    * message). `streamKey`/`shard` come from the caller (they named the
    * redis key). The raw id rides alongside because the packed SeqNo is
    * lossy — cursors and XACKs must use it, never a reconstruction.
    */
  def decodeEntriesWithIds(v: Resp.Value, streamKey: String, shard: Long,
      field: String = DefaultMessageField): Seq[(String, SeaMessage)] = v match {
    case Resp.Arr(entries) => entries.map {
      case Resp.Arr(Seq(id: Resp.Bulk, Resp.Arr(fields))) =>
        val raw = id.utf8
        val (ms, sub) = parseEntryId(raw)
        val payload = fields.grouped(2).collectFirst {
          case Seq(f: Resp.Bulk, value: Resp.Bulk) if f.utf8 == field =>
            value.bytes
        }.getOrElse(Array.emptyByteArray)
        raw -> SeaMessage(streamKey, shard, packSeqNo(ms, sub),
          new java.sql.Timestamp(ms), payload)
      case other =>
        throw new IllegalArgumentException(s"bad XRANGE entry: $other")
    }
    case Resp.NullArr => Seq.empty
    case other => throw new IllegalArgumentException(s"bad XRANGE reply: $other")
  }

  def decodeEntries(v: Resp.Value, streamKey: String, shard: Long,
      field: String = DefaultMessageField): Seq[SeaMessage] =
    decodeEntriesWithIds(v, streamKey, shard, field).map(_._2)

  /** XREAD/XREADGROUP reply: `[[key, entries], ...]` →
    * (redisKey, (raw id, message) pairs). The caller maps redis keys back
    * to (stream, shard).
    */
  def decodeReadReplyWithIds(v: Resp.Value,
      field: String = DefaultMessageField): Seq[(String, Seq[(String, SeaMessage)])] = v match {
    case Resp.Arr(perStream) => perStream.map {
      case Resp.Arr(Seq(key: Resp.Bulk, entries)) =>
        val (redisKey, stream, shard) = keyIdentity(key.utf8)
        redisKey -> decodeEntriesWithIds(entries, stream, shard, field)
      case other =>
        throw new IllegalArgumentException(s"bad XREAD stream entry: $other")
    }
    case Resp.NullArr => Seq.empty
    case other => throw new IllegalArgumentException(s"bad XREAD reply: $other")
  }

  def decodeReadReply(v: Resp.Value,
      field: String = DefaultMessageField): Seq[(String, Seq[SeaMessage])] =
    decodeReadReplyWithIds(v, field).map { case (k, xs) => k -> xs.map(_._2) }
}
