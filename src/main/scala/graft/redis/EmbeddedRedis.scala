package graft.redis

import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-process Redis Streams subset speaking real RESP over real sockets —
  * enough XADD/XRANGE/XGROUP/XACK/XTRIM semantics to drive the client,
  * the pipelined producer, and the Spark sources end-to-end without a
  * redis binary. Multi-connection (one thread per accept) because every
  * Spark task opens its own connection.
  *
  * Lives in main (not test) because the DuckDB-oracle correctness queries
  * (analytics.RedisTransport) round-trip the `events` table through it, so
  * the whole redis backend — RESP codec, pipelined XADD producer, XRANGE
  * micro-batch source — sits under the same hash-compare gate as every
  * other operator. It is an embedded verification backend, not a
  * production store.
  */
final class EmbeddedRedis(
    /** Cluster simulation: keys listed here answer `MOVED 0 <addr>`. */
    @volatile var redirects: Map[String, String] = Map.empty,
    /** `CLUSTER SLOTS` topology: (startSlot, endSlot, host, port) ranges.
      * Empty = standalone node (CLUSTER SLOTS answers an empty array).
      */
    @volatile var slots: Seq[(Int, Int, String, Int)] = Seq.empty,
    /** When set, the listener speaks TLS from this PKCS12 keystore — the
      * server half of the reference's `rediss://` scheme
      * (sea-streamer-redis/src/connection.rs:131-136); RESP is
      * byte-identical inside the channel.
      */
    tls: Option[graft.core.TlsChannel.Server] = None,
    /** When set, connections must AUTH before any other command — redis's
      * requirepass/ACL gate with the real reply grammar: `NOAUTH` on an
      * unauthenticated command, `WRONGPASS` on a bad pair, the legacy
      * 2-arg `AUTH password` accepted for the `default` user.
      */
    auth: Option[(String, String)] = None)
    extends AutoCloseable {

  /** Like [[redirects]] but with `ASK` (migration in flight). */
  @volatile var askRedirects: Map[String, String] = Map.empty
  /** Fault tap (spent per matching command, like EmbeddedKafka's): close
    * the connection INSTEAD of processing the next N read commands
    * (XRANGE / XREAD / XREADGROUP) — nothing served, nothing advanced.
    */
  val dropReads = new java.util.concurrent.atomic.AtomicInteger(0)
  /** COUNTDOWN tap: the Nth next XADD (N = the value set) is dropped —
    * the connection closes instead of processing it, so the fault lands
    * MID-pipeline after N−1 commands were applied. Nothing is appended for
    * the dropped command; replies already produced for earlier commands of
    * the same pipeline are flushed before the close so the client's ack
    * high-water mark stays exact.
    */
  val dropXaddCountdown = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Refuse the next N XADDs (nothing appended) with [[failXaddError]]. */
  val failXadds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Error served while [[failXadds]] is positive; default is retriable. */
  @volatile var failXaddError: String =
    "TRYAGAIN Multiple keys request during rehashing of slot"

  private def takeFault(tap: java.util.concurrent.atomic.AtomicInteger): Boolean =
    tap.getAndUpdate(n => math.max(0, n - 1)) > 0
  /** Single-atomic-op countdown: fires exactly when the pre-decrement value
    * is 1 — the Nth command — even when concurrent connections (one socket
    * thread each, as in multi-partition Spark writes) race on the tap; a
    * get/decrement pair could fire on the wrong command or never.
    */
  private[redis] def takeCountdown(tap: java.util.concurrent.atomic.AtomicInteger): Boolean =
    tap.getAndUpdate(n => math.max(0, n - 1)) == 1
  private object DropConn extends RuntimeException
    with scala.util.control.NoStackTrace
  /** Mid-pipeline migration simulation: key -> (commands to still accept,
    * MOVED target) — after the budget is spent every further write bounces.
    */
  @volatile var bounceAfter: Map[String, (Int, String)] = Map.empty
  private val server: ServerSocket = tls match {
    case Some(t) => graft.core.TlsChannel.serverSocket(t, 16,
      InetAddress.getLoopbackAddress)
    case None => new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  }
  val port: Int = server.getLocalPort
  val host: String = "127.0.0.1"

  /** key -> ordered entries (id, fields) */
  private val streams =
    new ConcurrentHashMap[String, mutable.ArrayBuffer[(String, Seq[(String, Array[Byte])])]]()
  private val acked =
    new ConcurrentHashMap[String, java.util.Set[String]]()
  /** (key/group) -> last delivered id */
  private val groupCursor = new ConcurrentHashMap[String, String]()
  /** One PEL entry: owning consumer + last delivery time (drives the real
    * XAUTOCLAIM min-idle rule — a live consumer's fresh deliveries must not
    * be stealable).
    */
  final case class PelEntry(consumer: String, deliveredAtMs: Long)
  /** (key/group) -> id -> PEL entry */
  private val pel =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, PelEntry]]()
  private val lastMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val subSeq = new ConcurrentHashMap[String, java.lang.Long]()
  /** Plain string keyspace (GET/SET) — the epoch-ledger keys the MULTI
    * exactly-once producer stores beside its stream entries. */
  private val kv = new ConcurrentHashMap[String, Array[Byte]]()
  /** Transaction isolation lock. EXEC takes the WRITE side: its queue
    * applies all-or-nothing with no concurrent command observing a
    * half-applied MULTI, and its watched-version check is atomic with the
    * apply. Every other command applies (and bumps versions) under the
    * READ side — concurrent with each other exactly as real redis
    * pipelines interleave, but never concurrent with an EXEC, so the
    * WATCH snapshot / version bump / EXEC check are totally ordered per
    * key (a connection that dies pre-EXEC discards its queue, exactly
    * real redis's contract). An uncontended read lock is a CAS — measured
    * ~35% cheaper on the 20-connection producer path than a single
    * exclusive lock (receipt in BENCH_LOCAL.md), while keeping the same
    * atomicity guarantees; nothing in [[handle]] blocks while holding it. */
  private val txLock = new java.util.concurrent.locks.ReentrantReadWriteLock
  /** Per-key modification counter driving WATCH/EXEC optimistic locking:
    * bumped (under [[txLock]]) by every command that mutates the key, so
    * EXEC aborts (nil) iff a watched key moved since WATCH — including a
    * move by the watcher's own rival attempt, the zombie-fencing case the
    * exactly-once MULTI producer leans on. */
  private val keyVersion = new ConcurrentHashMap[String, java.lang.Long]()
  private def bumpVersion(key: String): Unit =
    keyVersion.merge(key, 1L, (a, b) => a + b)
  private def versionOf(key: String): Long =
    Option(keyVersion.get(key)).map(_.longValue).getOrElse(0L)
  @volatile private var closed = false

  def kvGet(key: String): Option[Array[Byte]] = Option(kv.get(key))

  def entries(key: String): Seq[(String, Seq[(String, Array[Byte])])] =
    Option(streams.get(key)) match {
      case Some(buf) => buf.synchronized { buf.toSeq }
      case None => Seq.empty
    }

  /** Run a MUTATING rewrite over the stream's buffer under its lock —
    * the shared body of XTRIM/XDEL (an absent key mutates nothing and
    * answers 0, real redis's behavior for both).
    */
  private def withStream(key: String)(
      f: mutable.ArrayBuffer[(String, Seq[(String, Array[Byte])])] => Resp.Value): Resp.Value =
    Option(streams.get(key)) match {
      case Some(buf) => buf.synchronized(f(buf))
      case None => Resp.Num(0L)
    }

  /** Run `f` over the stream's ordered buffer WITHOUT copying it — the
    * hot read paths (tip probes, range pages, group reads) slice under
    * the per-key lock. The old full `toSeq` copy per probe made every
    * XREVRANGE tip read O(stream) and a paged XRANGE scan
    * O(stream²/page) — measured as the dominant cost of the EOS
    * writers' floor probes once streams grow past ~10⁵ entries. `f`
    * must copy whatever it returns (slices of mutable buffers do).
    */
  private def withEntries[T](key: String)(
      f: collection.IndexedSeq[(String, Seq[(String, Array[Byte])])] => T): T =
    Option(streams.get(key)) match {
      case Some(buf) => buf.synchronized(f(buf))
      case None => f(Vector.empty)
    }
  def ackedIds(key: String, group: String): Set[String] =
    Option(acked.get(s"$key/$group")).map(_.asScala.toSet).getOrElse(Set.empty)
  def pendingIds(key: String, group: String): Map[String, String] =
    Option(pel.get(s"$key/$group"))
      .map(_.asScala.map { case (id, e) => id -> e.consumer }.toMap)
      .getOrElse(Map.empty)

  private val acceptor = new Thread(() => {
    try while (!closed) {
      val s = server.accept()
      new Thread(() => serve(s)).start()
    } catch { case _: Throwable => () }
  }, "fake-redis-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(socket: java.net.Socket): Unit = {
    // on a TLS listener the handshake runs on first IO: NODELAY before
    // that, or every handshake flight eats a Nagle/delayed-ACK stall
    socket.setTcpNoDelay(true)
    val in = Resp.buffered(socket.getInputStream)
    val out = Resp.buffered(socket.getOutputStream)
    // authentication is PER CONNECTION, like real redis: each accepted
    // socket starts unauthenticated and must AUTH before anything else
    var authed = auth.isEmpty
    def gated(cmd: Seq[Array[Byte]]): Resp.Value = {
      val name = if (cmd.isEmpty) "" else new String(cmd.head, UTF_8).toUpperCase
      if (name == "AUTH") {
        // real reply grammar: 2-arg form targets the `default` user,
        // 3-arg form names one; a server with no password set refuses
        // the command outright
        val pair = cmd.map(new String(_, UTF_8)) match {
          case Seq(_, p) => Some(("default", p))
          case Seq(_, u, p) => Some((u, p))
          case _ => None
        }
        (auth, pair) match {
          case (None, _) => Resp.Err(
            "ERR Client sent AUTH, but no password is set. Did you mean " +
              "AUTH <username> <password>?")
          case (_, None) => Resp.Err("ERR wrong number of arguments for " +
            "'auth' command")
          case (Some((eu, ep)), Some((u, p))) =>
            if (u == eu && p == ep) { authed = true; Resp.Simple("OK") }
            else Resp.Err("WRONGPASS invalid username-password pair or " +
              "user is disabled.")
        }
      }
      else if (!authed) Resp.Err("NOAUTH Authentication required.")
      else handle(cmd)
    }
    // MULTI/EXEC transaction queue — per connection, like real redis: a
    // connection that drops before EXEC takes its queue with it
    var txQueue: scala.collection.mutable.ArrayBuffer[Seq[Array[Byte]]] = null
    // WATCH snapshot — per connection: key -> version at WATCH time.
    // EXEC aborts with nil iff any entry no longer matches (real redis's
    // optimistic CAS; cleared by EXEC either way, DISCARD, and UNWATCH)
    var watched: Map[String, Long] = Map.empty
    try while (!closed) {
      val cmd = Resp.parse(in) match {
        case Resp.Arr(items) => items.map {
          case b: Resp.Bulk => b.bytes
          case other => throw new IllegalArgumentException(s"bad arg $other")
        }
        case other => throw new IllegalArgumentException(s"bad command $other")
      }
      val name =
        if (cmd.isEmpty) "" else new String(cmd.head, UTF_8).toUpperCase
      val reply =
        if (!authed && name != "AUTH") gated(cmd) // NOAUTH grammar
        else name match {
          case "MULTI" =>
            if (txQueue != null) Resp.Err("ERR MULTI calls can not be nested")
            else {
              txQueue = scala.collection.mutable.ArrayBuffer.empty
              Resp.Simple("OK")
            }
          case "DISCARD" =>
            if (txQueue == null) Resp.Err("ERR DISCARD without MULTI")
            else { txQueue = null; watched = Map.empty; Resp.Simple("OK") }
          case "WATCH" =>
            if (txQueue != null) Resp.Err("ERR WATCH inside MULTI is not allowed")
            else if (cmd.length < 2)
              Resp.Err("ERR wrong number of arguments for 'watch' command")
            else {
              txLock.readLock.lock()
              try {
                watched ++= cmd.drop(1).map(k =>
                  new String(k, UTF_8) -> versionOf(new String(k, UTF_8)))
                Resp.Simple("OK")
              } finally txLock.readLock.unlock()
            }
          case "UNWATCH" =>
            watched = Map.empty
            Resp.Simple("OK")
          case "EXEC" =>
            if (txQueue == null) Resp.Err("ERR EXEC without MULTI")
            else {
              val q = txQueue.toSeq
              txQueue = null
              txLock.writeLock.lock()
              try {
                val clean = watched.forall { case (k, v) => versionOf(k) == v }
                watched = Map.empty
                if (clean) Resp.Arr(q.map(gated))
                else Resp.NullArr // a watched key moved: abort, apply nothing
              } finally txLock.writeLock.unlock()
            }
          case _ if txQueue != null =>
            txQueue += cmd
            Resp.Simple("QUEUED")
          case _ =>
            txLock.readLock.lock()
            try gated(cmd) finally txLock.readLock.unlock()
        }
      out.write(Resp.encodeValue(reply))
      // flush only when the pipeline drained — one syscall per client
      // batch, not per command (a per-reply flush caps the whole server
      // at socket-syscall rate); `available()` counts the commands
      // `Resp.Input` has buffered but not parsed yet
      if (in.available() == 0) out.flush()
    } catch {
      case DropConn => // injected fault: deliver buffered replies, then cut
        try out.flush() catch { case _: Throwable => () }
      case _: Throwable => ()
    } finally socket.close()
  }

  /** Which arg holds the key a command MUTATES (for WATCH versioning). */
  private def mutatedKeyIndex(name: String): Int = name match {
    case "XADD" | "SET" | "XTRIM" | "XACK" | "XDEL" => 1
    case "XGROUP" => 2
    case _ => -1
  }

  private def handle(args: Seq[Array[Byte]]): Resp.Value = {
    // decode+uppercase the command name ONCE per command — this wrapper,
    // the version bump and handle0's dispatch used to each redo it, three
    // String allocations per XADD on the producer hot path
    val name =
      if (args.isEmpty) "" else new String(args.head, UTF_8).toUpperCase
    // and the first argument (most commands' key) once: the redirect
    // checks, the handler and the version bump all read it
    val key1 = if (args.length > 1) new String(args(1), UTF_8) else null
    val out = handle0(name, key1, args)
    // a refused command (Err) mutated nothing; DropConn faults throw past
    // this point, so they bump nothing either
    if (!out.isInstanceOf[Resp.Err] && args.nonEmpty) {
      val idx = mutatedKeyIndex(name)
      if (idx > 0 && args.length > idx)
        bumpVersion(if (idx == 1) key1 else new String(args(idx), UTF_8))
    }
    out
  }

  private def handle0(name: String, key1: String,
      args: Seq[Array[Byte]]): Resp.Value = {
    def s(i: Int) =
      if (i == 1 && key1 != null) key1 else new String(args(i), UTF_8)
    if (args.length > 1 && redirects.contains(s(1)))
      return Resp.Err(s"MOVED 0 ${redirects(s(1))}")
    if (args.length > 1 && askRedirects.contains(s(1)))
      return Resp.Err(s"ASK 0 ${askRedirects(s(1))}")
    if (name == "XADD" && args.length > 1) {
      val b = bounceAfter.get(s(1))
      if (b.exists(_._1 <= 0))
        return Resp.Err(s"MOVED 0 ${b.get._2}")
      b.foreach { case (left, target) =>
        bounceAfter = bounceAfter.updated(s(1), (left - 1, target))
      }
    }
    // real redis's type fidelity, family-wide: EVERY stream command on a
    // key holding a string replies WRONGTYPE — never an empty range, a
    // silently-created group, or a served read (round-18 review; XADD
    // carries its own documented check in its handler). Multi-stream
    // XREAD/XREADGROUP refuse when ANY listed key is squatted (the
    // STREAMS tail is all keys then all ids, so the key block is its
    // first half); the key bytes are decoded only on a STREAMS hit so
    // the read hot path pays no extra full-arg render.
    def squatted: Boolean = name match {
      case "XRANGE" | "XREVRANGE" | "XAUTOCLAIM" | "XACK" | "XTRIM" |
          "XDEL" | "XLEN" | "XSETID" if args.length > 1 =>
        kv.containsKey(s(1))
      case "XGROUP" if args.length > 2 => kv.containsKey(s(2))
      case "XREAD" | "XREADGROUP" =>
        val si = streamsKeywordIndex(name, args)
        si >= 0 && si + 1 < args.length && {
          val nStreams = (args.length - si - 1) / 2
          (0 until nStreams).exists(j => kv.containsKey(s(si + 1 + j)))
        }
      case "XINFO" if args.length > 2 => kv.containsKey(s(2))
      case _ => false
    }
    name match {
      // connection-level faults fire BEFORE command semantics — a real
      // dropped connection never gets far enough to type-check the key
      case c0 if (c0 == "XRANGE" || c0 == "XREAD" || c0 == "XREADGROUP") &&
          takeFault(dropReads) => throw DropConn
      case _ if squatted =>
        return Resp.Err(
          "WRONGTYPE Operation against a key holding the wrong kind of value")
      case "XADD" if takeCountdown(dropXaddCountdown) => throw DropConn
      case "XADD" if takeFault(failXadds) => Resp.Err(failXaddError)
      case "ASKING" => Resp.Simple("OK")
      case "XADD" =>
        val key = s(1)
        // type fidelity both ways: XADD onto a key holding a string is
        // WRONGTYPE on real redis — silently creating a coexisting stream
        // would later make GET refuse a ledger read a real broker serves
        // (round-17 review)
        if (kv.containsKey(key))
          return Resp.Err(
            "WRONGTYPE Operation against a key holding the wrong kind of value")
        val idArg = s(2)
        // (field, value) pairs; a trailing unpaired field is dropped
        val fields = (3 until args.length - 1 by 2)
          .map(i => (new String(args(i), UTF_8), args(i + 1)))
        val buf = streams.computeIfAbsent(key, _ => mutable.ArrayBuffer.empty)
        // id resolution, the monotonicity CHECK, the append, and the
        // last-id bump are one atomic step per key (real redis is
        // single-threaded; concurrent XADDs must not interleave between
        // check and append, or the buffer's id order breaks)
        buf.synchronized {
          val top = topIdOf(key)
          val resolved: Either[Resp.Value, (Long, Long)] = idArg match {
            case "*" =>
              val ms = math.max(System.currentTimeMillis(), top.fold(0L)(_._1))
              Right((ms, if (top.exists(_._1 == ms)) top.get._2 + 1L else 0L))
            case spec if spec.endsWith("-*") =>
              // real redis REFUSES a `<ms>-*` whose ms sits below the
              // stream's top-item ms — it does NOT clamp (the clamp this
              // server used to apply hid the relay engines' whole
              // ms-floor/WATCH machinery from every embedded test)
              val ms = spec.dropRight(2).toLong
              if (top.exists(_._1 > ms)) Left(Resp.Err(XaddSmallerErr))
              else Right((ms,
                if (top.exists(_._1 == ms)) top.get._2 + 1L else 0L))
            case explicit =>
              // real redis accepts a bare ms as `<ms>-0` and REPLIES
              // (never drops the connection) on a malformed id — an
              // uncaught parse throw here would desync pipelined
              // clients and, inside an EXEC, half-apply the transaction
              val parsed: Option[(Long, Long)] =
                try {
                  if (explicit.indexOf('-') < 0) Some((explicit.toLong, 0L))
                  else Some(RedisStreams.parseEntryId(explicit))
                } catch { case _: IllegalArgumentException => None }
              parsed match {
                case None => Left(Resp.Err(
                  "ERR Invalid stream ID specified as stream command " +
                    "argument"))
                case Some((ms, seq)) =>
                  if (top.exists(t =>
                      t._1 > ms || (t._1 == ms && t._2 >= seq)))
                    Left(Resp.Err(XaddSmallerErr))
                  else Right((ms, seq))
              }
          }
          resolved match {
            case Left(err) => err
            case Right((ms, seq)) =>
              val id = s"$ms-$seq"
              buf += ((id, fields))
              lastMs.put(key, ms)
              subSeq.put(key, seq)
              Resp.Bulk(id.getBytes(UTF_8))
          }
        }
      case "XRANGE" =>
        val key = s(1)
        val start = s(2)
        val end = s(3)
        val count = args.map(new String(_, UTF_8)).indexOf("COUNT") match {
          case -1 => Int.MaxValue
          case i => new String(args(i + 1), UTF_8).toInt
        }
        // entries are id-ordered (monotonic XADD), so range bounds resolve
        // by binary search — paging a deep stream is O(log n + page), not a
        // linear id-parse scan per page; only the PAGE is copied out of
        // the lock, never the stream
        val bounded = withEntries(key) { all =>
          val lo = start match {
            case "-" => 0
            case excl if excl.startsWith("(") => searchAbove(all, excl.drop(1))
            case incl => searchAtOrAbove(all, incl)
          }
          val hi = end match {
            case "+" => all.length
            case excl if excl.startsWith("(") =>
              searchAtOrAbove(all, excl.drop(1))
            case incl => searchAbove(all, incl)
          }
          if (lo >= hi) Seq.empty
          else all.slice(lo,
            math.min(hi.toLong, lo.toLong + count).toInt).toList
        }
        Resp.Arr(bounded.map { case (id, fields) =>
          Resp.Arr(Seq(Resp.Bulk(id.getBytes(UTF_8)),
            Resp.Arr(fields.flatMap { case (f, v) =>
              Seq(Resp.Bulk(f.getBytes(UTF_8)), Resp.Bulk(v))
            })))
        })
      case "XREVRANGE" =>
        val key = s(1)
        val count = args.map(new String(_, UTF_8)).indexOf("COUNT") match {
          case -1 => Int.MaxValue
          case i => new String(args(i + 1), UTF_8).toInt
        }
        // tail-first without materializing a full reversed copy — the tip
        // probe (COUNT 1) runs per key per trigger, and per sub-epoch in
        // the EOS writers' floor reads: only the COUNT tail leaves the
        // lock
        Resp.Arr(withEntries(key)(_.takeRight(count).toList).reverse
          .map { case (id, fields) =>
          Resp.Arr(Seq(Resp.Bulk(id.getBytes(UTF_8)),
            Resp.Arr(fields.flatMap { case (f, v) =>
              Seq(Resp.Bulk(f.getBytes(UTF_8)), Resp.Bulk(v))
            })))
        })
      case "XGROUP" =>
        val gk = s"${s(2)}/${s(3)}"
        if (groupCursor.containsKey(gk))
          Resp.Err("BUSYGROUP Consumer Group name already exists")
        else {
          streams.computeIfAbsent(s(2), _ => mutable.ArrayBuffer.empty)
          val from = s(4) match {
            case "0" => "0-0"
            case "$" => withEntries(s(2))(_.lastOption.map(_._1))
              .getOrElse("0-0")
            case explicit => explicit
          }
          groupCursor.put(gk, from)
          Resp.Simple("OK")
        }
      case "XREADGROUP" =>
        // GROUP g c [COUNT n] [BLOCK ms] [NOACK] STREAMS key id — the
        // SAME positional walk as the squat type-check above, so a group
        // or consumer literally named "streams"/"count" cannot shift the
        // key block here while the guard parses it correctly
        val g = s(2); val consumer = s(3)
        val si = streamsKeywordIndex(name, args)
        if (si < 0 || si + 2 >= args.length)
          return Resp.Err("ERR syntax error")
        var count = Int.MaxValue
        var oi = 4
        while (oi < si) {
          s(oi).toUpperCase match {
            case "COUNT" => count = s(oi + 1).toInt; oi += 2
            case "BLOCK" => oi += 2
            case _ => oi += 1 // NOACK
          }
        }
        val key = s(si + 1)
        val idArg = s(si + 2)
        val gk = s"$key/$g"
        if (!groupCursor.containsKey(gk))
          return Resp.Err(
            s"NOGROUP No such consumer group '$g' for key name '$key'")
        val p = pel.computeIfAbsent(gk, _ => new ConcurrentHashMap[String, PelEntry]())
        val delivered: Seq[(String, Seq[(String, Array[Byte])])] =
          if (idArg == ">") {
            val cursor = Option(groupCursor.get(gk)).getOrElse("0-0")
            // only the delivered PAGE is copied out of the lock (the old
            // slice-to-end copied everything above the cursor per read)
            val fresh = withEntries(key) { all =>
              val lo = searchAbove(all, cursor)
              all.slice(lo,
                math.min(all.length.toLong, lo.toLong + count).toInt).toList
            }
            fresh.foreach { case (id, _) =>
              p.put(id, PelEntry(consumer, System.currentTimeMillis()))
              groupCursor.put(gk, id)
            }
            fresh
          } else {
            // pending read: this consumer's PEL entries above the given id
            withEntries(key)(_.filter { case (id, _) =>
              Option(p.get(id)).exists(_.consumer == consumer) &&
                (idArg == "0-0" || idArg == "0" || !idLeq(id, idArg))
            }.take(count).toList)
          }
        Resp.Arr(Seq(Resp.Arr(Seq(Resp.Bulk(key.getBytes(UTF_8)),
          Resp.Arr(delivered.map { case (id, fields) =>
            Resp.Arr(Seq(Resp.Bulk(id.getBytes(UTF_8)),
              Resp.Arr(fields.flatMap { case (f, v) =>
                Seq(Resp.Bulk(f.getBytes(UTF_8)), Resp.Bulk(v))
              })))
          })))))
      case "XAUTOCLAIM" =>
        // key group consumer min-idle start [COUNT n] — honors the real
        // command's min-idle rule (only entries idle >= min-idle move, and
        // claiming resets the idle clock) and the scan-start cursor (only
        // pending ids >= start are claimed).
        val key = s(1); val g = s(2); val consumer = s(3)
        val minIdle = s(4).toLong
        val start = if (args.length > 5) s(5) else "0-0"
        val gk = s"$key/$g"
        if (!groupCursor.containsKey(gk))
          return Resp.Err(
            s"NOGROUP No such consumer group '$g' for key name '$key'")
        val now = System.currentTimeMillis()
        val p = pel.computeIfAbsent(gk, _ => new ConcurrentHashMap[String, PelEntry]())
        val claimed = withEntries(key)(_.filter { case (id, _) =>
          Option(p.get(id)).exists(e => e.consumer != consumer &&
            now - e.deliveredAtMs >= minIdle) && !idLt(id, start)
        }.toList)
        claimed.foreach { case (id, _) => p.put(id, PelEntry(consumer, now)) }
        Resp.Arr(Seq(Resp.Bulk("0-0".getBytes(UTF_8)),
          Resp.Arr(claimed.map { case (id, fields) =>
            Resp.Arr(Seq(Resp.Bulk(id.getBytes(UTF_8)),
              Resp.Arr(fields.flatMap { case (f, v) =>
                Seq(Resp.Bulk(f.getBytes(UTF_8)), Resp.Bulk(v))
              })))
          }),
          Resp.Arr(Seq.empty)))
      case "XPENDING" =>
        // summary form: [count, min-id, max-id, [[consumer, count]...]]
        val gk = s"${s(1)}/${s(2)}"
        if (!groupCursor.containsKey(gk))
          return Resp.Err(
            s"NOGROUP No such consumer group '${s(2)}' for key name '${s(1)}'")
        val p = Option(pel.get(gk)).map(_.asScala.toMap).getOrElse(Map.empty)
        if (p.isEmpty)
          Resp.Arr(Seq(Resp.Num(0L), Resp.NullBulk, Resp.NullBulk,
            Resp.NullArr))
        else {
          val ids = p.keys.toSeq.sortWith(idLt)
          Resp.Arr(Seq(Resp.Num(p.size.toLong),
            Resp.Bulk(ids.head.getBytes(UTF_8)),
            Resp.Bulk(ids.last.getBytes(UTF_8)),
            Resp.Arr(p.values.map(_.consumer).groupBy(identity).toSeq
              .sortBy(_._1).map {
                case (c, xs) => Resp.Arr(Seq(Resp.Bulk(c.getBytes(UTF_8)),
                  Resp.Bulk(xs.size.toString.getBytes(UTF_8))))
              })))
        }
      case "CLUSTER" if args.length > 1 && s(1).toUpperCase == "SLOTS" =>
        Resp.Arr(slots.map { case (lo, hi, h, p) =>
          Resp.Arr(Seq(Resp.Num(lo.toLong), Resp.Num(hi.toLong),
            Resp.Arr(Seq(Resp.Bulk(h.getBytes(UTF_8)), Resp.Num(p.toLong)))))
        })
      case "XACK" =>
        val key = s"${s(1)}/${s(2)}"
        val ids = args.drop(3).map(new String(_, UTF_8))
        val set = acked.computeIfAbsent(key,
          _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
        Option(pel.get(key)).foreach(p => ids.foreach(p.remove))
        Resp.Num(ids.count(set.add).toLong)
      case "XTRIM" =>
        // XTRIM key MAXLEN [~] n | MINID [~] id — the `~` is a hint; this
        // server trims exactly
        val key = s(1)
        val strategy = s(2).toUpperCase
        val argIdx = if (s(3) == "~") 4 else 3
        withStream(key) { buf =>
          val before = buf.length
          strategy match {
            case "MAXLEN" =>
              val keep = s(argIdx).toLong
              if (buf.length > keep) buf.remove(0, (buf.length - keep).toInt)
            case "MINID" =>
              val minId = s(argIdx)
              while (buf.nonEmpty && idLt(buf.head._1, minId)) buf.remove(0)
            case _ => ()
          }
          Resp.Num((before - buf.length).toLong)
        }
      case "XDEL" =>
        // XDEL key id [id ...] — removes entries; the stream's last_id
        // (the XADD refusal bar) deliberately does NOT lower, matching
        // real redis
        val key = s(1)
        val ids = args.drop(2).map(new String(_, UTF_8)).toSet
        withStream(key) { buf =>
          val before = buf.length
          val kept = buf.filterNot(e => ids.contains(e._1))
          buf.clear()
          buf ++= kept
          Resp.Num((before - buf.length).toLong)
        }
      case "SCAN" =>
        // SCAN cursor [MATCH pat] [COUNT n] [TYPE t] — answers in one page
        // (cursor always returns 0); every key here is a stream
        val rendered = args.map(new String(_, UTF_8))
        val pat = rendered.indexOf("MATCH") match {
          case -1 => "*"
          case i => rendered(i + 1)
        }
        val rx = pat.split("\\*", -1)
          .map(java.util.regex.Pattern.quote).mkString(".*")
        val ks = streams.keySet.asScala.toSeq.filter(_.matches(rx)).sorted
        Resp.Arr(Seq(Resp.Bulk("0".getBytes(UTF_8)),
          Resp.Arr(ks.map(k => Resp.Bulk(k.getBytes(UTF_8))))))
      case "PING" => Resp.Simple("PONG")
      case "SET" =>
        // real redis SET replaces a key of ANY type: a squatted stream
        // under the name is DESTROYED, not shadowed — including its
        // last-id floor (XDEL preserves last_id, key replacement resets
        // it), its groups' cursors, PELs and acks. Leaving any sibling
        // alive would make the emulator refuse XADDs / reply BUSYGROUP
        // where a real broker would not (round-17 review).
        if (streams.remove(s(1)) != null) {
          lastMs.remove(s(1)); subSeq.remove(s(1))
          val prefix = s(1) + "/"
          groupCursor.keySet.removeIf(_.startsWith(prefix))
          pel.keySet.removeIf(_.startsWith(prefix))
          acked.keySet.removeIf(_.startsWith(prefix))
        }
        kv.put(s(1), args(2))
        Resp.Simple("OK")
      case "GET" =>
        // real redis's reply grammar: GET on a key holding a stream is a
        // type error, never nil — the EOS engines' ledger-read refusal
        // check depends on this fidelity (EosCommit, round-17 review)
        if (streams.containsKey(s(1)))
          Resp.Err("WRONGTYPE Operation against a key holding the wrong kind of value")
        else Option(kv.get(s(1))).map(Resp.Bulk(_): Resp.Value)
          .getOrElse(Resp.NullBulk)
      case "XINFO" if args.length > 2 && s(1).toUpperCase == "STREAM" =>
        // XINFO STREAM key — the fields the clamp probe needs: length and
        // last-generated-id (real redis's `last_id`, which XTRIM/XDEL do
        // NOT lower — the refusal bar a tip XREVRANGE cannot see on a
        // trimmed-empty stream)
        val key = s(2)
        if (!streams.containsKey(key))
          Resp.Err("ERR no such key")
        else {
          val (ms, seq) = topIdOf(key).getOrElse((0L, 0L))
          val len = withEntries(key)(_.length.toLong)
          Resp.Arr(Seq(
            Resp.Bulk("length".getBytes(UTF_8)), Resp.Num(len),
            Resp.Bulk("last-generated-id".getBytes(UTF_8)),
            Resp.Bulk(s"$ms-$seq".getBytes(UTF_8))))
        }
      case "XINFO" if args.length > 2 && s(1).toUpperCase == "GROUPS" =>
        // XINFO GROUPS key — real redis's flat field-value array per
        // group; the fields a resuming consumer needs: name,
        // last-delivered-id (the group cursor — the floor a fresh capped
        // group query clamps its first batch window to), pending
        val key = s(2)
        if (!streams.containsKey(key))
          Resp.Err("ERR no such key")
        else {
          import scala.jdk.CollectionConverters._
          val prefix = key + "/"
          val gs = groupCursor.asScala.toSeq
            .collect { case (gk, cursor) if gk.startsWith(prefix) =>
              (gk.stripPrefix(prefix), gk, cursor)
            }.sortBy(_._1)
          Resp.Arr(gs.map { case (g, gk, cursor) =>
            val p = Option(pel.get(gk)).map(_.asScala.toMap)
              .getOrElse(Map.empty)
            Resp.Arr(Seq(
              Resp.Bulk("name".getBytes(UTF_8)),
              Resp.Bulk(g.getBytes(UTF_8)),
              Resp.Bulk("consumers".getBytes(UTF_8)),
              Resp.Num(p.values.map(_.consumer).toSet.size.toLong),
              Resp.Bulk("pending".getBytes(UTF_8)),
              Resp.Num(p.size.toLong),
              Resp.Bulk("last-delivered-id".getBytes(UTF_8)),
              Resp.Bulk(cursor.getBytes(UTF_8))))
          })
        }
      case other => Resp.Err(s"ERR unknown command '$other'")
    }
  }

  /** Real redis's XADD refusal text, verbatim — callers pattern-match
    * error classes, so the wording is part of the fidelity contract. */
  private def XaddSmallerErr: String = EmbeddedRedis.XaddSmallerErr

  /** Positional STREAMS-keyword locator per the real grammar —
    * `XREAD [COUNT n] [BLOCK ms] STREAMS k... id...` /
    * `XREADGROUP GROUP g c [COUNT n] [BLOCK ms] [NOACK] STREAMS ...` —
    * so a group or consumer literally NAMED "streams" is never mistaken
    * for the keyword. -1 when absent or malformed.
    */
  private def streamsKeywordIndex(name: String,
      args: Seq[Array[Byte]]): Int = {
    var i = if (name == "XREADGROUP") 4 else 1
    while (i < args.length) {
      new String(args(i), UTF_8).toUpperCase match {
        case "COUNT" | "BLOCK" => i += 2
        case "NOACK" => i += 1
        case "STREAMS" => return i
        case _ => return -1
      }
    }
    -1
  }

  /** The stream's last-ASSIGNED id — real redis's `last_id`, which an
    * XDEL of the tip entry does NOT lower, so it lives in
    * [[lastMs]]/[[subSeq]] rather than being re-derived from the entry
    * buffer. Explicit-id XADDs bump it too (they used to bypass it).
    */
  private def topIdOf(key: String): Option[(Long, Long)] =
    Option(lastMs.get(key)).map(ms =>
      (ms.longValue, Option(subSeq.get(key)).fold(0L)(_.longValue)))

  /** First index whose id is >= `bound` (entries id-ordered). */
  private def searchAtOrAbove(
      all: collection.IndexedSeq[(String, Seq[(String, Array[Byte])])],
      bound: String): Int = {
    var lo = 0
    var hi = all.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (idLt(all(mid)._1, bound)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** First index whose id is strictly > `bound`. */
  private def searchAbove(
      all: collection.IndexedSeq[(String, Seq[(String, Array[Byte])])],
      bound: String): Int = {
    var lo = 0
    var hi = all.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (idLeq(all(mid)._1, bound)) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def idParts(id: String): (Long, Long) = RedisStreams.parseEntryId(id)
  private def idLt(a: String, b: String): Boolean = {
    val (am, as_) = idParts(a); val (bm, bs) = idParts(b)
    am < bm || (am == bm && as_ < bs)
  }
  private def idLeq(a: String, b: String): Boolean = a == b || idLt(a, b)

  override def close(): Unit = { closed = true; server.close() }
}

object EmbeddedRedis {
  /** Real redis's XADD refusal text, verbatim — one spelling shared by
    * the emulator's refusals, the producer's clamp recovery match, and
    * the specs that inject it.
    */
  val XaddSmallerErr: String =
    "ERR The ID specified in XADD is equal or smaller than the target " +
      "stream top item"
}
