package graft.redis

import org.scalatest.funsuite.AnyFunSuite

import graft.eos.{RedisLedgerDestination, RedisRelaySource, RelayDriver}

/** Laws of the exactly-once Redis→Redis pump: destination-anchored
  * cursor (packed source entry id in a destination ledger key), entries
  * + cursor atomic in one WATCH-fenced MULTI/EXEC, crash-before-EXEC
  * recovery, rival-attempt fencing via the watched ledger, and hash-tag
  * co-slotting for the cluster form.
  */
class RedisEosPumpSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def seed(rc: RedisClient, stream: String, shard: Long,
      vals: Seq[(Long, String)]): Unit = {
    val key = RedisStreams.shardedKey(stream, shard, sharded = true)
    vals.foreach { case (ms, v) =>
      rc.command(RedisStreams.xadd(key, ms, v.getBytes("UTF-8")): _*)
    }
  }

  private def values(srv: EmbeddedRedis, stream: String,
      shard: Long): Seq[String] =
    srv.entries(RedisStreams.shardedKey(stream, shard, sharded = true))
      .map(e => new String(e._2.head._2, "UTF-8"))

  test("pump relays cap-bounded epochs across servers; entries + cursor " +
      "commit atomically, a crash before EXEC moves nothing, the drain " +
      "resumes off the destination ledger alone, order survives") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    val src = new RedisClient(a.host, a.port)
    try {
      val vals = (0 until 20).map(i => s"m$i")
      // two milliseconds of ids — sub-seq packing and rollover under gate
      seed(src, "s", 0L, vals.zipWithIndex.map {
        case (v, i) => (1000L + i / 10, v)
      })
      val spark0 = spark
      def pump(crash: Option[String]) =
        RelayDriver.once(spark0,
          RedisRelaySource(a.host, a.port, Seq(("s", 0L)), cap = 6L),
          RedisLedgerDestination(b.host, b.port, "pmp", _ => "d",
            crashBeforeCommit = crash))
      def ledger = b.kvGet("pmp:{s/0}").map(new String(_, "UTF-8").toLong)
      assert(pump(None) == 6L, "cap must bound the epoch")
      assert(ledger.contains(RedisStreams.packSeqNo(1000L, 5L) + 1L),
        s"cursor $ledger is not packed(last of epoch 1) + 1")
      assert(values(b, "d", 0L) == vals.take(6))
      // crash with the MULTI queued, before EXEC: the connection takes
      // the queue with it — no entries, cursor holds
      graft.ops.Failpoints.arm("pmp-crash")
      intercept[Exception](pump(Some("pmp-crash")))
      assert(values(b, "d", 0L) == vals.take(6) &&
        ledger.contains(RedisStreams.packSeqNo(1000L, 5L) + 1L),
        "a crashed epoch moved the ledger or leaked entries")
      val moved = RelayDriver.all(spark0,
        RedisRelaySource(a.host, a.port, Seq(("s", 0L)), cap = 6L),
        RedisLedgerDestination(b.host, b.port, "pmp", _ => "d"))
      assert(moved == 14L, s"drain pumped $moved, expected 14")
      assert(pump(None) == 0L, "a drained source must pump nothing")
      assert(values(b, "d", 0L) == vals,
        "pump lost, duplicated, or reordered records")
      // the source server never grew destination state (separate ends)
      assert(a.entries(RedisStreams.shardedKey("d", 0L, true)).isEmpty)
      // ledger hash-tags co-slot with the braced pair (cluster discipline)
      assert(RedisCluster.hashSlot("pmp:{s/0}") ==
        RedisCluster.hashSlot("s/0"))
    } finally { src.close(); a.close(); b.close() }
  }

  test("rival fencing: an attempt whose MULTI is queued loses to a rival " +
      "that commits first — its EXEC nils out against the watched ledger " +
      "and applies nothing; exactly one copy lands") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    val src = new RedisClient(a.host, a.port)
    val zombie = new RedisClient(b.host, b.port)
    try {
      seed(src, "z", 0L, Seq((5000L, "only")))
      val spark0 = spark
      // the zombie attempt: WATCH the ledger, read the cursor, queue its
      // XADD + SET — then stall (a speculative task, or a first attempt
      // Spark deemed dead whose connection survived)
      val ledger = "zp:{z/0}"
      zombie.command(RedisStreams.watch(ledger): _*)
      assert(zombie.command(RedisStreams.get(ledger): _*) == Resp.NullBulk,
        "the ledger must not exist before any attempt commits")
      zombie.command(RedisStreams.multi: _*)
      zombie.command(RedisStreams.xadd(
        RedisStreams.shardedKey("zd", 0L, true), 5000L,
        "zombie-copy".getBytes("UTF-8")): _*)
      zombie.command(RedisStreams.set(ledger,
        (RedisStreams.packSeqNo(5000L, 0L) + 1L).toString): _*)
      // the retry runs the whole protocol and commits
      assert(RelayDriver.once(spark0,
        RedisRelaySource(a.host, a.port, Seq(("z", 0L))),
        RedisLedgerDestination(b.host, b.port, "zp", _ => "zd")) == 1L)
      // the zombie's EXEC nils out — the watched ledger moved
      assert(zombie.command(RedisStreams.exec: _*) == Resp.NullArr,
        "the rival's EXEC must nil out against the moved ledger")
      assert(values(b, "zd", 0L) == Seq("only"),
        "fencing leaked a duplicate copy")
      // and a replay pass skips off the committed cursor
      assert(RelayDriver.once(spark0,
        RedisRelaySource(a.host, a.port, Seq(("z", 0L))),
        RedisLedgerDestination(b.host, b.port, "zp", _ => "zd")) == 0L)
    } finally { src.close(); zombie.close(); a.close(); b.close() }
  }

  test("nil'd EXEC re-runs the body: a rival that commits a SHORTER " +
      "range between the cursor read and EXEC is absorbed, the retry " +
      "relays only the remainder — no loss, no duplicates") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    val src = new RedisClient(a.host, a.port)
    try {
      val vals = (0 until 6).map(i => s"n$i")
      seed(src, "nr", 0L, vals.zipWithIndex.map { case (v, i) => (7000L + i, v) })
      // the rival: commits entries [0, 2) plus the matching cursor in its
      // own transaction between the pump's cursor read and its EXEC —
      // exactly what a killed-but-alive task of an earlier epoch (planned
      // at an older, shorter tip) does. The pump's EXEC must nil, and a
      // plain "skip" would LOSE entries [2, 6): the retry has to re-read
      // and relay the remainder.
      graft.ops.Failpoints.armHook("nr-race") { () =>
        val rival = new RedisClient(b.host, b.port)
        try {
          rival.command(RedisStreams.multi: _*)
          (0 until 2).foreach(i => rival.command(RedisStreams.xadd(
            RedisStreams.shardedKey("nd", 0L, true), 7000L + i,
            s"n$i".getBytes("UTF-8")): _*))
          rival.command(RedisStreams.set("np:{nr/0}",
            (RedisStreams.packSeqNo(7001L, 0L) + 1L).toString): _*)
          rival.command(RedisStreams.exec: _*)
          ()
        } finally rival.close()
      }
      val moved = RelayDriver.once(spark,
        RedisRelaySource(a.host, a.port, Seq(("nr", 0L))),
        RedisLedgerDestination(b.host, b.port, "np", _ => "nd",
          raceAfterRead = Some("nr-race")))
      assert(moved == 4L,
        s"retry must relay exactly the remainder (4), moved $moved")
      assert(values(b, "nd", 0L) == vals,
        "the nil-retry lost, duplicated, or reordered records")
      assert(RelayDriver.once(spark,
        RedisRelaySource(a.host, a.port, Seq(("nr", 0L))),
        RedisLedgerDestination(b.host, b.port, "np", _ => "nd")) == 0L)
    } finally { src.close(); a.close(); b.close() }
  }

  test("same-server pump: streamOf must steer to a different stream; " +
      "cursors are per (stream, shard) so multi-shard drains interleave " +
      "independently") {
    val srv = new EmbeddedRedis
    val rc = new RedisClient(srv.host, srv.port)
    try {
      seed(rc, "m", 0L, Seq((1L, "a0"), (2L, "a1"), (3L, "a2")))
      seed(rc, "m", 1L, Seq((1L, "b0"), (2L, "b1")))
      val spark0 = spark
      val moved = RelayDriver.all(spark0,
        RedisRelaySource(srv.host, srv.port, Seq(("m", 0L), ("m", 1L)),
          cap = 2L),
        RedisLedgerDestination(srv.host, srv.port, "mp", _ + "_mirror"))
      assert(moved == 5L, s"pumped $moved, expected 5")
      assert(values(srv, "m_mirror", 0L) == Seq("a0", "a1", "a2"))
      assert(values(srv, "m_mirror", 1L) == Seq("b0", "b1"))
      // per-shard cursors landed independently
      assert(srv.kvGet("mp:{m/0}").isDefined &&
        srv.kvGet("mp:{m/1}").isDefined)
    } finally { rc.close(); srv.close() }
  }

  test("foreign writer between the floor read and EXEC: the destination " +
      "key is WATCHed, so the EXEC nils BEFORE anything applies and the " +
      "retry recomputes the floor — every source entry lands exactly " +
      "once above the foreign tip, never an in-EXEC id refusal with an " +
      "advanced cursor (the silent-loss race a task retry would erase)") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    val src = new RedisClient(a.host, a.port)
    val foreign = new RedisClient(b.host, b.port)
    try {
      seed(src, "fx", 0L, (0 until 5).map(i => (3000L + i, s"p$i")))
      // with the MULTI fully queued (floors already read), a FOREIGN
      // client pushes the destination tip far above the queued ids —
      // real redis would refuse every queued XADD inside the EXEC while
      // the cursor SET landed; the WATCH on the destination key must nil
      // the whole transaction instead
      graft.ops.Failpoints.armHook("pump-foreign") { () =>
        foreign.command(RedisStreams.xadd(
          RedisStreams.shardedKey("fd", 0L, sharded = true), 9000L,
          "foreign".getBytes("UTF-8")): _*); ()
      }
      val moved = RelayDriver.once(spark,
        RedisRelaySource(a.host, a.port, Seq(("fx", 0L))),
        RedisLedgerDestination(b.host, b.port, "fpx", _ => "fd",
          raceBeforeExec = Some("pump-foreign")))
      assert(moved == 5L, s"retry must land all 5 entries, moved $moved")
      val entries = b.entries(RedisStreams.shardedKey("fd", 0L, true))
      assert(entries.map(e => new String(e._2.head._2, "UTF-8")) ==
        "foreign" +: (0 until 5).map("p" + _),
        s"exactly-once violated: $entries")
      val ids = entries.map(e => RedisStreams.parseEntryId(e._1))
      assert(ids == ids.sorted && ids.drop(1).forall(_._1 == 9000L),
        s"retry must clamp above the 9000 foreign tip: $ids")
    } finally { src.close(); foreign.close(); a.close(); b.close() }
  }

  test("sub-seq saturation fails LOUD: an entry at/above 0xFFFF in one " +
      "millisecond would alias the packed cursor (duplicates AND loss), " +
      "so the pump refuses it — at the planning tip probe and on any " +
      "mid-range relayed entry") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    val src = new RedisClient(a.host, a.port)
    try {
      def xaddExplicit(key: String, id: String): Unit = {
        src.command(Seq("XADD", key, id, "msg", "v")
          .map(_.getBytes("UTF-8")): _*); ()
      }
      // tip itself saturated → the PLAN probe refuses
      xaddExplicit("st:0", "5-65535")
      val e1 = intercept[IllegalStateException](
        RelayDriver.once(spark,
          RedisRelaySource(a.host, a.port, Seq(("st", 0L))),
          RedisLedgerDestination(b.host, b.port, "sp", _ => "sd")))
      assert(e1.getMessage.contains("saturates"), e1.getMessage)
      // saturated entry BEHIND a healthy tip → the task-side per-entry
      // guard refuses (the tip probe alone would miss it)
      xaddExplicit("sm:0", "5-65535")
      xaddExplicit("sm:0", "7-0")
      val e2 = intercept[Exception](
        RelayDriver.once(spark,
          RedisRelaySource(a.host, a.port, Seq(("sm", 0L))),
          RedisLedgerDestination(b.host, b.port, "sp2", _ => "sd")))
      assert(e2.getMessage != null && (e2.getMessage.contains("saturates")
        || Option(e2.getCause).exists(_.getMessage.contains("saturates"))),
        s"mid-range saturation must refuse loud: $e2")
      // nothing landed, no cursor advanced — the refusal is pre-commit
      assert(b.entries(RedisStreams.shardedKey("sd", 0L, true)).isEmpty)
      assert(b.kvGet("sp2:{sm/0}").isEmpty)
    } finally { src.close(); a.close(); b.close() }
  }

  test("sustained foreign contention: the commit batch SHRINKS " +
      "geometrically until its watch window fits between foreign " +
      "appends — the pump completes exactly-once instead of tripping " +
      "the nil bound (the round-16 livelock class)") {
    val a = new EmbeddedRedis
    val b = new EmbeddedRedis
    val src = new RedisClient(a.host, a.port)
    val foreign = new RedisClient(b.host, b.port)
    try {
      seed(src, "sc", 0L, (0 until 40).map(i => (3000L + i, s"e$i")))
      val dstKey = RedisStreams.shardedKey("sd", 0L, sharded = true)
      // the hook RE-ARMS itself: every pre-EXEC window gets a foreign
      // append for the first 6 attempts — a one-shot rival could not
      // exercise the shrink path
      var pushes = 0
      def hook(): Unit = {
        if (pushes < 6) {
          pushes += 1
          foreign.command(RedisStreams.xadd(dstKey, 9000L + pushes,
            s"f$pushes".getBytes("UTF-8")): _*)
          graft.ops.Failpoints.armHook("pump-contend")(() => hook())
        }
      }
      graft.ops.Failpoints.armHook("pump-contend")(() => hook())
      val moved = RelayDriver.once(spark,
        RedisRelaySource(a.host, a.port, Seq(("sc", 0L))),
        RedisLedgerDestination(b.host, b.port, "scp", _ => "sd",
          raceBeforeExec = Some("pump-contend")))
      assert(moved == 40L, s"all 40 must land despite contention: $moved")
      val vals = b.entries(dstKey)
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(vals.filter(_.startsWith("e")) == (0 until 40).map("e" + _),
        s"exactly-once order violated: $vals")
      assert(vals.count(_.startsWith("f")) == pushes)
      val ids = b.entries(dstKey).map(e => RedisStreams.parseEntryId(e._1))
      assert(ids == ids.sorted, s"non-monotone ids: $ids")
      // the cursor reads drained
      assert(RelayDriver.once(spark,
        RedisRelaySource(a.host, a.port, Seq(("sc", 0L))),
        RedisLedgerDestination(b.host, b.port, "scp", _ => "sd")) == 0L)
    } finally { src.close(); foreign.close(); a.close(); b.close() }
  }
}
