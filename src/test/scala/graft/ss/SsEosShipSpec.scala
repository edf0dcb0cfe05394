package graft.ss

import java.io.FileOutputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.core.SeaMessage
import graft.eos.{FileRelaySource, KafkaTxnDestination,
  RedisLedgerDestination, RelayDriver}
import graft.kafka.{EmbeddedKafka, KafkaClient}
import graft.redis.{EmbeddedRedis, RedisStreams}

/** Laws of the exactly-once `.ss` → broker shipper: the frame-exact byte
  * cursor anchors in the DESTINATION (group offsets staged in the kafka
  * transaction / a WATCH-fenced redis ledger), epochs are byte-capped,
  * torn live tails never ship, crash windows recover to exactly one
  * copy, and stream filtering consumes positions without shipping them.
  */
class SsEosShipSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** A two-stream file: 10 frames of `a` (shard 0/1 alternating) and 5 of
    * `b`, interleaved. Returns (path, writer kept open iff `live`).
    */
  private def writeFile(dir: String, name: String,
      live: Boolean = false): (String, SsWriter) = {
    val path = s"$dir/$name"
    val w = new SsWriter(new FileOutputStream(path), name, 1024, 0L)
    (0 until 15).foreach { i =>
      if (i % 3 == 2)
        w.write(SeaMessage("b", 0L, (i / 3).toLong, ts(2000L + i),
          s"b${i / 3}".getBytes("UTF-8")))
      else
        w.write(SeaMessage("a", (i % 3).toLong, (i * 2 / 3).toLong,
          ts(1000L + i), s"a$i".getBytes("UTF-8")))
    }
    w.flush()
    if (!live) w.close()
    (path, w)
  }

  private def committedValues(c: KafkaClient, topic: String): Seq[String] =
    (0 until 4).flatMap { p =>
      c.fetchIso(topic, p, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
    }

  test("kafka ship: byte-capped epochs, cursor staged in-txn, crash " +
      "before commit re-ships the same range, drained ships zero, " +
      "per-partition frame order survives") {
    val dir = Files.createTempDirectory("sseos").toFile.getAbsolutePath
    val (path, _) = writeFile(dir, "ship.ss")
    val k = new EmbeddedKafka
    val kc = new KafkaClient(k.host, k.port)
    try {
      kc.metadata(Seq("a_out", "b_out"))
      val spark0 = spark
      def ship(cap: Long, crash: Option[String] = None) =
        RelayDriver.once(spark0, FileRelaySource(Seq(path), cap, Some(4)),
          KafkaTxnDestination(k.host, k.port, "g_ship", "ship", _ + "_out",
            crashBeforeCommit = crash))
      // small byte cap: the first epoch ships a strict prefix
      val first = ship(cap = 200L)
      assert(first > 0L && first < 15L, s"cap must bound the epoch: $first")
      // crash after produce+stage, before commit: cursor holds, nothing
      // new becomes visible read_committed
      val mid = committedValues(kc, "a_out") ++ committedValues(kc, "b_out")
      graft.ops.Failpoints.arm("ship-crash")
      intercept[Exception](ship(cap = 200L, crash = Some("ship-crash")))
      assert(committedValues(kc, "a_out") ++ committedValues(kc, "b_out")
        == mid, "a crashed epoch leaked frames past the LSO")
      // drain the rest; a drained file ships zero
      val total = first + RelayDriver.all(spark0,
        FileRelaySource(Seq(path), 200L, Some(4)),
        KafkaTxnDestination(k.host, k.port, "g_ship", "ship", _ + "_out"))
      assert(total == 15L, s"shipped $total frames, want 15")
      assert(ship(cap = 1L << 20) == 0L, "a drained file must ship zero")
      // frame order per destination partition survives (a's shard 0 → p0)
      val a0 = kc.fetchIso("a_out", 0, 0L, readCommitted = true)._3
        .map(r => new String(r.value, "UTF-8"))
      assert(a0 == a0.sortBy(s => s.drop(1).toInt),
        s"per-partition order broken: $a0")
      assert(committedValues(kc, "b_out") == (0 until 5).map("b" + _))
    } finally { kc.close(); k.close() }
  }

  test("redis ship: WATCH-fenced cursor, crash before EXEC moves " +
      "nothing, non-monotonic frame timestamps clamp to keep redis ids " +
      "legal, stream filter consumes positions without shipping") {
    val dir = Files.createTempDirectory("sseos2").toFile.getAbsolutePath
    // deliberately NON-monotonic timestamps within one key
    val path = s"$dir/clamp.ss"
    val w = new SsWriter(new FileOutputStream(path), "clamp.ss", 1024, 0L)
    Seq(5000L, 4000L, 6000L, 3000L).zipWithIndex.foreach { case (ms, i) =>
      w.write(SeaMessage("c", 0L, i.toLong, ts(ms), s"c$i".getBytes("UTF-8")))
    }
    (0 until 3).foreach(i =>
      w.write(SeaMessage("skipme", 0L, i.toLong, ts(7000L + i),
        s"s$i".getBytes("UTF-8"))))
    w.close()
    val r = new EmbeddedRedis
    try {
      val spark0 = spark
      graft.ops.Failpoints.arm("rship-crash")
      intercept[Exception](RelayDriver.once(spark0,
        FileRelaySource(Seq(path), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "shipled", identity,
          crashBeforeCommit = Some("rship-crash"))))
      assert(r.entries(RedisStreams.shardedKey("c", 0L, true)).isEmpty &&
        r.kvGet("shipled:{clamp.ss}").isEmpty,
        "a crashed ship moved the ledger or leaked entries")
      // filtered ship: only stream c — skipme frames consume positions
      val moved = RelayDriver.all(spark0,
        FileRelaySource(Seq(path), 64L << 20, onlyStreams = Some(Set("c"))),
        RedisLedgerDestination(r.host, r.port, "shipled", identity))
      assert(moved == 4L, s"shipped $moved, want 4 (filtered)")
      assert(r.entries(RedisStreams.shardedKey("skipme", 0L, true)).isEmpty,
        "filtered frames must not ship")
      val got = r.entries(RedisStreams.shardedKey("c", 0L, true))
        .map(e => new String(e._2.head._2, "UTF-8"))
      assert(got == Seq("c0", "c1", "c2", "c3"),
        s"frame order must survive the ms clamp: $got")
      // the cursor sits at EOF: a re-ship (unfiltered now) ships nothing —
      // skipped positions were consumed, not deferred
      assert(RelayDriver.all(spark0, FileRelaySource(Seq(path), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "shipled", identity)) == 0L,
        "consumed positions re-shipped")
    } finally r.close()
  }

  test("redis destination safety: a pre-existing HIGHER destination tip " +
      "floors every shipped id (real redis would refuse a lower explicit " +
      "id inside EXEC while the cursor SET still landed); an EXEC element " +
      "refusal fails LOUD, never a silent cursor advance") {
    val dir = Files.createTempDirectory("sseos4").toFile.getAbsolutePath
    val path = s"$dir/floor.ss"
    val w = new SsWriter(new FileOutputStream(path), "floor.ss", 1024, 0L)
    (0 until 4).foreach(i => w.write(SeaMessage("f", 0L, i.toLong,
      ts(100L + i), s"f$i".getBytes("UTF-8"))))
    w.close()
    val r = new EmbeddedRedis
    val rc = new graft.redis.RedisClient(r.host, r.port)
    try {
      // the destination stream already holds an entry at ms 9999 — far
      // above every frame's ts
      val key = RedisStreams.shardedKey("f", 0L, sharded = true)
      rc.command(RedisStreams.xadd(key, 9999L, "pre".getBytes("UTF-8")): _*)
      assert(RelayDriver.all(spark, FileRelaySource(Seq(path), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "fl", identity)) == 4L)
      val ids = r.entries(key).map(_._1)
      assert(ids.length == 5 && ids.sliding(2).forall {
        case Seq(a, b) => RedisStreams.idCompare(a, b) < 0
        case _ => true
      }, s"ids must stay monotone above the pre-existing tip: $ids")
      assert(ids.tail.forall(id =>
        RedisStreams.parseEntryId(id)._1 >= 9999L),
        s"shipped ids must clamp to the destination floor: $ids")
      // element-level EXEC refusal: inject one XADD failure inside the
      // apply — the ship must throw, not report success
      val path2 = s"$dir/loud.ss"
      val w2 = new SsWriter(new FileOutputStream(path2), "loud.ss", 1024, 0L)
      w2.write(SeaMessage("g", 0L, 0L, ts(5L), "g0".getBytes("UTF-8")))
      w2.close()
      r.failXadds.set(1)
      val thrown = intercept[Exception] {
        RelayDriver.once(spark, FileRelaySource(Seq(path2), 64L << 20),
          RedisLedgerDestination(r.host, r.port, "fl2", identity))
      }
      assert(Iterator.iterate(thrown: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8).exists(t =>
          String.valueOf(t.getMessage).contains("EXEC element refused")),
        s"an EXEC element error must surface loud: $thrown")
    } finally { rc.close(); r.close() }
  }

  test("shared destination key across part files: a write landing on the " +
      "shared key between this file's floor read and its EXEC nils the " +
      "EXEC (the pre-scanned key set is WATCHed) — the retry recomputes " +
      "floors and every frame from every file lands exactly once, ids " +
      "monotone, never an in-EXEC refusal with an advanced cursor") {
    val dir = Files.createTempDirectory("sseosrace").toFile.getAbsolutePath
    // two part files carrying the SAME (stream, shard) — the layout
    // `format("ss")` produces whenever a stream spans partitions, and
    // the multi-writer hazard of the round-15 shipper
    def mk(name: String, tag: String): String = {
      val path = s"$dir/$name"
      val w = new SsWriter(new FileOutputStream(path), name, 1024, 0L)
      (0 until 8).foreach(i => w.write(SeaMessage("s", 0L, i.toLong,
        ts(1000L + i), s"$tag$i".getBytes("UTF-8"))))
      w.close(); path
    }
    val p1 = mk("one.ss", "x")
    val p2 = mk("two.ss", "y")
    val r = new EmbeddedRedis
    val inject = new graft.redis.RedisClient(r.host, r.port)
    try {
      // deterministic interleave: whichever task queues its MULTI first
      // gets a write on the shared key injected JUST before its EXEC —
      // standing in for the sibling file's commit landing in the window.
      // Pre-fix, real redis would refuse that task's lower `<ms>-*` ids
      // INSIDE the EXEC while its cursor SET landed, and the task retry
      // would then see cursor >= until and silently drop the frames.
      graft.ops.Failpoints.armHook("ship-race") { () =>
        inject.command(RedisStreams.xadd("s:0", 9999L,
          "foreign".getBytes("UTF-8")): _*); ()
      }
      val shipped = RelayDriver.once(spark,
        FileRelaySource(Seq(p1, p2), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "shrace", identity,
          raceBeforeExec = Some("ship-race")))
      assert(shipped == 16L, s"shipped $shipped frames, want 16 — loss")
      val entries = r.entries("s:0")
      val vals = entries.map(e => new String(e._2.head._2, "UTF-8"))
      assert(vals.count(_ == "foreign") == 1)
      // every frame of both files exactly once, in-file order preserved
      // (each file ships one ordered MULTI)
      assert(vals.filter(_.startsWith("x")) == (0 until 8).map("x" + _),
        s"file one lost/duplicated/reordered: $vals")
      assert(vals.filter(_.startsWith("y")) == (0 until 8).map("y" + _),
        s"file two lost/duplicated/reordered: $vals")
      val ids = entries.map(e => RedisStreams.parseEntryId(e._1))
      assert(ids == ids.sorted, s"non-monotone ids: $ids")
      // both cursors advanced to their file ends — the drain is complete
      assert(RelayDriver.once(spark, FileRelaySource(Seq(p1, p2), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "shrace", identity)) == 0L,
        "drained files must ship zero")
    } finally { inject.close(); r.close() }
  }

  test("cursor keys are file NAMES: colliding basenames across paths " +
      "refuse loud at plan time instead of aliasing one cursor") {
    val d1 = Files.createTempDirectory("sscol1").toFile.getAbsolutePath
    val d2 = Files.createTempDirectory("sscol2").toFile.getAbsolutePath
    Seq(d1, d2).foreach { d =>
      val w = new SsWriter(new FileOutputStream(s"$d/part-0.ss"),
        "part-0.ss", 1024, 0L)
      w.write(SeaMessage("x", 0L, 0L, ts(1L), "x".getBytes("UTF-8")))
      w.close()
    }
    val k = new EmbeddedKafka
    try {
      val e = intercept[IllegalArgumentException] {
        RelayDriver.all(spark, FileRelaySource(
            Seq(s"$d1/part-0.ss", s"$d2/part-0.ss"), 64L << 20, Some(4)),
          KafkaTxnDestination(k.host, k.port, "gcol", "col", identity))
      }
      assert(e.getMessage.contains("collide"), e.getMessage)
    } finally k.close()
  }

  test("live tail: a torn (incomplete) trailing frame never ships; " +
      "completing it unlocks exactly the tail") {
    val dir = Files.createTempDirectory("sseos3").toFile.getAbsolutePath
    val (path, w) = writeFile(dir, "live.ss", live = true)
    val k = new EmbeddedKafka
    val kc = new KafkaClient(k.host, k.port)
    try {
      val spark0 = spark
      val full = new java.io.File(path).length()
      // append a frame's prefix by truncating a copy: simulate the torn
      // tail a live appender leaves mid-write
      w.write(SeaMessage("a", 0L, 99L, ts(9999L),
        ("tail" + "x" * 40).getBytes("UTF-8")))
      w.flush()
      val torn = new java.io.File(path).length()
      val raf = new java.io.RandomAccessFile(path, "rw")
      try raf.setLength(full + (torn - full) / 2) finally raf.close()
      assert(RelayDriver.all(spark0,
        FileRelaySource(Seq(path), 64L << 20, Some(4)),
        KafkaTxnDestination(k.host, k.port, "g_lt", "lt", _ + "_lt")) == 15L,
        "the torn tail frame must not ship")
      // rewrite the tail frame completely; only it ships
      val w2 = SsWriter.append(path)
      w2.write(SeaMessage("a", 0L, 99L, ts(9999L),
        "tail-complete".getBytes("UTF-8")))
      w2.close()
      assert(RelayDriver.all(spark0,
        FileRelaySource(Seq(path), 64L << 20, Some(4)),
        KafkaTxnDestination(k.host, k.port, "g_lt", "lt", _ + "_lt")) == 1L,
        "completing the tail must unlock exactly the one tail frame")
    } finally { kc.close(); k.close() }
  }

  test("adaptive commit gate: contention is scoped per (host, port, " +
      "ledgerPrefix) — a key-disjoint ship job must not inherit another " +
      "job's serialized commits — and DECAYS after GateCalmCommits " +
      "nil-free commits, re-probing the ungated path (ADVICE r16)") {
    val keyA = ("gatehost", 1234, "jobA")
    val keyB = ("gatehost", 1234, "jobB")
    RedisLedgerDestination.noteShipNil(keyA)
    assert(RedisLedgerDestination.isGateContended(keyA), "a nil must gate its own job")
    assert(!RedisLedgerDestination.isGateContended(keyB),
      "a different ledgerPrefix on the same node must stay ungated")
    // decay: GateCalmCommits nil-free commits un-gate the destination
    (1 until RedisLedgerDestination.GateCalmCommits).foreach { _ =>
      RedisLedgerDestination.noteShipApplied(keyA)
      assert(RedisLedgerDestination.isGateContended(keyA),
        "decay must take the FULL calm window")
    }
    RedisLedgerDestination.noteShipApplied(keyA)
    assert(!RedisLedgerDestination.isGateContended(keyA),
      "a calm window must un-gate the destination")
    // a fresh nil re-gates immediately and resets the calm counter
    RedisLedgerDestination.noteShipNil(keyA)
    RedisLedgerDestination.noteShipApplied(keyA)
    assert(RedisLedgerDestination.isGateContended(keyA),
      "one applied commit after a nil must not un-gate")
  }

  test("file mappings: shards fold to floorMod(shard, partitions) in kafka " +
      "in frame order, a topic lacking a target partition refuses the " +
      "ship with nothing committed, and redis keeps the u64 shard whole") {
    val dir = Files.createTempDirectory("ssmap").toFile.getAbsolutePath
    val path = s"$dir/map.ss"
    val w = new SsWriter(new FileOutputStream(path), "map.ss", 1024, 0L)
    (0 until 24).foreach(i => w.write(SeaMessage("m", (i % 8).toLong,
      i.toLong, ts(1000L + i), s"m$i".getBytes("UTF-8"))))
    w.close()
    val k = new EmbeddedKafka
    val kc = new KafkaClient(k.host, k.port)
    try {
      assert(RelayDriver.all(spark,
        FileRelaySource(Seq(path), 64L << 20, Some(4)),
        KafkaTxnDestination(k.host, k.port, "g_map", "map", _ + "_p4")) == 24L)
      (0 until 4).foreach { p =>
        val got = kc.fetchIso("m_p4", p, 0L, readCommitted = true)._3
          .map(r => new String(r.value, "UTF-8"))
        val want = (0 until 24).filter(i => math.floorMod(i % 8, 4) == p)
          .map("m" + _)
        assert(got == want, s"partition $p: $got")
      }
    } finally { kc.close(); k.close() }
    val k2 = new EmbeddedKafka(autoCreatePartitions = 2)
    val kc2 = new KafkaClient(k2.host, k2.port)
    try {
      intercept[Exception](RelayDriver.all(spark,
        FileRelaySource(Seq(path), 64L << 20, Some(4)),
        KafkaTxnDestination(k2.host, k2.port, "g_map2", "map2", _ + "_p2")))
      assert((0 until 2).forall(p =>
        kc2.fetchIso("m_p2", p, 0L, readCommitted = true)._3.isEmpty),
        "a refused ship must commit no frame")
      assert(k2.committedOffset("g_map2", "map.ss", 0).isEmpty,
        "a refused ship must not move the cursor")
    } finally { kc2.close(); k2.close() }
    val big = s"$dir/big.ss"
    val w2 = new SsWriter(new FileOutputStream(big), "big.ss", 1024, 0L)
    w2.write(SeaMessage("u", 3000000000L, 0L, ts(5L), "u0".getBytes("UTF-8")))
    w2.close()
    val r = new EmbeddedRedis
    try {
      assert(RelayDriver.all(spark, FileRelaySource(Seq(big), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "mapled", identity)) == 1L)
      assert(r.entries("u:3000000000").map(e =>
        new String(e._2.head._2, "UTF-8")) == Seq("u0"))
    } finally r.close()
  }

  test("redis sub-epochs under a crash: a range past TxnBytes commits in " +
      "sub-epochs; a crash before the second EXEC leaves the ledger at a " +
      "frame boundary inside the range over exactly the first sub-epoch's " +
      "frames, and a re-run lands the rest once") {
    val dir = Files.createTempDirectory("sssub").toFile.getAbsolutePath
    val path = s"$dir/sub.ss"
    val w = new SsWriter(new FileOutputStream(path), "sub.ss", 1 << 16, 0L)
    val pad = "p" * (32 << 10)
    (0 until 320).foreach(i => w.write(SeaMessage("s", 0L, i.toLong,
      ts(1000L + i), s"$i:$pad".getBytes("UTF-8"))))
    w.close()
    val ends = {
      val rd = SsReader.open(path, verifyChecksum = false, skim = true)
      try rd.iterator.map(_.endOffset).toVector finally rd.close()
    }
    def values(r: EmbeddedRedis) = r.entries("s:0").map(e =>
      new String(e._2.head._2, "UTF-8").takeWhile(_ != ':').toInt)
    val r = new EmbeddedRedis
    try {
      graft.ops.Failpoints.armHook("sub-first-exec") { () =>
        graft.ops.Failpoints.arm("sub-crash")
      }
      intercept[Exception](RelayDriver.once(spark,
        FileRelaySource(Seq(path), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "subled", identity,
          crashBeforeCommit = Some("sub-crash"),
          raceBeforeExec = Some("sub-first-exec"))))
      val cursor = r.kvGet("subled:{sub.ss}").map(new String(_, "UTF-8").toLong)
      assert(cursor.exists(c => c > SsFormat.HeaderSize && c < ends.last),
        s"the first sub-epoch must land strictly inside the range: $cursor")
      assert(ends.contains(cursor.get),
        s"the ledger must hold a frame boundary: $cursor")
      val landed = ends.count(_ <= cursor.get)
      assert(values(r) == (0 until landed),
        s"the destination must hold exactly the first sub-epoch's frames")
      assert(RelayDriver.all(spark, FileRelaySource(Seq(path), 64L << 20),
        RedisLedgerDestination(r.host, r.port, "subled", identity)) ==
        320L - landed)
      assert(values(r) == (0 until 320), "the re-run lost or duplicated")
    } finally r.close()
  }
}
