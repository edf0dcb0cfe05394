package graft.ops

import graft.TestSession
import graft.core.SeaMessage
import org.scalatest.funsuite.AnyFunSuite

/** Orderings pinned by sea-streamer-fuse/src/lib.rs:196-313. */
class StreamJoinSpec extends AnyFunSuite {

  private def seq(key: String, items: Seq[Long]): Seq[SeaMessage] =
    items.map(i => SeaMessage(key, 0, i,
      new java.sql.Timestamp(i * 1000), Array.emptyByteArray))

  private def ks(ms: Seq[SeaMessage]): Seq[(String, Long)] =
    ms.map(m => (m.stream_key, m.sequence))

  test("mux 2 streams interleaved") {
    val got = StreamJoin.gatedBounded(
      seq("a", Seq(1, 3, 5, 7, 9)) ++ seq("b", Seq(2, 4, 6, 8, 10)),
      align = Seq("a", "b"))
    assert(ks(got) == Seq("a" -> 1L, "b" -> 2L, "a" -> 3L, "b" -> 4L,
      "a" -> 5L, "b" -> 6L, "a" -> 7L, "b" -> 8L, "a" -> 9L, "b" -> 10L))
  }

  test("mux 2 streams runs") {
    val got = StreamJoin.gatedBounded(
      seq("a", Seq(1, 2, 5, 8, 9)) ++ seq("b", Seq(3, 4, 6, 7, 10)),
      align = Seq("a", "b"))
    assert(ks(got) == Seq("a" -> 1L, "a" -> 2L, "b" -> 3L, "b" -> 4L,
      "a" -> 5L, "b" -> 6L, "b" -> 7L, "a" -> 8L, "a" -> 9L, "b" -> 10L))
  }

  test("mux 3 streams with tie broken by key") {
    val got = StreamJoin.gatedBounded(
      seq("a", Seq(1, 3, 5, 7, 9)) ++ seq("c", Seq(5)) ++
        seq("b", Seq(2, 4, 6, 8, 10)),
      align = Seq("a", "b", "c"))
    assert(ks(got) == Seq("a" -> 1L, "b" -> 2L, "a" -> 3L, "b" -> 4L,
      "a" -> 5L, "c" -> 5L, "b" -> 6L, "a" -> 7L, "b" -> 8L,
      "a" -> 9L, "b" -> 10L))
  }

  test("mux 4 streams") {
    val got = StreamJoin.gatedBounded(
      seq("a", Seq(1, 3)) ++ seq("d", Seq(5)) ++ seq("b", Seq(2, 4)) ++
        seq("c", Seq(3)),
      align = Seq("a", "b", "c", "d"))
    assert(ks(got) == Seq("a" -> 1L, "b" -> 2L, "a" -> 3L, "c" -> 3L,
      "b" -> 4L, "d" -> 5L))
  }

  test("streaming gated merge buffers until every aligned stream has data") {
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[SeaMessage]
    val q = StreamJoin.gated(input.toDS(), align = Seq("a", "b"))
      .writeStream.outputMode("append").format("memory")
      .queryName("fuse_gated_test").start()
    try {
      // only 'a' messages: gate must stay closed
      input.addData(seq("a", Seq(1, 3, 5)))
      q.processAllAvailable()
      assert(spark.table("fuse_gated_test").count() == 0)

      // 'b' arrives: everything up to the smaller head flushes
      input.addData(seq("b", Seq(2)))
      q.processAllAvailable()
      val got1 = spark.table("fuse_gated_test")
        .select("stream_key", "sequence").as[(String, Long)].collect().toSeq
      assert(got1 == Seq("a" -> 1L, "b" -> 2L))

      input.addData(seq("b", Seq(4, 6)))
      q.processAllAvailable()
      val got2 = spark.table("fuse_gated_test")
        .select("stream_key", "sequence").as[(String, Long)].collect().toSeq
      assert(got2 == Seq("a" -> 1L, "b" -> 2L, "a" -> 3L, "b" -> 4L, "a" -> 5L))
    } finally q.stop()
  }

  test("gatedByKey gates each group independently and in parallel") {
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    def sh(key: String, shard: Long, items: Seq[Long]): Seq[SeaMessage] =
      items.map(i => SeaMessage(key, shard, i,
        new java.sql.Timestamp(i * 1000), Array.emptyByteArray))

    val input = MemoryStream[SeaMessage]
    val q = StreamJoin
      .gatedByKey(input.toDS(), align = Seq("a", "b"), _.shard_id)
      .writeStream.outputMode("append").format("memory")
      .queryName("fuse_gated_keyed_test").start()
    try {
      // shard 0 has both aligned streams, shard 1 only 'a': shard 0's gate
      // opens while shard 1 stays closed — groups are independent
      input.addData(sh("a", 0, Seq(1, 3)) ++ sh("b", 0, Seq(2)) ++
        sh("a", 1, Seq(10, 11)))
      q.processAllAvailable()
      val got1 = spark.table("fuse_gated_keyed_test")
        .select("shard_id", "stream_key", "sequence")
        .as[(Long, String, Long)].collect().toSeq
      assert(got1 == Seq((0L, "a", 1L), (0L, "b", 2L)))

      // 'b' lands on shard 1: only shard 1 flushes, ordering within the
      // group matches the global gated law (a's queue drains, then the gate
      // closes with b=12 buffered — same retention rule as `gated`)
      input.addData(sh("b", 1, Seq(12)))
      q.processAllAvailable()
      val got2 = spark.table("fuse_gated_keyed_test")
        .select("shard_id", "stream_key", "sequence")
        .as[(Long, String, Long)].collect().toSeq
      assert(got2.drop(2) == Seq((1L, "a", 10L), (1L, "a", 11L)))
    } finally q.stop()
  }

  // NOTE on harness: with eviction on, the state operator reports
  // shouldRunAnotherBatch=true whenever the batch timestamp advances
  // (processing-time timers must get a chance to fire), so the engine never
  // signals noNewData and StreamingQuery.processAllAvailable would block
  // FOREVER. These tests therefore poll the memory sink with deadlines —
  // the same reason Spark's own timeout suites drive a manual clock.
  private def pollUntil(deadlineMs: Long)(done: => Boolean): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!done && System.currentTimeMillis() < end) Thread.sleep(100)
  }

  test("idle eviction drains a never-aligning group and keeps the stream live") {
    // the one remaining unbounded-at-scale spot with eviction OFF: a group
    // gated on a key that never arrives grows state forever. With the knob
    // ON, the gate releases after the idle timeout — buffered messages
    // drain in end-of-stream order (bounded state, no data loss) and later
    // traffic keeps flowing. OFF stays strict reference parity (the
    // existing gating tests + t3/t8 oracles, which never time out).
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    def sh(key: String, shard: Long, items: Seq[Long]): Seq[SeaMessage] =
      items.map(i => SeaMessage(key, shard, i,
        new java.sql.Timestamp(i * 1000), Array.emptyByteArray))

    val input = MemoryStream[SeaMessage]
    val q = StreamJoin
      .gatedByKey(input.toDS(), align = Seq("a", "b"), _.shard_id,
        evictAfter = Some(java.time.Duration.ofSeconds(2)))
      .writeStream.outputMode("append").format("memory")
      .queryName("fuse_evict_test").start()
    def rows() = spark.table("fuse_evict_test")
      .select("shard_id", "stream_key", "sequence")
      .as[(Long, String, Long)].collect().toSeq
    try {
      // shard 0: only 'a' arrives — gate holds while the idle timer runs
      val t0 = System.currentTimeMillis()
      input.addData(sh("a", 0, Seq(1, 3)))
      Thread.sleep(300)
      // hold-assert only while provably inside the 2 s idle window — on a
      // stalled CI host the timer may legitimately have fired already
      if (System.currentTimeMillis() - t0 < 1500)
        assert(rows().isEmpty, "gate must hold before the idle timeout")

      // the idle timer fires ~2 s after the arrival batch: the gate
      // releases and the buffer drains in end-of-stream (ts, key) order
      pollUntil(30000)(rows().count(_._1 == 0L) == 2)
      assert(rows().filter(_._1 == 0L) == Seq((0L, "a", 1L), (0L, "a", 3L)),
        s"evicted group must drain in order, got ${rows()}")

      // the stream is still live after eviction: aligned traffic on
      // another shard flows straight through
      input.addData(sh("a", 7, Seq(10)) ++ sh("b", 7, Seq(11)))
      pollUntil(30000)(rows().exists(_._1 == 7L))
      assert(rows().filter(_._1 == 7L) == Seq((7L, "a", 10L)),
        s"live traffic must keep emitting, got ${rows()}")

      // a later arrival rebuilds the evicted group from empty: it gates
      // afresh, then the next idle timeout drains it again — the
      // bound-state cycle repeats forever
      input.addData(sh("a", 0, Seq(20)))
      pollUntil(30000)(rows().count(_._1 == 0L) == 3)
      assert(rows().filter(_._1 == 0L).last == ((0L, "a", 20L)),
        s"rebuilt group must gate afresh and evict again, got ${rows()}")
    } finally q.stop()
  }

  test("idle eviction at oracle scale matches gatedBounded's prediction") {
    // VERDICT r10 #7: the eviction knob under the hash-compare gate. The
    // events table's click/view envelope feeds the gate with 'view'
    // REMOVED for shards 0 and 1 — those groups hold a never-arriving
    // aligned key and can only drain via the idle timer. After the full
    // drain, every shard's emitted (key, seq) sequence must equal
    // gatedBounded's prediction over that shard's (ts, key, seq)-sorted
    // messages: eviction bounds STATE — it must not lose data, duplicate,
    // or reorder the drain, on real oracle-scale input.
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val msgs = graft.analytics.Tables(spark, TestSession.sfDir).events
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("stream_key"),
        pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
        col("event_id").as("sequence"), col("ts").as("timestamp"),
        lit(Array.emptyByteArray).as("payload"))
      .as[SeaMessage].collect().toSeq
      .filterNot(m => m.stream_key == "view" && m.shard_id < 2)
    assert(msgs.nonEmpty && msgs.exists(_.shard_id < 2))
    val input = MemoryStream[SeaMessage]
    val q = StreamJoin
      .gatedByKey(input.toDS(), align = Seq("click", "view"), _.shard_id,
        evictAfter = Some(java.time.Duration.ofSeconds(2)))
      .writeStream.outputMode("append").format("memory")
      .queryName("fuse_evict_oracle").start()
    try {
      input.addData(msgs)
      def emitted() = spark.table("fuse_evict_oracle")
        .select("shard_id", "stream_key", "sequence")
        .as[(Long, String, Long)].collect().toSeq
      pollUntil(120000)(emitted().size == msgs.size)
      val got = emitted()
      assert(got.size == msgs.size,
        s"eviction drain lost data: ${got.size} of ${msgs.size}")
      (0L until 4L).foreach { sh =>
        val pred = StreamJoin.gatedBounded(
          msgs.filter(_.shard_id == sh)
            .sortBy(m => (m.timestamp.getTime, m.stream_key, m.sequence)),
          align = Seq("click", "view"))
          .map(m => (m.stream_key, m.sequence))
        assert(got.filter(_._1 == sh).map(t => (t._2, t._3)) == pred,
          s"shard $sh drain diverges from gatedBounded's prediction")
      }
    } finally q.stop()
  }

  test("batch merge equals global (ts, key, seq) order") {
    val spark = TestSession.spark
    import spark.implicits._
    val df = (seq("a", Seq(1, 3, 5)) ++ seq("b", Seq(2, 4))).toDF()
    val got = StreamJoin.merge(Seq(df))
      .select("stream_key", "sequence").as[(String, Long)].collect().toSeq
    assert(got == Seq("a" -> 1L, "b" -> 2L, "a" -> 3L, "b" -> 4L, "a" -> 5L))
  }
}
