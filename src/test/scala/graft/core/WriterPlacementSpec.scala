package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core.WriterPlacement.{Partitions, Shards, Streams}

/** The plain broker writers' placement: every destination gets exactly one
  * writer task, a stream's dense destinations get distinct tasks, and the
  * rule is a pure function of (stream_key, shard_id).
  */
class WriterPlacementSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSession.spark

  /** Shard k of stream "bulk" carries 100·(k+1) rows, so the per-task row
    * counts name the destinations a task holds.
    */
  private def bulk(): DataFrame = {
    import spark.implicits._
    (0 until 4).flatMap { k =>
      (0 until 100 * (k + 1)).map { i =>
        ("bulk", k.toLong, i.toLong, new java.sql.Timestamp(1000L + i),
          s"m$k-$i".getBytes(UTF_8))
      }
    }.toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
  }

  /** Rows read by each task of `write`'s shuffle-reading (writer) stages
    * that got any, ascending.
    */
  private def writerTaskRows(write: => Unit): Seq[Long] = {
    val sc = spark.sparkContext
    val key = "graft.placement.spec"
    val label = s"write-${System.nanoTime()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val rows = new ConcurrentLinkedQueue[Long]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `label` => stages.add(e.stageInfo.stageId)
          case l if l == label + "-fence" => fenced.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) Option(e.taskMetrics).foreach { m =>
          val n = m.shuffleReadMetrics.recordsRead
          if (n > 0) rows.add(n)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, label)
      write
      // one bus delivers events in order: once the marker job's stage is
      // seen, every task of the write has been counted
      sc.setLocalProperty(key, label + "-fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(30, TimeUnit.SECONDS), "listener did not drain")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    rows.asScala.toSeq.sorted
  }

  test("kafka write: 4 destination partitions are written by 4 tasks, " +
      "one destination each") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val srv = new graft.kafka.EmbeddedKafka
    try {
      val df = bulk()
      val got = writerTaskRows(
        graft.kafka.KafkaSource.write(df, srv.host, srv.port, partitions = 4))
      assert(got == Seq(100L, 200L, 300L, 400L), got)
      val back = graft.kafka.KafkaSource.boundedRead(spark, srv.host,
        srv.port, Seq("bulk"))
      assert(back.groupBy("shard_id").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap ==
        (0 until 4).map(k => (k.toLong, 100L * (k + 1))).toMap)
    } finally srv.close()
  }

  test("redis write: 4 shard keys are written by 4 tasks, one key each") {
    val srv = new graft.redis.EmbeddedRedis
    try {
      val df = bulk()
      val got = writerTaskRows(
        graft.redis.RedisSource.write(df, srv.host, srv.port))
      assert(got == Seq(100L, 200L, 300L, 400L), got)
      (0 until 4).foreach { k =>
        assert(srv.entries(s"bulk:$k").size == 100 * (k + 1))
      }
    } finally srv.close()
  }

  private val rnd = new scala.util.Random(0x5ea5)
  private val edgeShards = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue,
    Long.MinValue + 1, Long.MaxValue - 1, Int.MinValue.toLong,
    Int.MaxValue.toLong)
  private val streams = Seq("bulk", "", "a", "events", "ü-ström") ++
    Seq.fill(20)(rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
  private def shards: Seq[Long] = edgeShards ++ Seq.fill(30)(rnd.nextLong())
  private val allDests = (1 to 64).map(Partitions(_)) ++ Seq(Shards, Streams)

  test("law: every destination maps to one task id in [0, S)") {
    for (s <- 1 to 32; d <- allDests; st <- streams; sh <- shards) {
      val t = WriterPlacement.task(d, st, sh, s)
      assert(t >= 0 && t < s, s"$d $st/$sh at S=$s -> $t")
      // a destination's rows all share one task: every shard naming the
      // same destination is placed identically
      val (_, idx) = WriterPlacement.destination(d, st, sh)
      val twin = d match {
        case Partitions(n) => idx + n.toLong * (1 + rnd.nextInt(5))
        case Shards => idx
        case Streams => rnd.nextLong()
      }
      assert(WriterPlacement.destination(d, st, twin) == ((st, idx)))
      assert(WriterPlacement.task(d, st, twin, s) == t, s"$d $st/$sh~$twin")
    }
  }

  test("law: a stream's n <= S dense destinations map to n distinct ids") {
    for (s <- 1 to 32; st <- streams) {
      for (p <- 1 to 64) {
        val n = math.min(p, s)
        val ids = (0 until n).map(k =>
          WriterPlacement.task(Partitions(p), st, k.toLong, s))
        assert(ids.distinct.size == n, s"$st partitions=$p S=$s: $ids")
      }
      // runs of consecutive shard ids that do not wrap past Long.MaxValue
      for (base <- Seq(0L, -1L, -7L, Long.MinValue, Long.MaxValue - 32,
          Int.MinValue.toLong, Int.MaxValue.toLong) ++
          Seq.fill(5)(rnd.nextLong() >> 1)) {
        val n = 1 + rnd.nextInt(s)
        val ids = (0 until n).map(k =>
          WriterPlacement.task(Shards, st, base + k, s))
        assert(ids.distinct.size == n, s"$st shards $base+[0,$n) S=$s: $ids")
      }
    }
  }

  test("law: the kafka/iggy destination index is the writers' floorMod") {
    for (p <- 1 to 64; st <- streams.take(3); sh <- shards) {
      val (_, idx) = WriterPlacement.destination(Partitions(p), st, sh)
      assert(idx == math.floorMod(sh, p.toLong))
      assert(idx >= 0 && idx < p)
    }
  }

  test("the placement column puts each row on the task the law names") {
    import spark.implicits._
    val rows = for (st <- streams.take(8); sh <- shards.take(12))
      yield (st, sh, new java.sql.Timestamp(0L), Array.emptyByteArray)
    val df = rows.toDF("stream_key", "shard_id", "timestamp", "payload")
    for (s <- Seq(1, 3, 4, 7, 32); d <- Seq(Partitions(4), Partitions(5),
        Shards, Streams)) {
      val seen = WriterPlacement.placed(df, d, s)
        .mapPartitions(_.map(r => (r._1, r._2, TaskContext.getPartitionId())))
        .collect()
      assert(seen.length == rows.size)
      seen.foreach { case (st, sh, t) =>
        assert(t == WriterPlacement.task(d, st, sh, s), s"$d $st/$sh S=$s")
      }
    }
  }

  test("chunks: groups of at most `batch` consecutive rows, split by " +
      "destination in encounter order") {
    val ts = new java.sql.Timestamp(0L)
    val in = Seq(("a", 0L), ("a", 4L), ("b", 1L), ("a", 1L), ("a", 8L),
      ("b", 5L)).zipWithIndex.map { case ((st, sh), i) =>
        (st, sh, ts, Array(i.toByte)) }
    def seqs(cs: Iterator[((String, Long), Seq[WriterPlacement.Row])]) =
      cs.map { case (k, rs) => (k, rs.map(_._4.head.toInt)) }.toList
    assert(seqs(WriterPlacement.chunks(in.iterator, 4, Partitions(4))) ==
      List((("a", 0L), Seq(0, 1)), (("b", 1L), Seq(2)), (("a", 1L), Seq(3)),
        (("a", 0L), Seq(4)), (("b", 1L), Seq(5))))
    assert(seqs(WriterPlacement.chunks(in.iterator, 3, Streams)) ==
      List((("a", 0L), Seq(0, 1)), (("b", 0L), Seq(2)),
        (("a", 0L), Seq(3, 4)), (("b", 0L), Seq(5))))
    assert(seqs(WriterPlacement.chunks(in.iterator, 6, Shards)).map(_._1) ==
      List(("a", 0L), ("a", 4L), ("b", 1L), ("a", 1L), ("a", 8L), ("b", 5L)))
  }
}
