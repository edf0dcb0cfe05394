package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.SeaMessage
import graft.kafka.{EmbeddedKafka, KafkaClient}
import graft.ops.StreamJoin

/** `live-tail`: an open loop. One generator thread with one kafka
  * connection offers a fixed rate to two topics of four partitions each, in
  * 10 ms ticks; every record's timestamp is the time it was due. A
  * Structured Streaming query reads both topics through `kafka-wire` (the
  * source the facade's live kafka consumer resolves to), merges them with
  * `StreamJoin.gatedByKey` by shard, and a `foreachBatch` sink stamps each
  * batch's emission time. Latency runs from a message's due time to its
  * emission, for messages due inside the measured window, which starts
  * after a warmup.
  */
object LiveTail {
  val RatePerSecond = 20000
  val TickMs = 10
  val Partitions = 4
  val Topics = Seq("tail-a", "tail-b")
  // the trigger's cost keeps falling for ~10 s while the JIT warms; with a
  // 6 s warmup the median latency of runs on a 4-core VM spread twice as wide
  val WarmupMs = 15000L
  val CooldownMs = 1000L
  val PayloadPool = 1024

  /** Everything the sink and the checks keep about delivered messages. */
  private final class Delivery(offered: Map[(String, Int), mutable.ArrayBuffer[Long]]) {
    val nextOffset = mutable.Map.empty[(String, Int), Long]
    val lastTs = mutable.Map.empty[Long, Long]
    val latencyMs = mutable.ArrayBuffer.empty[Double]
    val batchEmitMs = mutable.ArrayBuffer.empty[(Long, Double)]
    var emitted = 0L
    var failed = 0L
    var windowFrom = Long.MaxValue
    var windowTo = Long.MaxValue

    def batch(id: Long, rows: Array[(String, Long, Long, java.sql.Timestamp)],
        emitMs: Double): Unit = synchronized {
      batchEmitMs += ((id, emitMs))
      rows.foreach { case (topic, shard, offset, ts) =>
        val key = (topic, shard.toInt)
        val want = nextOffset.getOrElse(key, 0L)
        if (offset != want) {
          failed += math.abs(offset - want)
          System.err.println(s"[perfbench] $topic/$shard emitted offset " +
            s"$offset, expected $want")
        }
        nextOffset(key) = math.max(want, offset + 1)
        if (ts.getTime < lastTs.getOrElse(shard, Long.MinValue)) {
          failed += 1
          System.err.println(s"[perfbench] shard $shard emitted ts " +
            s"${ts.getTime} after ${lastTs(shard)}")
        }
        lastTs(shard) = math.max(ts.getTime, lastTs.getOrElse(shard, Long.MinValue))
        val due = offered.synchronized(offered(key)(offset.toInt))
        if (due >= windowFrom && due < windowTo) latencyMs += emitMs - due
        emitted += 1
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val out = new Outcome
    val kafka = new EmbeddedKafka(autoCreatePartitions = Partitions)
    val offered: Map[(String, Int), mutable.ArrayBuffer[Long]] =
      (for (t <- Topics; p <- 0 until Partitions)
        yield (t, p) -> mutable.ArrayBuffer.empty[Long]).toMap
    val delivery = new Delivery(offered)
    val progress = new ProgressLog
    if (ctx.tracer.enabled) spark.streams.addListener(progress)
    val ckpt = new File(ctx.workDir, "live-tail-checkpoint")
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val payloads = Array.fill(PayloadPool) {
      val b = new Array[Byte](Bulk.PayloadBytes)
      var i = 0
      while (i < b.length) { b(i) = ('a' + rnd.nextInt(26)).toByte; i += 1 }
      b
    }
    val client = new KafkaClient(kafka.host, kafka.port)
    val probe = new KafkaClient(kafka.host, kafka.port)
    try {
      require(client.metadata(Topics).values.forall(_.size == Partitions),
        "topics did not get their partitions")
      val source = spark.readStream.format("kafka-wire")
        .option("host", kafka.host).option("port", kafka.port.toString)
        .option("topics", Topics.mkString(",")).option("startingOffsets", "earliest")
        .load().as[SeaMessage]
      val query = StreamJoin.gatedByKey(source, Topics, (m: SeaMessage) => m.shard_id)
        .writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (ds: Dataset[SeaMessage], id: Long) =>
          val rows = ds.select("stream_key", "shard_id", "sequence", "timestamp")
            .as[(String, Long, Long, java.sql.Timestamp)].collect()
          val now = java.time.Instant.now()
          delivery.batch(id, rows, now.getEpochSecond * 1000.0 + now.getNano / 1e6)
        }
        .start()

      // the generator: one tick every TickMs, sent late rather than skipped
      val perTick = RatePerSecond * TickMs / 1000
      val start = System.currentTimeMillis() + 500
      val windowFrom = start + WarmupMs
      val windowTo = windowFrom + ctx.seconds * 1000L
      val stopAt = windowTo + CooldownMs
      delivery.synchronized {
        delivery.windowFrom = windowFrom
        delivery.windowTo = windowTo
      }
      var lateMax = 0L
      var offeredN = 0L
      var backlogEnd = -1L
      var tick = 0L
      var due = start
      while (due < stopAt) {
        val now = System.currentTimeMillis()
        if (now < due) Thread.sleep(due - now)
        else if (due >= windowFrom && due < windowTo) lateMax = math.max(lateMax, now - due)
        val batch = Array.fill(perTick)(
          (Topics(rnd.nextInt(Topics.size)), rnd.nextInt(Partitions),
            payloads(rnd.nextInt(PayloadPool))))
        batch.groupBy(m => (m._1, m._2)).foreach { case ((t, p), ms) =>
          val base = client.produce(t, p, ms.toSeq.map(m => (due, null, m._3)))
          val log = offered((t, p))
          offered.synchronized {
            require(base == log.size, s"$t/$p: base offset $base after ${log.size}")
            ms.foreach(_ => log += due)
          }
          offeredN += ms.length
        }
        if (backlogEnd < 0 && due >= windowTo) {
          val tips = Topics.map(t => probe.latestOffsets(t, 0 until Partitions)
            .values.sum).sum
          backlogEnd = tips - delivery.synchronized(delivery.emitted)
        }
        tick += 1
        due = start + tick * TickMs
      }
      query.processAllAvailable()
      query.stop()
      query.exception.foreach(e => throw e)

      // every offered message is emitted once, except a tail that the gate
      // holds because the other topic of its shard has nothing buffered
      out.attempted = offeredN
      out.failed = delivery.failed
      (0 until Partitions).foreach { p =>
        val held = Topics.map(t => offered((t, p)).size -
          delivery.nextOffset.getOrElse((t, p), 0L))
        if (held.min != 0 || held.exists(_ < 0)) {
          out.failed += held.map(math.abs).min
          System.err.println(s"[perfbench] shard $p holds $held at stop")
        }
      }
      require(delivery.latencyMs.nonEmpty, "no message was emitted in the window")

      val lat = delivery.latencyMs.sorted.toIndexedSeq
      out.e2e("work_s") = (Stats.percentile(lat, 50) / 1000.0, "s")
      out.layer("latency_p50_ms") = (Stats.percentile(lat, 50), "ms")
      out.layer("latency_p99_ms") = (Stats.percentile(lat, 99), "ms")
      out.layer("live_tail.window_msgs") = (lat.size.toDouble, "count")
      out.layer("source.backlog_msgs_end") = (backlogEnd.toDouble, "count")
      out.layer("generator.late_ms_max") = (lateMax.toDouble, "ms")
      if (ctx.tracer.enabled) streamingMetrics(out, progress.all, delivery, windowFrom, windowTo)
    } finally {
      spark.streams.active.foreach(_.stop())
      if (ctx.tracer.enabled) spark.streams.removeListener(progress)
      client.close()
      probe.close()
      kafka.close()
      Files.deleteTree(ckpt)
    }
    out
  }

  /** Per-trigger costs of the batches emitted inside the measured window. */
  private def streamingMetrics(out: Outcome, all: Seq[StreamingQueryProgress],
      delivery: Delivery, from: Long, to: Long): Unit = {
    val inWindow = delivery.synchronized(delivery.batchEmitMs.toList)
      .collect { case (id, t) if t >= from && t < to => id }.toSet
    val ps = all.filter(p => inWindow.contains(p.batchId))
    require(ps.nonEmpty, "no progress report inside the window")
    def p50(f: StreamingQueryProgress => Double): Double =
      Stats.percentile(ps.map(f).sorted.toIndexedSeq, 50)
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    out.layer("streaming.batches") = (ps.size.toDouble, "count")
    out.layer("streaming.rows_per_batch_p50") = (p50(_.numInputRows.toDouble), "count")
    Seq("trigger_ms_p50" -> "triggerExecution", "latest_offset_ms_p50" -> "latestOffset",
      "get_batch_ms_p50" -> "getBatch", "query_planning_ms_p50" -> "queryPlanning",
      "add_batch_ms_p50" -> "addBatch", "wal_commit_ms_p50" -> "walCommit",
      "commit_offsets_ms_p50" -> "commitOffsets").foreach { case (name, key) =>
      out.layer(s"streaming.$name") = (p50(dur(key)), "ms")
    }
    val last = ps.maxBy(_.batchId)
    val ops = last.stateOperators
    out.layer("stream_join.state_rows") = (ops.map(_.numRowsTotal).sum.toDouble, "count")
    out.layer("stream_join.state_mb") = (ops.map(_.memoryUsedBytes).sum / 1e6, "MB")
    out.layer("stream_join.commit_ms_p50") =
      (p50(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
  }
}
