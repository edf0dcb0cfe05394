package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kafka.{EmbeddedKafka, KafkaEosRelay, KafkaSource}
import graft.redis.{EmbeddedRedis, RedisSource}
import perfbench.Stats.Checksum

/** `bulk-transport`: a closed loop with one caller, the reference
  * benchmark's producer / consumer / relay shape. Each pass moves the same
  * seeded messages through kafka, redis and `.ss` files (produce, then a
  * bounded consume) and then through the kafka-to-kafka exactly-once relay,
  * against embedded servers started fresh for that pass. The first
  * `WarmupPasses` passes warm the JIT and are not counted; measured passes
  * repeat until the run's time is spent. A pass's time is the sum of its
  * phases; `work_s` is the median pass, and each phase reports its median.
  */
object Bulk {
  val Messages = 100000
  // passes keep getting faster for the first few while the JIT warms
  val WarmupPasses = 5
  val Shards = 4
  val PayloadBytes = 256
  val Stream = "bulk"
  val Phases = Seq("kafka_produce", "kafka_consume", "redis_produce",
    "redis_consume", "ss_produce", "ss_consume", "eos_relay")

  /** The seeded messages: 256-byte payloads and shard ids are functions of
    * (seed, message index); timestamps ascend with the index.
    */
  def input(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val h = sha2(concat_ws(":", lit(seed.toString), col("id").cast("string")), 512)
    spark.range(n).select(
      lit(Stream).as("stream_key"),
      pmod(xxhash64(lit(seed), col("id")), lit(Shards.toLong)).as("shard_id"),
      col("id").as("sequence"),
      timestamp_millis(lit(1700000000000L) + col("id")).as("timestamp"),
      concat(h, reverse(h)).cast("binary").as("payload"))
  }

  /** Checksum of a frame's (stream, shard, payload) rows; computing it reads
    * every row, so it is also the consume phase's materialization.
    */
  def checksum(df: DataFrame): Checksum = {
    import df.sparkSession.implicits._
    df.select(col("stream_key"), col("shard_id"), col("payload"))
      .as[(String, Long, Array[Byte])]
      .mapPartitions { it =>
        val c = Checksum.of(it)
        Iterator((c.count, c.sum))
      }
      .collect()
      .foldLeft(Checksum.empty)((a, b) => a + Checksum(b._1, b._2))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = input(spark, ctx.seed, Messages).cache()
    val expected = checksum(data)
    require(expected.count == Messages, s"input holds ${expected.count} rows")
    val out = new Outcome
    val shardKeys = (0 until Shards).map(s => (Stream, s.toLong))

    def pass(p: Int): Unit = {
      val kafka = new EmbeddedKafka(autoCreatePartitions = Shards)
      val redis = new EmbeddedRedis
      val ssDir = new java.io.File(ctx.workDir, s"ss-pass-$p").getPath
      val parent = s"pass#$p"
      def phase[T](name: String)(f: => T): T = ctx.tracer.span(s"$name#$p", parent)(f)
      def check(what: String, got: Checksum): Unit = {
        out.attempted += Messages
        if (got != expected) {
          out.failed += Messages
          System.err.println(s"[perfbench] $what pass $p: got $got, want $expected")
        }
      }
      try {
        phase("kafka_produce")(KafkaSource.write(data, kafka.host, kafka.port,
          partitions = Shards))
        check("kafka consume", phase("kafka_consume")(checksum(
          KafkaSource.boundedRead(spark, kafka.host, kafka.port, Seq(Stream)))))
        phase("redis_produce")(RedisSource.write(data, redis.host, redis.port,
          pipelineSize = 500))
        check("redis consume", phase("redis_consume")(checksum(
          RedisSource.boundedRead(spark, redis.host, redis.port, shardKeys))))
        phase("ss_produce")(data.write.format("ss").mode("overwrite").save(ssDir))
        check("ss consume", phase("ss_consume")(checksum(
          spark.read.format("ss").load(ssDir))))
        val relayed = phase("eos_relay")(KafkaEosRelay.relayAll(spark,
          kafka.host, kafka.port, Seq(Stream), _ + "_out", "perfbench-relay",
          "perfbench-relay"))
        val relayOut = checksum(KafkaSource.boundedRead(spark, kafka.host,
          kafka.port, Seq(Stream + "_out"), readCommitted = true)
          .withColumn("stream_key", lit(Stream)))
        // the relay's own count must agree with what the output holds
        check("eos relay", relayOut.copy(count = math.min(relayed, relayOut.count)))
      } finally {
        kafka.close()
        redis.close()
        Files.deleteTree(new java.io.File(ssDir))
      }
      System.gc()
    }

    (1 to WarmupPasses).foreach(i => pass(-i))
    out.attempted = 0
    out.failed = 0
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var p = 1
    while (p <= 3 || System.nanoTime() < deadline) { pass(p); p += 1 }
    val measured = 1 until p

    ctx.tracer.drain()
    val phaseMs = Phases.map { ph =>
      ph -> measured.map { i =>
        val s = ctx.tracer.spansNamed(s"$ph#$i").head
        (s.endMs - s.startMs).toDouble
      }
    }.toMap
    val passMs = measured.map(i => Phases.map(ph => phaseMs(ph)(i - 1)).sum)
    out.e2e("work_s") = (Stats.median(passMs) / 1000.0, "s")
    Phases.foreach { ph =>
      out.layer(s"${ph}_msgs_per_s") =
        (Messages / (Stats.median(phaseMs(ph)) / 1000.0), "msg/s")
      if (ctx.tracer.enabled) {
        val works = measured.map(i => ctx.tracer.workFor(s"$ph#$i"))
        val spans = measured.map(i => ctx.tracer.spansNamed(s"$ph#$i").head)
        def med(f: Int => Double) = Stats.median(measured.indices.map(f))
        out.layer(s"$ph.jobs") = (med(j => works(j).jobs), "count")
        out.layer(s"$ph.tasks") = (med(j => works(j).tasks), "count")
        out.layer(s"$ph.task_cpu_s") = (med(j => works(j).cpuNs / 1e9), "s")
        out.layer(s"$ph.gc_s") = (med(j => works(j).gcMs / 1e3), "s")
        out.layer(s"$ph.shuffle_write_mb") =
          (med(j => works(j).shuffleWriteBytes / 1e6), "MB")
        out.layer(s"$ph.driver_s") = (med(j => Stats.driverMs(spans(j).startMs,
          spans(j).endMs, works(j).taskIntervals.toSeq) / 1e3), "s")
      }
    }
    out.layer("bulk.passes") = (measured.size.toDouble, "count")
    data.unpersist(true)
    out
  }
}
