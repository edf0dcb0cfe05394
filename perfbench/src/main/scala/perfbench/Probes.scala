package perfbench

import java.io.{BufferedOutputStream, ByteArrayInputStream, File, FileOutputStream}

import graft.core.SeaMessage
import graft.kafka.{EmbeddedKafka, KafkaClient, KafkaWire}
import graft.redis.{EmbeddedRedis, RedisClient, RedisStreams, Resp}
import graft.ss.{SsReader, SsWriter}

/** Layer probes for the traced `bulk-transport` run: the codecs in memory,
  * then each client against its embedded server, then `.ss` files, all on
  * one thread and without Spark. Each probe runs once to warm up and then
  * reports the median of its measured rounds.
  */
object Probes {
  val Messages = 100000
  val BatchSize = 1000
  val Rounds = 3
  val Partitions = 4

  private def payloads(seed: Long): Array[Array[Byte]] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.fill(Messages) {
      val b = new Array[Byte](Bulk.PayloadBytes)
      var i = 0
      while (i < b.length) { b(i) = ('a' + rnd.nextInt(26)).toByte; i += 1 }
      b
    }
  }

  /** Median seconds of `Rounds` timed calls, after one untimed call. */
  private def timed(f: () => Unit): Double = {
    f()
    Stats.median((1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      f()
      (System.nanoTime() - t0) / 1e9
    })
  }

  def run(ctx: Ctx): Seq[(String, (Double, String))] = {
    val tr = ctx.tracer
    val data = payloads(ctx.seed)
    val ts0 = 1700000000000L
    def nsPerMsg(s: Double) = (s * 1e9 / Messages, "ns/msg")
    def perSec(s: Double) = (Messages / s, "msg/s")

    val records = data.indices.map(i =>
      KafkaWire.KRecord(i.toLong, ts0 + i, null, data(i))).grouped(BatchSize).toVector
    var encoded: Vector[Array[Byte]] = Vector.empty
    val kEnc = tr.span("probe.kafka_wire.encode", "probes")(timed { () =>
      encoded = records.map(b => KafkaWire.encodeBatch(b))
    })
    val kDec = tr.span("probe.kafka_wire.decode", "probes")(timed { () =>
      val n = encoded.map(b => KafkaWire.decodeBatches(b).size).sum
      require(n == Messages, s"decoded $n records")
    })

    val xadds = data.indices.map(i => RedisStreams.xadd("probe", ts0 + i, data(i)))
    val rEnc = tr.span("probe.resp.encode", "probes")(timed { () =>
      xadds.foreach(c => Resp.encodeCommand(c))
    })
    val replies = data.indices.grouped(BatchSize).map { ix =>
      Resp.encodeValue(Resp.Arr(ix.map(i => Resp.Arr(Seq(
        Resp.Bulk(s"${ts0 + i}-0".getBytes("UTF-8")),
        Resp.Arr(Seq(Resp.Bulk("msg".getBytes("UTF-8")), Resp.Bulk(data(i)))))))))
    }.toVector
    val rParse = tr.span("probe.resp.parse", "probes")(timed { () =>
      replies.foreach(r => Resp.parse(Resp.buffered(new ByteArrayInputStream(r))))
    })

    val ssFile = new File(ctx.workDir, "probe.ss")
    val messages = data.indices.map(i => SeaMessage("probe", (i % Partitions).toLong,
      i.toLong, new java.sql.Timestamp(ts0 + i), data(i)))
    val ssWrite = tr.span("probe.ss_file.write", "probes")(timed { () =>
      val w = new SsWriter(new BufferedOutputStream(new FileOutputStream(ssFile),
        1 << 16), "probe")
      messages.foreach(w.write)
      w.close()
    })
    val ssRead = tr.span("probe.ss_file.read", "probes")(timed { () =>
      val r = SsReader.open(ssFile.getPath)
      try require(r.iterator.size == Messages, "short .ss read") finally r.close()
    })
    ssFile.delete()

    // client probes: each timed round runs against a freshly started server
    var produceS = Seq.empty[Double]
    var fetchS = Seq.empty[Double]
    (0 to Rounds).foreach { round =>
      val srv = new EmbeddedKafka(autoCreatePartitions = Partitions)
      val c = new KafkaClient(srv.host, srv.port)
      try {
        c.metadata(Seq("probe"))
        val t0 = System.nanoTime()
        tr.span(s"probe.kafka_client.produce#$round", "probes") {
          records.zipWithIndex.foreach { case (b, i) =>
            c.produce("probe", i % Partitions, b.map(r => (r.tsMs, null, r.value)))
          }
        }
        val t1 = System.nanoTime()
        val got = tr.span(s"probe.kafka_client.fetch#$round", "probes") {
          (0 until Partitions).map { p =>
            var off = 0L
            var n = 0
            var done = false
            while (!done) {
              val (hw, recs) = c.fetch("probe", p, off)
              n += recs.size
              if (recs.isEmpty || off >= hw) done = true
              else off = recs.last.offset + 1
            }
            n
          }.sum
        }
        val t2 = System.nanoTime()
        require(got == Messages, s"kafka probe fetched $got")
        if (round > 0) {
          produceS :+= (t1 - t0) / 1e9
          fetchS :+= (t2 - t1) / 1e9
        }
      } finally { c.close(); srv.close() }
    }

    var xaddS = Seq.empty[Double]
    var xrangeS = Seq.empty[Double]
    (0 to Rounds).foreach { round =>
      val srv = new EmbeddedRedis
      val c = new RedisClient(srv.host, srv.port)
      try {
        val t0 = System.nanoTime()
        tr.span(s"probe.redis_client.xadd#$round", "probes") {
          data.indices.grouped(500).foreach { ix =>
            c.pipeline(ix.map(i =>
              RedisStreams.xadd(s"probe:${i % Partitions}", ts0 + i, data(i))))
          }
        }
        val t1 = System.nanoTime()
        val got = tr.span(s"probe.redis_client.xrange#$round", "probes") {
          (0 until Partitions).map { p =>
            var cursor = "-"
            var n = 0
            var done = false
            while (!done) {
              val page = RedisStreams.decodeEntriesWithIds(c.command(
                RedisStreams.xrange(s"probe:$p", cursor, "+", Some(BatchSize)): _*),
                "probe", p.toLong)
              n += page.size
              if (page.size < BatchSize) done = true
              else cursor = s"(${page.last._1}"
            }
            n
          }.sum
        }
        val t2 = System.nanoTime()
        require(got == Messages, s"redis probe read $got")
        if (round > 0) {
          xaddS :+= (t1 - t0) / 1e9
          xrangeS :+= (t2 - t1) / 1e9
        }
      } finally { c.close(); srv.close() }
    }

    Seq(
      "kafka_wire.encode_ns_per_msg" -> nsPerMsg(kEnc),
      "kafka_wire.decode_ns_per_msg" -> nsPerMsg(kDec),
      "resp.encode_ns_per_msg" -> nsPerMsg(rEnc),
      "resp.parse_ns_per_msg" -> nsPerMsg(rParse),
      "ss_file.write_msgs_per_s" -> perSec(ssWrite),
      "ss_file.read_msgs_per_s" -> perSec(ssRead),
      "kafka_client.produce_msgs_per_s" -> perSec(Stats.median(produceS)),
      "kafka_client.fetch_msgs_per_s" -> perSec(Stats.median(fetchS)),
      "redis_client.xadd_msgs_per_s" -> perSec(Stats.median(xaddS)),
      "redis_client.xrange_msgs_per_s" -> perSec(Stats.median(xrangeS)))
  }
}
