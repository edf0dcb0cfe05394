package graft.kafka

import org.scalatest.funsuite.AnyFunSuite

/** The `timestamp > T` seek law of the kafka-wire stream under
  * `isolation.level=read_committed`: the seek places the stream past every
  * record the log holds at seek time, open transactions included, and the
  * stream never rewinds onto a record the seek excluded once that
  * transaction commits.
  */
class KafkaSeekIsolationSpec extends AnyFunSuite {

  test("startingTimestamp under read_committed never delivers a pending " +
      "transaction's record at or below the seek once it commits") {
    val spark = graft.TestSession.spark
    val srv = new EmbeddedKafka
    val c = new KafkaClient(srv.host, srv.port)
    try {
      c.metadata(Seq("t"))
      c.produce("t", 0, Seq((1L, null, "committed".getBytes("UTF-8"))))
      val p = new KafkaTxnProducer(c, "seek-open").initTransactions()
      p.begin()
      p.send("t", 0, Seq((2L, null, "pending".getBytes("UTF-8"))))
      val q = spark.readStream.format("kafka-wire")
        .option("host", srv.host).option("port", srv.port.toString)
        .option("topics", "t")
        .option("startingTimestamp", "5")
        .option("isolation.level", "read_committed")
        .load()
        .selectExpr("cast(payload as string) AS v")
        .writeStream.outputMode("append")
        .format("memory").queryName("kafka_seek_open_txn_sink").start()
      try {
        q.processAllAvailable()
        assert(spark.table("kafka_seek_open_txn_sink").count() == 0)
        p.commit()
        c.produce("t", 0, Seq((9L, null, "after".getBytes("UTF-8"))))
        q.processAllAvailable()
        assert(spark.table("kafka_seek_open_txn_sink").collect()
          .map(_.getString(0)).toSeq == Seq("after"),
          "a record with ts <= startingTimestamp crossed the seek")
      } finally q.stop()
    } finally { c.close(); srv.close() }
  }
}
