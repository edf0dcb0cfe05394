package graft.kafka

import org.apache.spark.sql.SparkSession

import graft.eos.{KafkaRelaySource, KafkaTxnDestination, RelayDriver}

/** Exactly-once Kafka→Kafka relay — the reference's consume-transform-
  * produce loop in its purest form (sea-streamer-kafka/src/producer.rs:
  * 236-301): the resume point IS the consumer group's committed offset,
  * staged inside the destination transaction. [[KafkaEosSink]] is the
  * Spark-idiomatic half (foreachBatch epochs, Spark's offset WAL drives
  * replay); this is the broker-anchored half — lose the checkpoint
  * directory entirely, restart anywhere, the group offsets say exactly
  * what was relayed. Both ends are one cluster: [[RelayDriver]] over a
  * [[KafkaRelaySource]] and a [[KafkaTxnDestination]].
  */
object KafkaEosRelay {

  private def ends(host: String, port: Int, topics: Seq[String],
      dst: String => String, group: String, txnIdPrefix: String, cap: Long,
      maxFetchBytes: Int, sasl: Option[(String, String)],
      saslMechanism: String, tls: Option[KafkaTls.Client],
      crashBeforeCommit: Option[String], raceAfterFence: Option[String]) = {
    topics.foreach(t =>
      require(dst(t) != t, s"relay destination of $t must differ"))
    (KafkaRelaySource(host, port, topics, cap, maxFetchBytes, sasl,
      saslMechanism, tls),
      KafkaTxnDestination(host, port, group, txnIdPrefix, dst, sasl,
        saslMechanism, tls, crashBeforeCommit, raceAfterFence))
  }

  /** One bounded exactly-once relay epoch; returns rows relayed (0 =
    * fully drained or an advance-only epoch). `dst` maps source topic →
    * destination topic (must differ). `crashBeforeCommit` is
    * [[KafkaEosSink.arm]]'s failpoint — exactly one task dies after
    * producing + staging, before commit.
    */
  def relayOnce(spark: SparkSession, host: String, port: Int,
      topics: Seq[String], dst: String => String, group: String,
      txnIdPrefix: String, cap: Long = 100000L,
      maxFetchBytes: Int = 1 << 20,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      crashBeforeCommit: Option[String] = None,
      raceAfterFence: Option[String] = None): Long = {
    val (s, d) = ends(host, port, topics, dst, group, txnIdPrefix, cap,
      maxFetchBytes, sasl, saslMechanism, tls, crashBeforeCommit,
      raceAfterFence)
    RelayDriver.once(spark, s, d)
  }

  /** Drain the source completely: epochs until one plans nothing. */
  def relayAll(spark: SparkSession, host: String, port: Int,
      topics: Seq[String], dst: String => String, group: String,
      txnIdPrefix: String, cap: Long = 100000L,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None): Long = {
    val (s, d) = ends(host, port, topics, dst, group, txnIdPrefix, cap,
      1 << 20, sasl, saslMechanism, tls, None, None)
    RelayDriver.all(spark, s, d)
  }
}
