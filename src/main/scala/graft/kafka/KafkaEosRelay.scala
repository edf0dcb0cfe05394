package graft.kafka

import org.apache.spark.sql.SparkSession

import graft.eos.{KafkaRelaySource, KafkaTxnDestination, RelayDriver}

/** Exactly-once Kafka→Kafka relay on one cluster, drained in one call:
  * [[RelayDriver.all]] over a [[KafkaRelaySource]] and a
  * [[KafkaTxnDestination]] on the same broker. Every other relay — and a
  * single epoch of this one — is `RelayDriver.once`/`all` over the
  * `graft.eos` case classes directly.
  */
object KafkaEosRelay {

  /** Drain the source completely: epochs until one plans nothing. `dst`
    * maps source topic → destination topic (must differ). */
  def relayAll(spark: SparkSession, host: String, port: Int,
      topics: Seq[String], dst: String => String, group: String,
      txnIdPrefix: String, cap: Long = 100000L,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None): Long =
    RelayDriver.all(spark,
      KafkaRelaySource(host, port, topics, cap, sasl = sasl,
        saslMechanism = saslMechanism, tls = tls),
      KafkaTxnDestination(host, port, group, txnIdPrefix, dst, sasl,
        saslMechanism, tls))
}
