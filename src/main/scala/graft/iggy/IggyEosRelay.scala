package graft.iggy

import org.apache.spark.sql.SparkSession

import graft.eos.{IggyRelaySource, KafkaTxnDestination,
  RedisLedgerDestination, RelayDriver}
import graft.kafka.KafkaTls
import graft.redis.RedisClient

/** Exactly-once Iggy → broker relay: [[RelayDriver]] over an
  * [[IggyRelaySource]] (dense per-partition offsets of one iggy namespace
  * stream) into either transactional destination — staged under the
  * consumer group inside a kafka transaction ([[KafkaTxnDestination]]),
  * or SET in the WATCH-fenced `prefix:{topic/part}` redis ledger
  * ([[RedisLedgerDestination]]). `relayKafkaAll` / `relayRedisAll` drain
  * until an epoch plans nothing.
  */
object IggyEosRelay {

  /** One bounded exactly-once relay epoch into KAFKA; returns messages
    * relayed (0 = drained to the planned tips).
    */
  def relayKafkaOnce(spark: SparkSession,
      iggyHost: String, iggyPort: Int, iggyStream: String,
      topics: Seq[String], topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      iggyAuth: (String, String) = ("iggy", "iggy"),
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      crashBeforeCommit: Option[String] = None): Long =
    RelayDriver.once(spark,
      IggyRelaySource(iggyHost, iggyPort, iggyStream, topics, cap, page,
        iggyAuth),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, tls, crashBeforeCommit))

  /** One bounded exactly-once relay epoch into REDIS (the WATCH-fenced
    * `ledgerPrefix:{topic/part}` cursor).
    */
  def relayRedisOnce(spark: SparkSession,
      iggyHost: String, iggyPort: Int, iggyStream: String,
      topics: Seq[String], streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      iggyAuth: (String, String) = ("iggy", "iggy"),
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None): Long =
    RelayDriver.once(spark,
      IggyRelaySource(iggyHost, iggyPort, iggyStream, topics, cap, page,
        iggyAuth),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        tls, auth, crashBeforeCommit))

  /** Drain the source completely: epochs until one plans nothing. */
  def relayKafkaAll(spark: SparkSession,
      iggyHost: String, iggyPort: Int, iggyStream: String,
      topics: Seq[String], topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      iggyAuth: (String, String) = ("iggy", "iggy"),
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None): Long =
    RelayDriver.all(spark,
      IggyRelaySource(iggyHost, iggyPort, iggyStream, topics, cap, page,
        iggyAuth),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, tls))

  /** Same drain for the redis destination. */
  def relayRedisAll(spark: SparkSession,
      iggyHost: String, iggyPort: Int, iggyStream: String,
      topics: Seq[String], streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      iggyAuth: (String, String) = ("iggy", "iggy"),
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None): Long =
    RelayDriver.all(spark,
      IggyRelaySource(iggyHost, iggyPort, iggyStream, topics, cap, page,
        iggyAuth),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        tls, auth))
}
