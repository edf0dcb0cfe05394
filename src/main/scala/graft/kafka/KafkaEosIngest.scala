package graft.kafka

import org.apache.spark.sql.SparkSession

import graft.eos.{KafkaTxnDestination, RedisRelaySource, RelayDriver}
import graft.redis.RedisClient

/** Exactly-once Redis→Kafka ingest relay: [[RelayDriver]] over a
  * [[RedisRelaySource]] (the packed entry-id cursor of each (stream,
  * shard)) and a [[KafkaTxnDestination]] (that cursor staged under the
  * consumer group inside the kafka transaction). No Spark checkpoint, no
  * redis-side state — lose everything but the kafka cluster, restart
  * anywhere, OffsetFetch says exactly what landed.
  */
object KafkaEosIngest {

  /** One bounded exactly-once ingest epoch; returns entries relayed
    * (0 = drained to the planned tips). `shards` lists the source
    * (stream, shard) pairs; `topicOf` maps stream → destination topic
    * (which must have a partition per shard). `crashBeforeCommit` is
    * [[KafkaEosSink.arm]]'s one-shot failpoint — the matching task dies
    * after producing + staging, before commit.
    */
  def relayOnce(spark: SparkSession,
      redisHost: String, redisPort: Int, shards: Seq[(String, Long)],
      topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      kafkaTls: Option[KafkaTls.Client] = None,
      redisTls: Option[RedisClient.Tls] = None,
      redisAuth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None,
      raceAfterFence: Option[String] = None): Long =
    RelayDriver.once(spark,
      RedisRelaySource(redisHost, redisPort, shards, cap, page, redisTls,
        redisAuth),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, kafkaTls, crashBeforeCommit, raceAfterFence))

  /** Drain the source completely: epochs until one plans nothing. */
  def relayAll(spark: SparkSession,
      redisHost: String, redisPort: Int, shards: Seq[(String, Long)],
      topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      kafkaTls: Option[KafkaTls.Client] = None,
      redisTls: Option[RedisClient.Tls] = None,
      redisAuth: Option[RedisClient.Auth] = None): Long =
    RelayDriver.all(spark,
      RedisRelaySource(redisHost, redisPort, shards, cap, page, redisTls,
        redisAuth),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, kafkaTls))
}
