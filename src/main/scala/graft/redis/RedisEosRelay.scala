package graft.redis

import org.apache.spark.sql.SparkSession

import graft.eos.{KafkaRelaySource, RedisLedgerDestination, RelayDriver}
import graft.kafka.KafkaTls

/** Exactly-once Kafka→Redis relay: [[RelayDriver]] over a
  * [[KafkaRelaySource]] and a [[RedisLedgerDestination]] — each (topic,
  * partition) keeps its committed source offset in the destination
  * ledger key `prefix:{<topic>/<partition>}`, committed with the
  * partition's entries in one WATCH-fenced MULTI/EXEC (the classic
  * consume-kafka/write-store-with-offsets-in-store pattern). The source
  * partition becomes the destination shard.
  */
object RedisEosRelay {

  /** One bounded exactly-once relay epoch; returns records relayed
    * (0 = fully drained or an advance-only epoch). `streamOf` maps source
    * topic → destination stream name. `crashBeforeCommit` is
    * [[graft.ops.Failpoints]]' one-shot token — the matching task dies
    * with its MULTI queued, before EXEC.
    */
  def relayOnce(spark: SparkSession,
      kafkaHost: String, kafkaPort: Int, topics: Seq[String],
      streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      cap: Long = 100000L, maxFetchBytes: Int = 1 << 20,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      kafkaTls: Option[KafkaTls.Client] = None,
      redisTls: Option[RedisClient.Tls] = None,
      redisAuth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None,
      raceAfterRead: Option[String] = None): Long =
    RelayDriver.once(spark,
      KafkaRelaySource(kafkaHost, kafkaPort, topics, cap, maxFetchBytes, sasl,
        saslMechanism, kafkaTls),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        redisTls, redisAuth, crashBeforeCommit, raceAfterRead))

  /** Drain the source completely: epochs until one plans nothing. */
  def relayAll(spark: SparkSession,
      kafkaHost: String, kafkaPort: Int, topics: Seq[String],
      streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      cap: Long = 100000L,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      kafkaTls: Option[KafkaTls.Client] = None,
      redisTls: Option[RedisClient.Tls] = None,
      redisAuth: Option[RedisClient.Auth] = None): Long =
    RelayDriver.all(spark,
      KafkaRelaySource(kafkaHost, kafkaPort, topics, cap, sasl = sasl,
        saslMechanism = saslMechanism, tls = kafkaTls),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        redisTls, redisAuth))
}
