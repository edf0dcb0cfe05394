package graft.ss

import org.apache.spark.sql.SparkSession

import graft.eos.{FileRelaySource, KafkaTxnDestination,
  RedisLedgerDestination, RelayDriver}
import graft.kafka.KafkaTls
import graft.redis.RedisClient

/** Exactly-once `.ss` file → broker shipping entry points — log
  * shipping: the file backend exists to dump a stream to disk and replay
  * it (sea-streamer-file/src/lib.rs), and shipping that dump into
  * kafka/redis without loss or duplication is the production follow-up.
  * Each call is one [[RelayDriver]] run over a [[FileRelaySource]] and a
  * [[KafkaTxnDestination]] or [[RedisLedgerDestination]], the same relay
  * bodies every broker source runs through. A file destination stays
  * refused across the matrix — the filesystem has no transaction or
  * compare-and-set to anchor a resume point on.
  *
  * The cursor is the file's frame-exact byte offset after the last
  * shipped frame, one per part file, keyed by file NAME (so a relocated
  * directory resumes; colliding names refuse at plan time) and anchored
  * in the destination: the group offset of `(file name, 0)` staged in
  * the `txnIdPrefix-<file>` transaction, or the WATCH-fenced
  * `ledgerPrefix:{<file>}` ledger key. `capBytes` bounds each epoch's
  * per-file range. Frames map to `(topicOf(stream_key),
  * floorMod(shard_id, partitions))` in kafka and to
  * `streamOf(stream_key):shard_id` in redis. `onlyStreams` ships a
  * subscription subset; skipped frames still advance the cursor.
  */
object SsEosShip {

  /** One bounded exactly-once ship epoch into KAFKA; returns frames
    * shipped (a fully-filtered range ships 0 frames while its cursor
    * still advances — [[shipKafkaAll]] keys on planned ranges, not
    * frame counts, so filtering never wedges the drain).
    */
  def shipKafkaOnce(spark: SparkSession, paths: Seq[String],
      topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      capBytes: Long = 64L << 20, page: Int = 1000, partitions: Int = 4,
      onlyStreams: Option[Set[String]] = None,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      crashBeforeCommit: Option[String] = None): Long =
    RelayDriver.once(spark,
      FileRelaySource(paths, capBytes, Some(partitions), onlyStreams, page),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, tls, crashBeforeCommit))

  /** One bounded exactly-once ship epoch into REDIS; same contract with
    * the WATCH-fenced `ledgerPrefix:{file}` cursor.
    */
  def shipRedisOnce(spark: SparkSession, paths: Seq[String],
      streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      capBytes: Long = 64L << 20,
      onlyStreams: Option[Set[String]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None,
      /** [[graft.ops.Failpoints.armHook]] token fired with the MULTI
        * fully queued, JUST before EXEC — the window where a rival file's
        * commit on a SHARED destination key must nil this EXEC (the key
        * set is WATCHed), never let real redis refuse frames inside it. */
      raceBeforeExec: Option[String] = None): Long =
    RelayDriver.once(spark,
      FileRelaySource(paths, capBytes, onlyStreams = onlyStreams),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        tls, auth, crashBeforeCommit, raceBeforeExec = raceBeforeExec))

  /** Drain to the files' current safe ends: epochs until the PLAN is
    * empty (frame counts can read 0 on a fully-filtered epoch while the
    * cursor still advances, so the loop keys on planned ranges).
    */
  def shipKafkaAll(spark: SparkSession, paths: Seq[String],
      topicOf: String => String,
      kafkaHost: String, kafkaPort: Int, group: String, txnIdPrefix: String,
      capBytes: Long = 64L << 20, page: Int = 1000, partitions: Int = 4,
      onlyStreams: Option[Set[String]] = None,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None): Long =
    RelayDriver.all(spark,
      FileRelaySource(paths, capBytes, Some(partitions), onlyStreams, page),
      KafkaTxnDestination(kafkaHost, kafkaPort, group, txnIdPrefix, topicOf,
        sasl, saslMechanism, tls))

  /** Same drain for the redis destination. */
  def shipRedisAll(spark: SparkSession, paths: Seq[String],
      streamOf: String => String,
      redisHost: String, redisPort: Int, ledgerPrefix: String,
      capBytes: Long = 64L << 20,
      onlyStreams: Option[Set[String]] = None,
      tls: Option[RedisClient.Tls] = None,
      auth: Option[RedisClient.Auth] = None): Long =
    RelayDriver.all(spark,
      FileRelaySource(paths, capBytes, onlyStreams = onlyStreams),
      RedisLedgerDestination(redisHost, redisPort, ledgerPrefix, streamOf,
        tls, auth))
}
