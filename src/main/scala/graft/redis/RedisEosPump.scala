package graft.redis

import org.apache.spark.sql.SparkSession

import graft.eos.{RedisLedgerDestination, RedisRelaySource, RelayDriver}

/** Exactly-once Redis→Redis pump: [[RelayDriver]] over a
  * [[RedisRelaySource]] and a [[RedisLedgerDestination]] — each source
  * (stream, shard) keeps the packed id of its next unrelayed entry in
  * the destination-side ledger key `prefix:{<stream>/<shard>}`. Kill
  * everything but the destination redis, restart anywhere — the ledger
  * says exactly what landed. (Mirroring across redis instances — DR
  * replicas, region moves, stream re-sharding — is where this shape
  * earns its keep: no third system holds the cursor.)
  */
object RedisEosPump {

  /** One bounded exactly-once pump epoch; returns entries relayed
    * (0 = drained to the planned tips). `streamOf` maps source stream →
    * destination stream name (must differ when both ends are the same
    * server); the shard id carries over. `crashBeforeCommit` is
    * [[graft.ops.Failpoints]]' one-shot token — the matching task dies
    * with its MULTI queued, before EXEC.
    */
  def relayOnce(spark: SparkSession,
      srcHost: String, srcPort: Int, shards: Seq[(String, Long)],
      streamOf: String => String,
      dstHost: String, dstPort: Int, ledgerPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      srcTls: Option[RedisClient.Tls] = None,
      srcAuth: Option[RedisClient.Auth] = None,
      dstTls: Option[RedisClient.Tls] = None,
      dstAuth: Option[RedisClient.Auth] = None,
      crashBeforeCommit: Option[String] = None,
      raceAfterRead: Option[String] = None,
      /** [[graft.ops.Failpoints.armHook]] token fired with the MULTI
        * fully queued, JUST before EXEC — the widest window between the
        * floor read and the commit, where a foreign write to the
        * destination key must nil the EXEC (it is WATCHed), never let
        * real redis refuse entries inside it. */
      raceBeforeExec: Option[String] = None): Long =
    RelayDriver.once(spark,
      RedisRelaySource(srcHost, srcPort, shards, cap, page, srcTls, srcAuth),
      RedisLedgerDestination(dstHost, dstPort, ledgerPrefix, streamOf,
        dstTls, dstAuth, crashBeforeCommit, raceAfterRead, raceBeforeExec))

  /** Drain the source completely: epochs until one plans nothing. */
  def relayAll(spark: SparkSession,
      srcHost: String, srcPort: Int, shards: Seq[(String, Long)],
      streamOf: String => String,
      dstHost: String, dstPort: Int, ledgerPrefix: String,
      cap: Long = 100000L, page: Int = 1000,
      srcTls: Option[RedisClient.Tls] = None,
      srcAuth: Option[RedisClient.Auth] = None,
      dstTls: Option[RedisClient.Tls] = None,
      dstAuth: Option[RedisClient.Auth] = None): Long =
    RelayDriver.all(spark,
      RedisRelaySource(srcHost, srcPort, shards, cap, page, srcTls, srcAuth),
      RedisLedgerDestination(dstHost, dstPort, ledgerPrefix, streamOf,
        dstTls, dstAuth))
}
