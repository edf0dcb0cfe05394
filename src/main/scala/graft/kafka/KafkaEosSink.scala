package graft.kafka

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Exactly-once Spark → Kafka sink: the reference's consume-transform-
  * produce loop (sea-streamer-kafka/src/producer.rs:236-301 —
  * `init_transactions` → `begin` → sends → `send_offsets_to_transaction` →
  * `commit_transaction`) composed into a Structured Streaming
  * `foreachBatch` writer over [[KafkaTxnProducer]]'s KIP-98 wire surface.
  *
  * One epoch = one Spark micro-batch. The batch repartitions onto a FIXED
  * set of writer slots (`numSlots`, deterministic hash of (stream_key,
  * shard % partitions) — a replayed epoch lands every row on the same
  * slot); each non-empty slot runs ONE transaction:
  *
  *   1. `initTransactions()` under the slot's STABLE transactional id
  *      (`{prefix}-{slot}`). A restart therefore FENCES the slot's previous
  *      incarnation (epoch bump — its in-flight requests die with
  *      INVALID_PRODUCER_EPOCH) and aborts any transaction a crash left
  *      open, exactly the recovery contract `init_transactions` documents.
  *   2. Ledger check: the slot's committed epoch watermark lives as a
  *      consumer-group offset on a virtual ledger topic
  *      (`{prefix}-ledger`, partition = slot, group = `ledgerGroup`).
  *      Watermark past this epoch → the (slot, epoch) already committed in
  *      a previous incarnation → SKIP, the idempotent half of replay.
  *   3. Otherwise begin → produce the slot's rows → stage the bumped
  *      watermark INTO the transaction (`send_offsets_to_transaction`) →
  *      commit. Data and watermark publish atomically: a crash anywhere
  *      before the commit leaves both invisible (the abort at the next
  *      init reclaims the LSO), a crash after leaves both visible and the
  *      replay skips.
  *
  * Net law, proven by the k8 oracle: for ANY crash/restart pattern, the
  * read_committed view of the sink equals exactly-once truth — no loss
  * (Spark replays the epoch from its offset WAL), no duplicates (the
  * in-transaction watermark), no torn epochs (fencing + abort-on-init).
  *
  * Scale shape: slots are independent single-connection writers (no
  * driver funnel); the ledger costs one OffsetFetch per slot per epoch.
  * On a real cluster `numSlots` sizes write parallelism per epoch and the
  * ledger topic is auto-created (or pre-created) like any other.
  */
object KafkaEosSink {

  /** The virtual topic whose per-slot committed offsets ARE the epoch
    * ledger (offset = last committed epoch + 1, the consumer-offset
    * convention: "next epoch to write").
    */
  def ledgerTopic(txnIdPrefix: String): String = s"$txnIdPrefix-ledger"

  /** Test-only failpoints — the shared [[graft.ops.Failpoints]] registry
    * (these aliases keep the original call sites): `arm(token)` then pass
    * the token as `crashBeforeCommit` — exactly ONE task dies after
    * producing + staging its watermark but BEFORE commit.
    */
  def arm(token: String): Unit = graft.ops.Failpoints.arm(token)
  def armed(token: String): Boolean = graft.ops.Failpoints.armed(token)
  private[kafka] def fire(token: String): Boolean =
    graft.ops.Failpoints.fire(token)

  /** Write one micro-batch (epoch) exactly-once. `df` is envelope-shaped
    * (stream_key, shard_id, timestamp, payload); topic = stream_key,
    * partition = shard % `partitions` — [[KafkaSource.write]]'s mapping.
    * Call from `foreachBatch { (batch, epochId) => writeEpoch(batch, …,
    * epochId) }`; epochIds must be the monotone batch ids Spark replays
    * stably from its checkpoint.
    *
    * INVARIANT: `numSlots` (and `partitions`) must stay FIXED across
    * restarts of the same checkpoint lineage — the per-slot ledger only
    * covers a replayed row if the replay hashes it onto the SAME slot,
    * which deterministic repartitioning guarantees exactly when the slot
    * count is unchanged. Changing either mid-lineage is a resharding
    * migration: drain (let every epoch commit), then restart with a new
    * `txnIdPrefix`.
    */
  def writeEpoch(df: DataFrame, host: String, port: Int,
      txnIdPrefix: String, ledgerGroup: String, epochId: Long,
      partitions: Int = 4, numSlots: Int = 8, batchSize: Int = 1000,
      sasl: Option[(String, String)] = None,
      saslMechanism: String = "PLAIN",
      tls: Option[KafkaTls.Client] = None,
      compression: String = "none",
      crashBeforeCommit: Option[String] = None): Unit = {
    val codec = KafkaWire.Codec.of(compression)
    val ledger = ledgerTopic(txnIdPrefix)
    import df.sparkSession.implicits._
    df.select("stream_key", "shard_id", "timestamp", "payload")
      .repartition(numSlots, col("stream_key"),
        pmod(col("shard_id"), lit(partitions.toLong)))
      .sortWithinPartitions(col("timestamp"))
      .as[(String, Long, java.sql.Timestamp, Array[Byte])]
      .foreachPartition { (rows: Iterator[(String, Long, java.sql.Timestamp, Array[Byte])]) =>
        if (rows.nonEmpty) {
          val slot = TaskContext.getPartitionId()
          val client = new KafkaClient(host, port, sasl = sasl,
            saslMechanism = saslMechanism, tls = tls)
          try {
            // fence first, read the ledger second: a watermark read after
            // the fence can't be advanced by a zombie (its commit would
            // need the old epoch, which just died)
            val producer = new KafkaTxnProducer(client,
              s"$txnIdPrefix-$slot").initTransactions()
            client.findCoordinator(ledgerGroup) // group RPCs go to the coordinator
            val committed = client
              .fetchOffsets(ledgerGroup, Map(ledger -> Seq(slot)))
              .getOrElse((ledger, slot), 0L)
            if (committed < epochId + 1) {
              producer.begin()
              KafkaSource.sendRows(rows, partitions, batchSize)(topic =>
                client.metadata(Seq(topic)).getOrElse(topic, Seq.empty))(
                producer.send(_, _, _, codec))
              producer.sendOffsetsToTransaction(ledgerGroup,
                Map((ledger, slot) -> (epochId + 1)))
              if (crashBeforeCommit.exists(fire))
                throw new IllegalStateException(
                  s"injected crash: slot $slot epoch $epochId " +
                    "produced + staged, not committed")
              producer.commit()
              ()
            } // else: replayed epoch, this slot already committed — skip
          } finally client.close()
        }
      }
  }
}
