package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.SeaMessage

/** The reference's one true dataflow operator: merge N streams reordered by
  * timestamp, ties broken by stream-key name; `align` declares which streams
  * gate emission — nothing is emitted unless every aligned stream has at
  * least one buffered message (sea-streamer-fuse/src/lib.rs:10-46, pop law
  * 71-100).
  *
  * Two Spark forms:
  *   - [[merge]]: bounded/batch — once all input is available the gating is
  *     a no-op and the result is exactly the (timestamp, stream_key,
  *     sequence) global order. This is a range-partitioned sort: fully
  *     parallel, the form to use at 100 TB.
  *   - [[gated]]: unbounded — faithful gating via a single
  *     flatMapGroupsWithState group holding per-key queues. Like the
  *     reference operator itself this is a sequential merge point (state on
  *     one executor); state is checkpointed instead of the reference's
  *     unbounded in-memory buffer (improvement noted in SURVEY §7.4.6).
  */
object StreamJoin {

  /** Batch merge: union + global event-time order (ties by key, then seq). */
  def merge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))
      .orderBy(col("timestamp"), col("stream_key"), col("sequence"))

  /** Buffered queues per stream key (must be a Product for the encoder). */
  final case class FuseState(queues: Map[String, Seq[SeaMessage]])

  /** The gating state machine for ONE alignment group: enqueue arrivals in
    * deterministic (ts, key, seq) order, then pop the global min while
    * every aligned stream has a buffered head. Returns (new queues,
    * emitted).
    */
  private def gateCore(
      alignKeys: IndexedSeq[String],
      prior: Map[String, Seq[SeaMessage]],
      arrivals: Iterator[SeaMessage]): (Map[String, Seq[SeaMessage]], Vector[SeaMessage]) = {
    var queues = prior
    // enqueue deterministically; per-key causality is preserved because
    // we order by (timestamp, sequence) within each key
    arrivals.toSeq
      .sortBy(m => (m.timestamp.getTime, m.stream_key, m.sequence))
      .foreach { m =>
        queues = queues.updated(m.stream_key,
          queues.getOrElse(m.stream_key, Vector.empty) :+ m)
      }

    def gateOpen: Boolean =
      alignKeys.forall(k => queues.getOrElse(k, Nil).nonEmpty) &&
        queues.values.exists(_.nonEmpty)

    // pop global min (timestamp, key) while the gate stays open
    val out = Vector.newBuilder[SeaMessage]
    while (gateOpen) {
      val (key, q) = queues.iterator
        .filter(_._2.nonEmpty)
        .minBy { case (k, ms) => (ms.head.timestamp.getTime, k) }
      out += q.head
      queues = queues.updated(key, q.tail)
    }
    (queues, out.result())
  }

  /** End-of-gate drain: pop everything in global (ts, key) order — the same
    * rule [[gatedBounded]] applies at end of stream. Used by idle eviction:
    * eviction bounds STATE, it must not lose data. Expressed through
    * [[gateCore]] with an EMPTY alignment (the gate is vacuously open until
    * the queues empty) so there is exactly ONE pop-ordering rule to audit.
    */
  private def drainAll(queues: Map[String, Seq[SeaMessage]]): Vector[SeaMessage] =
    gateCore(IndexedSeq.empty, queues, Iterator.empty)._2

  /** [[gateCore]] over the flatMapGroupsWithState GroupState API, with
    * optional idle eviction: when `evictMs` is set and the group has seen no
    * arrival for that long, the gate releases — buffered messages drain in
    * the end-of-stream order and the state is dropped (a later arrival
    * rebuilds it from empty). Off (None) = strict reference parity: the
    * buffer is unbounded, exactly sea-streamer-fuse/src/lib.rs:12-13's
    * documented caveat.
    */
  private def gateStep(alignKeys: IndexedSeq[String], evictMs: Option[Long])(
      arrivals: Iterator[SeaMessage],
      state: GroupState[FuseState]): Iterator[SeaMessage] =
    if (state.hasTimedOut) {
      val out = drainAll(state.getOption.map(_.queues).getOrElse(Map.empty))
      state.remove()
      out.iterator
    } else {
      val (queues, out) = gateCore(alignKeys,
        state.getOption.map(_.queues).getOrElse(Map.empty), arrivals)
      state.update(FuseState(queues))
      evictMs.foreach(state.setTimeoutDuration)
      out.iterator
    }

  /** Faithful gated merge over an unbounded muxed stream — ONE global merge
    * point, exactly the reference operator's sequential semantics. All state
    * lands on a single task; prefer [[gatedByKey]] whenever the gating
    * invariant only needs to hold within a partition key (a shard, a tenant,
    * a device), which is the form that scales to 100 TB.
    *
    * @param align stream keys that must all be non-empty before emission
    */
  def gated(muxed: Dataset[SeaMessage], align: Seq[String],
      evictAfter: Option[java.time.Duration] = None): Dataset[SeaMessage] = {
    import muxed.sparkSession.implicits._
    gatedByKey(muxed, align, _ => 0, evictAfter)
  }

  /** Shard-parallel gated merge: `group` partitions the muxed stream into
    * independent alignment groups (e.g. `_.shard_id`), each gated and merged
    * on its own task with its own checkpointed state — the streaming shuffle
    * hash-partitions groups across executors, so state and CPU scale out
    * linearly with the number of groups instead of funneling through one
    * task. Within a group the emission order is identical to [[gated]];
    * across groups there is no ordering (they are causally independent, the
    * same contract as the reference's per-shard consumers).
    */
  /** @param evictAfter optional idle-eviction bound: a group with no arrival
    *   for this duration releases its gate (buffered messages drain in the
    *   end-of-stream order, state is dropped). Default OFF — strict parity
    *   with the reference's documented unbounded buffer
    *   (sea-streamer-fuse/src/lib.rs:12-13); switch ON in production, where
    *   a misaligned stream (one key that never arrives) must not grow state
    *   forever. With eviction on, pair the query with a real trigger
    *   interval (`Trigger.ProcessingTime`): the engine re-runs batches so
    *   idle timers can fire, which under the default ASAP trigger is a
    *   tight loop — and `processAllAvailable()` never unblocks (the
    *   operator always reports another batch needed), so tests must poll
    *   the sink instead.
    */
  def gatedByKey[K](
      muxed: Dataset[SeaMessage],
      align: Seq[String],
      group: SeaMessage => K,
      evictAfter: Option[java.time.Duration] = None)(
      implicit ke: Encoder[K]): Dataset[SeaMessage] = {
    import muxed.sparkSession.implicits._
    val alignKeys = align.toIndexedSeq
    // state is an opaque per-group blob: a Kryo encoder serializes the
    // queue map in one binary column instead of a deeply nested product
    // encoder whose generated (de)serializer dominates first-run latency.
    // NOTE: this fixes the checkpointed state FORMAT — checkpoints written
    // by builds that used the product encoder cannot resume on this one
    // (start such queries from a fresh checkpoint)
    implicit val stateEnc: Encoder[FuseState] =
      org.apache.spark.sql.Encoders.kryo[FuseState]
    val timeout = evictAfter.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    muxed
      .groupByKey(group)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (_: K, arrivals: Iterator[SeaMessage], state: GroupState[FuseState]) =>
          gateStep(alignKeys, evictAfter.map(_.toMillis))(arrivals, state)
      }
  }

  /** Bounded gated merge driven to completion in-memory — reference law for
    * specs and small data: identical output to [[merge]] plus final drain.
    */
  def gatedBounded(messages: Seq[SeaMessage], align: Seq[String]): Seq[SeaMessage] = {
    val queues = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Queue[SeaMessage]]
    val out = Vector.newBuilder[SeaMessage]

    def check: Boolean =
      align.forall(k => queues.get(k).exists(_.nonEmpty)) &&
        queues.values.exists(_.nonEmpty)

    def popMin(): SeaMessage = {
      val (key, _) = queues.iterator.filter(_._2.nonEmpty)
        .minBy { case (k, ms) => (ms.head.timestamp.getTime, k) }
      queues(key).dequeue()
    }

    messages.foreach { m =>
      queues.getOrElseUpdate(m.stream_key, scala.collection.mutable.Queue.empty)
        .enqueue(m)
      while (check) out += popMin()
    }
    // end of stream: drain remaining in (ts, key) order, gate released
    while (queues.values.exists(_.nonEmpty)) out += popMin()
    out.result()
  }
}
