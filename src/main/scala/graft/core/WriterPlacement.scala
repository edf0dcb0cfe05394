package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Which writer task owns which destination, for the plain broker writers
  * (`KafkaSource.write`/`writeTransactional`, `RedisSource.write`/
  * `writeExactlyOnceCluster`, `IggySource.write`). A destination is one
  * append log: a (topic, partition) on kafka and iggy, a key on redis.
  *
  * Of `S` tasks (the session's default parallelism) a row goes to task
  * `floorMod(d + floorMod(hash(stream_key), S), S)`: `d` is its
  * destination's index in the stream ([[Destinations]]), `hash` Spark's
  * Murmur3. Rows are time-sorted within each task. So every destination
  * has exactly one writer task appending in timestamp order (the
  * single-writer law the seek and redis's monotone ids rely on), a
  * stream's n ≤ S dense destinations get n distinct tasks, and a retried
  * task writes the same destinations.
  *
  * DSv2 cannot ask for this: Spark turns every `ClusteredDistribution` a
  * write requires into a hash `RepartitionByExpression`; only a
  * `DirectShufflePartitionID` passes a computed task id through.
  *
  * `KafkaEosSink.writeEpoch` and `RedisSource.writeExactlyOnce` keep
  * hashing onto their own slots: their slot IS the Spark partition id,
  * persisted in transactional ids and `{prefix}:slot:{n}` ledgers, so a
  * replayed epoch must land every row on the slot it had before — this
  * rule would move rows whenever `S` differs between a run and its replay.
  */
object WriterPlacement {

  /** stream_key, shard_id, timestamp, payload. */
  type Row = (String, Long, java.sql.Timestamp, Array[Byte])

  /** How a row's shard_id names its destination within the stream. */
  sealed abstract class Destinations
  /** kafka, iggy: partition `floorMod(shard_id, n)`, which is also `d`. */
  final case class Partitions(n: Int) extends Destinations
  /** sharded redis: a key per (stream, shard_id); `d` is shard_id mod S. */
  case object Shards extends Destinations
  /** unsharded redis: one key per stream; `d = 0`. */
  case object Streams extends Destinations

  /** A row's destination: (stream_key, index within the stream). */
  def destination(dests: Destinations, stream: String, shard: Long)
      : (String, Long) = dests match {
    case Partitions(n) => (stream, math.floorMod(shard, n.toLong))
    case Shards => (stream, shard)
    case Streams => (stream, 0L)
  }

  /** The task of `s` that writes (stream, shard): the placement column's
    * rule, for one row.
    */
  private[graft] def task(dests: Destinations, stream: String, shard: Long,
      s: Int): Int = {
    val d = if (dests == Shards) math.floorMod(shard, s.toLong)
      else destination(dests, stream, shard)._2
    val b = stream.getBytes(UTF_8)
    val h = Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET,
      b.length, 42)
    math.floorMod(d + math.floorMod(h, s), s.toLong).toInt
  }

  /** `df`'s envelope rows on `s` tasks by the rule, time-sorted in each. */
  private[graft] def placed(df: DataFrame, dests: Destinations, s: Int)
      : Dataset[Row] = {
    import df.sparkSession.implicits._
    val d = dests match {
      case Partitions(n) => pmod(col("shard_id"), lit(n.toLong))
      case Shards => pmod(col("shard_id"), lit(s.toLong))
      case Streams => lit(0L)
    }
    df.select("stream_key", "shard_id", "timestamp", "payload")
      .repartitionById(s,
        pmod(d + pmod(hash(col("stream_key")), lit(s)), lit(s)).cast("int"))
      .sortWithinPartitions(col("timestamp"))
      .as[Row]
  }

  /** Runs `write` on each writer task that got rows; a task with none
    * opens no connection.
    */
  def foreachTask(df: DataFrame, dests: Destinations)
      (write: Iterator[Row] => Unit): Unit =
    placed(df, dests, df.sparkSession.sparkContext.defaultParallelism)
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) write(rows)
      }

  /** A task's rows as sends: consecutive rows in groups of at most
    * `batch`, each group split by destination in encounter order (so each
    * destination's rows stay time-sorted).
    */
  def chunks(rows: Iterator[Row], batch: Int, dests: Destinations)
      : Iterator[((String, Long), Seq[Row])] =
    rows.grouped(batch).flatMap { group =>
      val byDest = scala.collection.mutable.LinkedHashMap
        .empty[(String, Long), scala.collection.mutable.ArrayBuffer[Row]]
      group.foreach { r =>
        byDest.getOrElseUpdate(destination(dests, r._1, r._2),
          scala.collection.mutable.ArrayBuffer.empty) += r
      }
      byDest.iterator.map { case (k, rs) => (k, rs.toSeq) }
    }
}
