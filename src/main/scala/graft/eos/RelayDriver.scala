package graft.eos

import org.apache.spark.sql.SparkSession

/** One page of a source range, bound for one destination coordinate:
  * `target` is (source stream/topic name, destination partition or
  * shard) — kafka destinations send to `topicOf(name)` at that partition,
  * redis destinations append to `streamOf(name):shard` with the u64
  * shard id kept whole. The records are in the producer's shape — (event
  * time ms, key, payload) — next to each record's source position (the
  * relay's cursor space), ascending. */
final case class RelayPage(target: (String, Long),
    records: Seq[(Long, Array[Byte], Array[Byte])], positions: Array[Long])

/** A coordinate's pinned tip next to its committed cursor. Coordinates are
  * (stream/topic/file name, shard/partition). */
final case class RelayPoint(coord: Coord, cursor: Long, tip: Long)

/** Pending work at a [[RelayPoint]] in the source's own unit: positions
  * for dense offsets, the backlog's ms span for redis ids, bytes for
  * `.ss` files. */
final case class Backlog(records: Option[Long] = None,
    ms: Option[Long] = None, bytes: Option[Long] = None)

/** A relay source. The planning half ([[tips]], [[until]], [[backlog]])
  * runs on the driver with O(#coordinates) RPCs and no data movement;
  * [[graft.facade.SeaStreamer.relayLag]] is exactly that half against
  * [[RelayDestination.cursors]]. The reading half ([[open]]) runs in the
  * relay's tasks.
  */
trait RelaySource extends Serializable {

  /** Every coordinate's pinned tip next to its committed cursor, which
    * `cursors` reads from the destination (absent = never relayed = 0).
    * The tip is the end of what the source may relay now, pinned so a
    * live producer never turns an epoch into an unbounded chase. */
  def tips(cursors: Seq[Coord] => Map[Coord, Long]): Seq[RelayPoint]

  /** The end of the epoch's range at `cursor`: the per-epoch cap, in the
    * source's own unit (sources with sparse positions cap in [[budget]]). */
  def until(cursor: Long, tip: Long): Long = tip

  /** A coordinate's name inside the destination's anchor: the redis
    * ledger key `prefix:{<tag "/">}` and the kafka transactional id
    * `prefix-<tag "-">`. */
  def tag(c: Coord, sep: String): String = s"${c._1}$sep${c._2}"

  /** Pending work at each point; dense positions count as records. */
  def backlog(points: Seq[RelayPoint]): Seq[Backlog] =
    points.map(p => Backlog(records = Some(math.max(0L, p.tip - p.cursor))))

  /** Records one task may consume per epoch. */
  def budget: Long = Long.MaxValue

  /** Executor side: a reader over the source's wire. */
  def open(): RelayReader
}

trait RelayReader extends AutoCloseable {

  /** Read `[from, until)` of `c` in pages, at most `budget` records,
    * handing each non-empty page to `f`. Pages come in ascending order of
    * their first position, so once a page starts above every position
    * handed over so far, everything below it has been handed over.
    * Returns the cursor after the last position consumed — `from` when
    * nothing was. Positions the source confirms gone (truncation, expiry)
    * or drops (unsubscribed streams) are consumed without records; any
    * other gap fails loud.
    */
  def read(c: Coord, from: Long, until: Long, budget: Long)(
      f: RelayPage => Unit): Long
}

/** The one exactly-once relay driver — the reference's consume-transform-
  * produce loop (sea-streamer-kafka/src/producer.rs:236-301, the source
  * cursor staged inside the destination's commit) over any
  * [[RelaySource]] × [[RelayDestination]] pair.
  *
  * An epoch plans `[cursor, until)` per coordinate on the driver, then
  * relays each range in its own task: one Spark job per epoch, one task
  * per planned range (up to [[RelayDestination.tasks]]; ranges beyond it
  * run in turn inside a task), and data bytes never touch the driver. A drain
  * loops epochs until one PLANS nothing — not until one moves nothing: an
  * advance-only epoch (an all-aborted, truncated or expired range commits
  * its cursor but relays zero records) must not read as drained while
  * records still pend above it.
  */
object RelayDriver {

  /** The epoch's ranges: (coordinate, until) for every coordinate behind
    * its pinned tip. */
  def plan(source: RelaySource,
      destination: RelayDestination): Seq[(Coord, Long)] =
    source.tips(destination.cursors(source)).flatMap { p =>
      val until = source.until(p.cursor, p.tip)
      if (until > p.cursor) Some(p.coord -> until) else None
    }

  /** Relay planned ranges, one task each up to the destination's
    * concurrency cap; returns records relayed. */
  def run(spark: SparkSession, source: RelaySource,
      destination: RelayDestination,
      ranges: Seq[(Coord, Long)]): Long =
    if (ranges.isEmpty) 0L
    else spark.sparkContext.parallelize(ranges, destination.tasks(ranges.size))
      .map { case (c, until) => destination.relay(source, c, until) }
      .sum().toLong

  /** One bounded epoch; returns records relayed (0 = nothing planned or
    * an advance-only epoch). */
  def once(spark: SparkSession, source: RelaySource,
      destination: RelayDestination): Long =
    run(spark, source, destination, plan(source, destination))

  /** Drain the source to its tips: epochs until the plan is empty. */
  def all(spark: SparkSession, source: RelaySource,
      destination: RelayDestination): Long = {
    var total = 0L
    var ranges = plan(source, destination)
    while (ranges.nonEmpty) {
      total += run(spark, source, destination, ranges)
      ranges = plan(source, destination)
    }
    total
  }
}
