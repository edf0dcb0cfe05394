package graft.eos

import scala.util.control.NonFatal

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.SparkSession

import graft.core.SeaStreamErr

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

  /** Refuse a pair no epoch could relay exactly once:
    *  - a relay into its own source (same scheme, same endpoint, a name
    *    the rename keeps) would chase its own appends forever;
    *  - kafka→kafka across clusters: the group offsets staged in the
    *    transaction live on the SOURCE cluster;
    *  - a rename onto redis that maps two sources to one stream would hand
    *    one destination key to several concurrent relay tasks (the hazard
    *    `.ss` part files sharing a key ride out on sub-epochs and the
    *    commit gate). A file source of every stream (`onlyStreams = None`)
    *    names no sources, so it is not checked.
    *
    * Endpoint identity is BEST-EFFORT: each host is resolved (so
    * `localhost:6379` and `127.0.0.1:6379` compare EQUAL — a literal
    * compare would let an aliased self-relay through). Two DNS names
    * fronting one broker through different VIPs can still compare unequal
    * — an exact guard needs a broker-identity probe (kafka cluster id /
    * redis run_id), which costs a connection.
    */
  private def check(source: RelaySource,
      destination: RelayDestination): Unit = {
    // a broker source's (scheme, host, port), and the names it relays
    // (None: every stream a file holds)
    val (from, names) = source match {
      case s: KafkaRelaySource =>
        (Some(("kafka", s.host, s.port)), Some(s.topics))
      case s: RedisRelaySource =>
        (Some(("redis", s.host, s.port)), Some(s.shards.map(_._1).distinct))
      case s: IggyRelaySource =>
        (Some(("iggy", s.host, s.port)), Some(s.topics))
      case s: FileRelaySource => (None, s.onlyStreams.map(_.toSeq.sorted))
      case _ => (None, None)
    }
    val (scheme, host, port, rename) = destination match {
      case d: KafkaTxnDestination => ("kafka", d.host, d.port, d.topicOf)
      case d: RedisLedgerDestination =>
        ("redis", d.host, d.port, d.streamOf)
    }
    def node(h: String, p: Int): (String, Int) =
      (try java.net.InetAddress.getByName(h).getHostAddress
      catch { case _: java.net.UnknownHostException => h.toLowerCase }, p)
    val sameEndpoint = from.exists { case (sc, h, p) =>
      sc == scheme && node(h, p) == node(host, port)
    }
    if (sameEndpoint) names.getOrElse(Nil).foreach { s =>
      if (rename(s) == s)
        throw SeaStreamErr.Unsupported(
          s"relaying '$s' into itself on the same broker would chase its" +
            " own appends — rename must map it to a different name")
    }
    if (scheme == "kafka" && from.exists(_._1 == "kafka") && !sameEndpoint)
      throw SeaStreamErr.Unsupported(
        "cross-cluster kafka→kafka relay is not supported: the group " +
          "offsets staged in the transaction live on the SOURCE " +
          "cluster, so both ends must be one cluster")
    if (scheme == "redis") names.foreach { ns =>
      val dup = ns.groupBy(rename).collect {
        case (d, srcs) if srcs.size > 1 => s"${srcs.mkString(" and ")} → '$d'"
      }
      if (dup.nonEmpty)
        throw SeaStreamErr.Unsupported(
          "a relay onto redis needs an INJECTIVE rename (one destination " +
            "stream per source): " + dup.mkString("; "))
    }
  }

  /** The epoch's ranges: (coordinate, until) for every coordinate behind
    * its pinned tip. */
  def plan(source: RelaySource,
      destination: RelayDestination): Seq[(Coord, Long)] =
    source.tips(destination.cursors(source)).flatMap { p =>
      val until = source.until(p.cursor, p.tip)
      if (until > p.cursor) Some(p.coord -> until) else None
    }

  /** Relay planned ranges, one task each up to the destination's
    * concurrency cap; returns records relayed. A failed epoch rethrows
    * only once its other tasks have ended: Spark fails the job at the
    * first failed task but lets the running ones finish, and such a
    * sibling may still commit its range. A caller that re-plans right
    * after the failure (a crash-then-drain) must see that commit, or it
    * counts the range as its own. */
  def run(spark: SparkSession, source: RelaySource,
      destination: RelayDestination,
      ranges: Seq[(Coord, Long)]): Long =
    if (ranges.isEmpty) 0L
    else {
      val sc = spark.sparkContext
      val tag = s"graft-relay-${java.util.UUID.randomUUID}"
      sc.addJobTag(tag)
      try sc.parallelize(ranges, destination.tasks(ranges.size))
        .map { case (c, until) => destination.relay(source, c, until) }
        .sum().toLong
      catch { case NonFatal(e) => awaitTasks(sc, tag); throw e }
      finally sc.removeJobTag(tag)
    }

  /** Wait, at most a minute, until the status store shows the tagged job
    * ended and no task of its stages running. The job's end precedes the
    * end events of the tasks it left running, so a job read as ended with
    * no active task has none left. A job the store has not recorded
    * within a second was never submitted (or its start event was lost):
    * nothing to wait for. */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    val start = System.nanoTime()
    def waitedMs = (System.nanoTime() - start) / 1000000L
    def settled: Boolean = {
      val jobs = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo)
      if (jobs.isEmpty) waitedMs > 1000L
      else jobs.forall(_.status != JobExecutionStatus.RUNNING) &&
        jobs.flatMap(_.stageIds).flatMap(st.getStageInfo)
          .forall(_.numActiveTasks == 0)
    }
    while (!settled && waitedMs < 60000L) Thread.sleep(10)
  }

  /** One bounded epoch; returns records relayed (0 = nothing planned or
    * an advance-only epoch). A pair `check` refuses throws
    * [[SeaStreamErr.Unsupported]] before anything is planned. */
  def once(spark: SparkSession, source: RelaySource,
      destination: RelayDestination): Long = {
    check(source, destination)
    run(spark, source, destination, plan(source, destination))
  }

  /** Drain the source to its tips: epochs until the plan is empty. */
  def all(spark: SparkSession, source: RelaySource,
      destination: RelayDestination): Long = {
    check(source, destination)
    var total = 0L
    var ranges = plan(source, destination)
    while (ranges.nonEmpty) {
      total += run(spark, source, destination, ranges)
      ranges = plan(source, destination)
    }
    total
  }
}
