package perfbench

/** The benchmark's own metric arithmetic, kept apart from the workloads so
  * the rules can be tested on their own.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least `p`
    * percent of all samples are at or below it. `sorted` must be ascending.
    */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  /** Median of unsorted samples: the middle one, or the mean of the two
    * middle ones for an even count.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Length of the union of half-open intervals `[start, end)`, clipped to
    * `[from, to)`. Overlapping intervals count once.
    */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Driver-side time of a phase: its wall time minus the time covered by
    * at least one running task.
    */
  def driverMs(from: Long, to: Long, taskIntervals: Seq[(Long, Long)]): Long =
    (to - from) - unionLength(taskIntervals, from, to)

  /** Order-independent checksum of a multiset of items: the count and the
    * wrapping sum of one 64-bit hash per item. Addition modulo 2^64 is
    * commutative and associative, so any order or grouping of the same
    * items gives the same value, and a lost or repeated item changes it.
    */
  final case class Checksum(count: Long, sum: Long) {
    def +(o: Checksum): Checksum = Checksum(count + o.count, sum + o.sum)
    def add(hash: Long): Checksum = Checksum(count + 1, sum + hash)
  }

  object Checksum {
    val empty: Checksum = Checksum(0L, 0L)

    /** 64-bit hash of one (stream, shard, payload) message identity. */
    def messageHash(stream: String, shard: Long, payload: Array[Byte]): Long = {
      val h1 = scala.util.hashing.MurmurHash3.bytesHash(payload, stream.hashCode)
      val h2 = scala.util.hashing.MurmurHash3.bytesHash(payload,
        (shard * 0x9E3779B97F4A7C15L).toInt ^ h1)
      (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL) ^ shard
    }

    def of(messages: Iterator[(String, Long, Array[Byte])]): Checksum =
      messages.foldLeft(empty) { case (c, (st, sh, p)) =>
        c.add(messageHash(st, sh, p))
      }
  }
}
