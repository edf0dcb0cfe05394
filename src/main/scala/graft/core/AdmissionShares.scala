package graft.core

/** Budget split for `maxMessagesPerTrigger`-style admission control: the
  * capped ends of [[DenseStream]], so of kafka-wire and iggy-stream (the
  * redis source uses a rotation scheme instead — its backlog sizes aren't
  * known in advance).
  */
object AdmissionShares {

  /** Split `budget` rows across partitions proportionally to their lag.
    *
    * Proportional floor shares — NO per-partition minimum of 1, which
    * would overshoot the cap whenever backlogged partitions outnumber the
    * budget. The flooring's remainder first bumps zero-share partitions
    * (largest lag first) by one message each — small-lag partitions can
    * never be starved behind a continuously-hot sibling — then any budget
    * still left goes to nonzero-share partitions, largest fractional
    * remainder first (silently dropping it would serve fewer rows than the
    * cap allows every trigger). One bump each suffices: the flooring
    * remainder is < #partitions. Partitions already at their full lag are
    * skipped (nothing more to serve). Total always <= budget.
    *
    * Returns `lags` unchanged when the whole backlog fits the budget.
    */
  def proportional[K](lags: Map[K, Long], budget: Long)(
      implicit ord: Ordering[K]): Map[K, Long] = {
    val total = lags.values.sum
    if (total <= budget) return lags
    val floored = lags.map { case (k, lag) => k -> budget * lag / total }
    val zeros = lags.filter { case (k, _) => floored(k) == 0L }
      .toSeq.sortBy { case (k, lag) => (-lag, k) }
    val zeroBump = zeros
      .take(math.min(budget - floored.values.sum, zeros.size.toLong).toInt)
      .map { case (k, _) => k -> 1L }.toMap
    val rem = budget - floored.values.sum - zeroBump.size
    val extra = lags.toSeq
      .filter { case (k, lag) => floored(k) > 0L && floored(k) < lag }
      .sortBy { case (k, lag) => (-(budget * lag % total), k) }
      .take(math.max(0L, rem).toInt)
      .map { case (k, _) => k -> 1L }.toMap
    floored.map { case (k, v) =>
      k -> (v + zeroBump.getOrElse(k, 0L) + extra.getOrElse(k, 0L))
    }
  }
}
