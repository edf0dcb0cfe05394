package graft.core

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Option parsers the streaming sources share. */
object SourceOptions {

  /** A positive count option (the `*PerTrigger` admission caps); unset or
    * empty = None. */
  def positive(options: CaseInsensitiveStringMap, name: String): Option[Long] = {
    val v = options.get(name)
    if (v == null || v.isEmpty) None
    else {
      val n = v.toLong
      if (n <= 0) throw new IllegalArgumentException(
        s"$name must be positive, got $n")
      Some(n)
    }
  }

  /** Manual partition assign (`Consumer::assign`): `"topic:0,topic:2"`
    * pins the subscription to exactly those partitions. */
  def assign(options: CaseInsensitiveStringMap): Option[Set[(String, Int)]] = {
    val v = options.get("assign")
    if (v == null || v.isEmpty) None
    else Some(v.split(',').map(_.trim).filter(_.nonEmpty).map { s =>
      val i = s.lastIndexOf(':')
      require(i > 0, s"assign entry '$s' must be topic:partition")
      (s.substring(0, i), s.substring(i + 1).toInt)
    }.toSet)
  }
}
