package graft.core

import org.apache.spark.sql.connector.read.streaming.Offset

/** The micro-batch offset of the dense-offset sources (kafka-wire,
  * iggy-stream): the next offset per (topic, partition), persisted in the
  * streaming checkpoint as `{"offs":{"<topic>/<partition>":<nextOffset>}}`.
  * Topic names are valid stream keys (`[a-zA-Z0-9._-]`), so '/' and '"'
  * never appear in them and the hand parser below is unambiguous. The
  * JSON shape is a wire format: old checkpoints must keep resuming.
  */
final case class DenseOffset(offs: Map[(String, Int), Long]) extends Offset {
  override def json(): String =
    offs.toSeq.sortBy { case ((t, p), _) => (t, p) }
      .map { case ((t, p), o) => s""""$t/$p":$o""" }
      .mkString("{\"offs\":{", ",", "}}")
}

object DenseOffset {
  def fromJson(json: String): DenseOffset = {
    val inner = json.trim.stripPrefix("{\"offs\":{").stripSuffix("}}")
    if (inner.isEmpty) DenseOffset(Map.empty)
    else DenseOffset(inner.split(',').map { pair =>
      val sep = pair.indexOf("\":")
      if (sep < 0)
        throw new IllegalArgumentException(s"bad DenseOffset pair: $pair")
      val key = pair.substring(0, sep).stripPrefix("\"")
      val slash = key.lastIndexOf('/')
      (key.substring(0, slash), key.substring(slash + 1).toInt) ->
        pair.substring(sep + 2).toLong
    }.toMap)
  }
}
