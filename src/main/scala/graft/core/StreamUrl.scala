package graft.core

/** Cluster/stream addressing — `proto://host:port,host:port/stream_a,stream_b`.
  *
  * Same grammar as the reference's hand-written parser
  * (sea-streamer-types/src/streamer.rs:173-252), with behavior pinned by the
  * ported tests (streamer.rs:254-392):
  *   - a StreamUrl must end with '/': `proto://host:1234` alone is an error
  *   - `stdio:///` → single node `stdio://.`
  *   - nodes keep their protocol; a bare `host:port` node has none
  */
final case class StreamerUri(nodes: Seq[String]) {
  /** Protocol of the first node, if any. */
  def protocol: Option[String] =
    nodes.headOption.flatMap { n =>
      val i = n.indexOf("://")
      if (i >= 0) Some(n.substring(0, i)) else None
    }
}

final case class StreamUrl(streamer: StreamerUri, streams: Seq[String]) {
  def streamKeys: Seq[String] = streams
  def streamKey: String =
    if (streams.length == 1) streams.head else throw StreamUrlErr.NotOneStreamKey
}

object StreamUrl {

  def parse(input: String): StreamUrl = {
    val (protocol, afterProto) = splitProtocol(input)
    afterProto.lastIndexOf('/') match {
      case -1 => throw StreamUrlErr.NoEndingSlash
      case i =>
        val urls = afterProto.substring(0, i)
        val streamsPart = afterProto.substring(i + 1)
        val streams = if (streamsPart.isEmpty) None else Some(streamsPart)
        parseUrl(protocol, urls, streams)
    }
  }

  private[core] def splitProtocol(s: String): (Option[String], String) = {
    val i = s.indexOf("://")
    if (i >= 0) (Some(s.substring(0, i)), s.substring(i + 3)) else (None, s)
  }

  private[core] def parseUrl(
      protocol: Option[String],
      urls: String,
      streams: Option[String]): StreamUrl = {
    val nodes: Seq[String] =
      if (urls.isEmpty) {
        protocol match {
          case Some(p) => Seq(s"$p://.")
          case None => throw StreamUrlErr.ProtocolRequired
        }
      } else {
        urls.split(',').toSeq.filter(_.nonEmpty).map { s =>
          protocol match {
            case Some(p) => s"$p://$s"
            case None => s
          }
        }
      }
    val keys = streams match {
      case None => Seq.empty
      case Some(ss) =>
        ss.split(',').toSeq.filter(_.nonEmpty).map { k =>
          if (!Envelope.isValidStreamKey(k)) throw StreamUrlErr.KeyErr(k)
          k
        }
    }
    StreamUrl(StreamerUri(nodes), keys)
  }
}

object StreamerUri {
  def parse(input: String): StreamerUri = {
    val (protocol, urls) = StreamUrl.splitProtocol(input)
    StreamUrl.parseUrl(protocol, urls, None).streamer
  }

  /** A node's `host[:port]` with a scheme-specific default port — the one
    * parser of the facade's connect and the `redis-stream` source's
    * `nodes`. Raw IPv6 addresses must be bracketed to carry a port
    * (`[::1]:6380`); an unbracketed multi-colon address is treated as a
    * bare host, and a trailing colon (`h:`) takes the default port.
    */
  def hostPort(addr: String, defaultPort: Int): (String, Int) = {
    if (addr.startsWith("[")) {
      val close = addr.indexOf(']')
      if (close < 0) throw SeaStreamErr.Connect(s"unclosed '[' in '$addr'")
      val host = addr.substring(1, close)
      val rest = addr.substring(close + 1)
      if (rest.startsWith(":") && rest.drop(1).nonEmpty &&
        rest.drop(1).forall(_.isDigit))
        (host, rest.drop(1).toInt)
      else (host, defaultPort)
    } else if (addr.count(_ == ':') > 1) (addr, defaultPort) // raw IPv6
    else addr.lastIndexOf(':') match {
      case -1 => (addr, defaultPort)
      case i if addr.substring(i + 1).nonEmpty &&
        addr.substring(i + 1).forall(_.isDigit) =>
        (addr.substring(0, i), addr.substring(i + 1).toInt)
      case i => (addr.substring(0, i), defaultPort) // trailing colon
    }
  }
}
