package graft.facade

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Envelope, SeaStreamErr, StreamUrl, StreamerUri}
import graft.ops.StdioParser

/** Backend-agnostic facade — the engine's public API layer, mirroring
  * `sea-streamer-socket`: one `connect(uri)` that parses the URI scheme
  * once into a closed [[Backend]] and yields envelope-schema DataFrames
  * (sea-streamer-socket/src/backend.rs:3, streamer.rs:21-45; option
  * surface consumer_options.rs:17-34; validation laws from the
  * per-backend streamers, e.g. sea-streamer-file/src/streamer.rs:129-189).
  */
object SeaStreamer {

  /** [[graft.core.StreamerUri.hostPort]], the one `host[:port]` parser. */
  def hostPort(addr: String, defaultPort: Int): (String, Int) =
    StreamerUri.hostPort(addr, defaultPort)

  /** StreamUrl → the facade's connect string (`scheme://host,host`): the
    * one node/scheme normalization every CLI front-end shares
    * ([[graft.Relay]], the `graft.examples` mains).
    */
  def connString(u: graft.core.StreamUrl): String = {
    val proto = u.streamer.protocol.getOrElse(
      throw SeaStreamErr.Connect(
        s"no protocol in '${u.streamer.nodes.mkString(",")}'"))
    val hosts = u.streamer.nodes
      .map(_.stripPrefix(proto + "://")).mkString(",")
    s"$proto://$hosts"
  }

  sealed trait ConsumerMode
  object ConsumerMode {
    /** Real-time: no commit, start from now. */
    case object RealTime extends ConsumerMode
    /** Resume from committed offsets (Spark: checkpointLocation). */
    case object Resumable extends ConsumerMode
    /** Group members share the workload. */
    case object LoadBalanced extends ConsumerMode
  }

  sealed trait AutoStreamReset
  object AutoStreamReset {
    case object Earliest extends AutoStreamReset
    case object Latest extends AutoStreamReset
  }

  /** Ack/commit policy (sea-streamer-redis/src/consumer/options.rs:17-33).
    * Spark mapping: Immediate = no checkpoint (at-most-once); Delayed/Rolling
    * = checkpointed micro-batch offsets (at-least-once); Disabled = user-
    * driven commit via foreachBatch.
    */
  sealed trait AutoCommit
  object AutoCommit {
    case object Immediate extends AutoCommit
    case object Delayed extends AutoCommit
    case object Rolling extends AutoCommit
    case object Disabled extends AutoCommit
  }

  final case class ConsumerOptions(
      mode: ConsumerMode = ConsumerMode.RealTime,
      group: Option[String] = None,
      autoStreamReset: AutoStreamReset = AutoStreamReset.Latest,
      /** false = bounded Replay read; true = Live streaming read. */
      live: Boolean = true,
      autoCommit: AutoCommit = AutoCommit.Delayed,
      /** Seek law: earliest message with timestamp STRICTLY greater than t
        * (sea-streamer-file/src/messages.rs:262-279).
        */
      seekTimestamp: Option[java.sql.Timestamp] = None,
      /** Rewind law: first message with sequence >= N (same comparison fn). */
      rewindSeqNo: Option[Long] = None,
      /** Redis backend: how many `stream:N` shard keys each stream has. */
      redisShards: Int = 1,
      /** Group member identity (`ConsumerId`): on redis this names the
        * XREADGROUP consumer, so PEL ownership and failover claims are per
        * member (sea-streamer-types/src/consumer.rs:17-27).
        */
      consumerId: Option[String] = None,
      /** `Consumer::assign`: pin to explicit (stream, shard) pairs
        * (consumer.rs:77-85). Redis reads exactly those shard keys; other
        * backends apply the equivalent shard filter.
        */
      assignShards: Option[Seq[(String, Long)]] = None,
      /** Redis: discover each stream's `stream:N` shard keys by SCAN
        * instead of trusting `redisShards` (the reference consumer's
        * discovery sweep, consumer/shard.rs:38-93).
        */
      discoverShards: Boolean = false,
      /** Iggy backend: the namespace STREAM holding the topics (stream
        * keys map to iggy TOPICS — sea-streamer-iggy/src/
        * streamer.rs:141-155 resolves stream/topic the same way).
        */
      iggyStream: String = graft.iggy.IggySource.DefaultStream,
      /** Stdio live backend: the line ordinal the node file's byte 0
        * corresponds to. Lets a caller that ROTATES the line file (drop
        * the consumed prefix into a fresh file — [[graft.Relay]]'s bounded
        * stdin spool) keep the documented restart-stable ordinals: the
        * default sequence keeps counting across rotations instead of
        * resetting to 0, which would break the monotone-per-key seq law
        * the `seq % n` group dispatch relies on.
        */
      stdioLineBase: Long = 0L,
      /** The reference consumer's batch-size flow control
        * (sea-streamer-redis `set_batch_size`, examples/src/bin/
        * resumable.rs:53 sets it): cap each LIVE micro-batch at N
        * messages, mapped to every source's native admission knob
        * (kafka `maxOffsetsPerTrigger`, redis `maxEntriesPerTrigger`,
        * iggy/ss `maxMessagesPerTrigger`). A deep backlog then drains in
        * bounded committed slices — what lets a Resumable processor stop
        * after one slice and continue from there next invocation
        * ([[graft.examples.Resumable]]). Refused on bounded Replay reads
        * and on stdio (no admission surface) rather than silently
        * dropped.
        */
      batchSize: Option[Long] = None)

  /** The backend a [[Connection]] speaks, parsed once by [[connect]] from
    * the URI scheme — the reference's closed backend enum
    * (sea-streamer-socket/src/backend.rs:3). `name` is the scheme as the
    * typed errors spell it (`rediss` is the redis backend with TLS on).
    */
  private[facade] sealed abstract class Backend(val name: String)
  private[facade] object Backend {
    /** A `.ss` store directory. */
    final case class File(path: String) extends Backend("file")
    /** A line file. `loopback` (StdioConnectOptions, streamer.rs:95-107):
      * producers on this connection also append their lines to it, so the
      * connection's consumers see them; default off like the reference.
      */
    final case class Stdio(path: String, loopback: Boolean)
        extends Backend("stdio")
    /** `security` is the connect-level `kafka.*` map: live reads hand it
      * to the `kafka-wire` DataSource, and sends read
      * `kafka.compression.type` from it. `wire` is its parse.
      */
    final case class Kafka(host: String, port: Int,
        security: Map[String, String], wire: graft.kafka.KafkaSecurity.Wire)
        extends Backend("kafka")
    /** More than one node is a cluster. */
    final case class Redis(nodes: Seq[(String, Int)],
        tls: Option[graft.redis.RedisClient.Tls],
        auth: Option[graft.redis.RedisClient.Auth]) extends Backend("redis")
    final case class Iggy(host: String, port: Int, auth: (String, String))
        extends Backend("iggy")
  }

  /** `security` is the connect-level option surface
    * ([[KafkaOptions.securityOptions]] output, streamer.rs:38-106). On
    * `kafka://` it is parsed HERE by [[graft.kafka.KafkaSecurity]] against
    * what the wire driver speaks — all four `security.protocol` modes
    * with PLAIN/SCRAM-SHA-256/512 credentials, OAUTHBEARER's
    * unsecured-bearer JAAS, or GSSAPI from the ambient krb5 environment —
    * so an unusable config fails at connect, exactly as the reference
    * errors at connect; the same map then reaches every reader and
    * writer. `rediss://` carries its TLS trust material as `redis.ssl.*`
    * keys ([[graft.redis.RedisSecurity]]); the other backends accept only
    * their own few keys and refuse the rest rather than silently dropping
    * them. An unknown scheme is refused here too.
    */
  def connect(uri: String, spark: SparkSession,
      security: Map[String, String] = Map.empty): Connection = {
    val streamer = StreamerUri.parse(uri)
    val scheme = streamer.protocol.getOrElse(
      throw SeaStreamErr.Connect(s"no protocol in '$uri'"))
    val nodes = streamer.nodes.map { n =>
      val i = n.indexOf("://")
      if (i >= 0) n.substring(i + 3) else n
    }
    def only(allowed: Set[String], what: String): Unit = {
      val stray = security.keySet -- allowed
      if (stray.nonEmpty)
        throw SeaStreamErr.Unsupported(
          s"$what, got: " + stray.toSeq.sorted.mkString(", "))
    }
    val backend: Backend = scheme match {
      case "file" =>
        if (security.nonEmpty)
          throw SeaStreamErr.Unsupported(
            s"security options on the '$scheme' backend")
        Backend.File(nodes.head)
      case "stdio" =>
        // the one stdio connect option: loopback (StdioConnectOptions,
        // sea-streamer-stdio/src/streamer.rs:14,95-107) — a producer's
        // sends become visible to this connection's own consumers
        only(Set("stdio.loopback"),
          "stdio supports only the stdio.loopback connect option")
        Backend.Stdio(nodes.head, security.get("stdio.loopback") match {
          case None | Some("false") => false
          case Some("true") => true
          case Some(v) => throw SeaStreamErr.Unsupported(
            s"stdio.loopback must be true or false, got: $v")
        })
      case "kafka" =>
        // an unusable config (a missing truststore key, protocol/credential
        // mismatch) fails at connect, not at first read
        val wire =
          try graft.kafka.KafkaSecurity.parse(security)
          catch { case e: IllegalArgumentException =>
            throw SeaStreamErr.Unsupported(
              s"kafka wire driver security: ${e.getMessage}")
          }
        val (host, port) = hostPort(nodes.head, 9092)
        Backend.Kafka(host, port, security, wire)
      case "redis" | "rediss" =>
        // `rediss` IS the redis backend with the TLS socket layer on
        // (sea-streamer-redis/src/connection.rs:131-136) — one backend, two
        // schemes, exactly the reference's dispatch. redis.ssl.* connect
        // keys parse through the ONE shared spelling (RedisSecurity — also
        // the DataSource's parse side); any malformed value surfaces as
        // the facade's typed error, never a raw parse exception
        import graft.redis.RedisSecurity
        val get = (k: String) => security.get(RedisSecurity.ConnectPrefix + k)
        val tls =
          if (scheme == "redis") None
          else {
            val parsed =
              try RedisSecurity.parse(get)
              catch { case e: IllegalArgumentException =>
                throw SeaStreamErr.Unsupported(
                  s"rediss security: ${e.getMessage}")
              }
            Some(parsed.getOrElse(throw SeaStreamErr.Unsupported(
              "rediss requires redis." + RedisSecurity.TruststoreLocation)))
          }
        // AUTH credentials — the reference's username/password connect
        // options (sea-streamer-redis/src/streamer.rs:23-24,140-152),
        // valid on BOTH schemes (credentials and encryption are orthogonal)
        val auth =
          try RedisSecurity.parseAuth(get)
          catch { case e: IllegalArgumentException =>
            throw SeaStreamErr.Unsupported(s"redis security: ${e.getMessage}")
          }
        if (tls.isDefined)
          only(RedisSecurity.ConnectKeys,
            "rediss supports only the redis.ssl.*/credential options")
        else
          only(Set(RedisSecurity.ConnectPrefix + RedisSecurity.Username,
            RedisSecurity.ConnectPrefix + RedisSecurity.Password),
            "redis supports only the credential options " +
              "(redis.username/redis.password; TLS needs rediss://)")
        Backend.Redis(nodes.map(hostPort(_, 6379)), tls, auth)
      case "iggy" =>
        // LoginUser credentials — the reference's connection-string
        // user:pass (sea-streamer-iggy/src/streamer.rs:51); default is the
        // server's bootstrap root user iggy/iggy
        only(Set("iggy.username", "iggy.password"),
          "iggy supports only the credential options " +
            "(iggy.username/iggy.password)")
        val (host, port) = hostPort(nodes.head, 8090)
        Backend.Iggy(host, port,
          (security.getOrElse("iggy.username", "iggy"),
            security.getOrElse("iggy.password", "iggy")))
      case other => throw SeaStreamErr.Unsupported(s"backend '$other'")
    }
    new Connection(spark, backend, nodes)
  }

  /** A connected backend. `nodes` are the URI's node addresses without
    * the scheme — several name a cluster, exactly the reference's
    * `StreamerUri` semantics (sea-streamer-types/src/streamer.rs:10-39).
    */
  final class Connection private[facade] (
      private[facade] val spark: SparkSession,
      private[facade] val backend: Backend,
      private[facade] val nodes: Seq[String]) {

    /** Validation laws shared with the reference backends. */
    private def validate(streams: Seq[String], opts: ConsumerOptions): Unit = {
      if (streams.isEmpty) throw SeaStreamErr.StreamKeyEmpty
      streams.foreach { k =>
        if (k != Envelope.SeaStreamerWildcard && !Envelope.isValidStreamKey(k))
          throw SeaStreamErr.InvalidStreamKey(k)
      }
      opts.assignShards.foreach(_.foreach { case (st, _) =>
        if (!streams.contains(st) &&
          !streams.contains(Envelope.SeaStreamerWildcard))
          throw SeaStreamErr.StreamKeyNotFound(st) // assign ⊆ subscription
      })
      opts.mode match {
        case ConsumerMode.RealTime =>
          if (opts.group.isDefined) throw SeaStreamErr.ConsumerGroupIsSet
        case ConsumerMode.LoadBalanced =>
          if (opts.group.isEmpty) throw SeaStreamErr.ConsumerGroupNotSet
        case ConsumerMode.Resumable => backend match {
          case _: Backend.File => // file backend does not support Resumable
            throw SeaStreamErr.Unsupported("Resumable mode on file backend")
          case _ => ()
        }
      }
      opts.batchSize.foreach { n =>
        if (n <= 0)
          throw SeaStreamErr.Unsupported(s"batchSize must be positive: $n")
        if (!opts.live)
          throw SeaStreamErr.Unsupported(
            "batchSize on a bounded Replay read (admission caps are live " +
              "flow control)")
        backend match {
          case _: Backend.Stdio =>
            throw SeaStreamErr.Unsupported(
              "batchSize on the stdio backend (the line tail has no " +
                "admission surface)")
          case _ => ()
        }
      }
    }

    /** Subscribe to streams; returns an envelope-schema DataFrame.
      * Live consumers are unbounded (`readStream`); Replay is a bounded
      * `read` of the same data (SURVEY §2.4 Live/Replay modes).
      */
    def createConsumer(
        streams: Seq[String],
        opts: ConsumerOptions = ConsumerOptions()): DataFrame = {
      val loaded = load(streams, opts)
      // seek strictly-greater / rewind greater-or-equal laws (SURVEY §2.4).
      // Redis pushes the seek into the XRANGE start id (ids are <ms>-<seq>,
      // message.rs:27-64) and iggy into the Timestamp polling strategy at
      // ms+1 (exact for the backend's ms-resolution timestamps), so no
      // residual filter is needed there; Kafka pushes startingTimestamp but
      // offsetsForTimes is >=-semantics, so the strict-> filter stays on
      // top; the ss source takes the surveyor path plus the same residual
      // filter. assign: redis reads exactly the assigned keys and the
      // kafka/iggy wire drivers prune their fetch planners; the remaining
      // backends express the pin as the equivalent (stream, shard) filter.
      val (seekPushed, assignPushed) = backend match {
        case _: Backend.Redis | _: Backend.Iggy => (true, true)
        case _: Backend.Kafka => (false, true)
        case _: Backend.File | _: Backend.Stdio => (false, false)
      }
      val sought = opts.seekTimestamp
        .filterNot(_ => seekPushed)
        .map(t => loaded.filter(col("timestamp") > lit(t)))
        .getOrElse(loaded)
      val rewound = opts.rewindSeqNo
        .map(n => sought.filter(col("sequence") >= n))
        .getOrElse(sought)
      opts.assignShards
        .filterNot(_ => assignPushed)
        .map(pairs => rewound.filter(
          pairs.map(p => col("stream_key") === p._1 &&
            col("shard_id") === p._2).reduce(_ || _)))
        .getOrElse(rewound)
    }

    /** LoadBalanced group — per-backend semantics, matching the reference:
      *
      *   - file/stdio: deterministic round-robin dispatch, member i gets
      *     `sequence % n == i` (sea-streamer-stdio/src/
      *     consumer_group.rs:101-107, sea-streamer-file/src/consumer/
      *     group.rs:490-497 — dispatch parity as a filter);
      *   - redis (live): REAL shared-shard balancing — each member is an
      *     independent XREADGROUP consumer on the same group, work split
      *     first-ask-first-served by the server-side group cursor, per-
      *     member PEL ownership, stale members' deliveries reclaimable
      *     (sea-streamer-redis/src/consumer/options.rs:100-122,
      *     tests/load-balanced.rs:18-160).
      */
    def createGroupConsumers(
        streams: Seq[String],
        group: String,
        members: Int,
        opts: ConsumerOptions = ConsumerOptions(
          mode = ConsumerMode.LoadBalanced)): Seq[DataFrame] = {
      val member = opts.copy(mode = ConsumerMode.LoadBalanced,
        group = Some(group))
      def dispatch(by: String): Seq[DataFrame] = {
        val base = createConsumer(streams, member)
        (0 until members).map { i =>
          base.filter(pmod(col(by), lit(members.toLong)) === i.toLong)
        }
      }
      backend match {
        case _: Backend.Redis if opts.live =>
          (0 until members).map { i =>
            createConsumer(streams, member.copy(
              consumerId = Some(opts.consumerId.getOrElse("member") + s"-$i")))
          }
        // iggy balances GROUPS at partition granularity (member idx owns
        // partition p where p % members == idx — the deterministic
        // assignment JoinConsumerGroup hands out), so the member split is
        // on shard_id, not sequence
        case _: Backend.Iggy => dispatch("shard_id")
        case _ => dispatch("sequence")
      }
    }

    private def load(streams: Seq[String], opts: ConsumerOptions): DataFrame = {
      validate(streams, opts)
      val subscribe = streams.mkString(",")
      // batchSize → the source's native admission-control knob (validated
      // live-only above); each backend names the cap differently
      def cap(knob: String): Map[String, String] =
        opts.batchSize.map(n => Map(knob -> n.toString)).getOrElse(Map.empty)
      val reset =
        if (opts.autoStreamReset == AutoStreamReset.Earliest) "earliest"
        else "latest"
      // assign pushes into the kafka/iggy wire planners (shard_id =
      // partition): unassigned partitions are never listed, fetched or
      // checkpointed — the pin prunes the scan, not the result
      val assignOpt = opts.assignShards
        .map(_.map(p => s"${p._1}:${p._2}").mkString(","))
      backend match {
        case Backend.File(path) =>
          if (opts.live)
            spark.readStream.format("ss")
              .option("subscribe", subscribe)
              .option("startingOffsets", reset)
              .options(cap("maxMessagesPerTrigger"))
              .load(path)
          else
            spark.read.format("ss").option("subscribe", subscribe).load(path)
        case Backend.Kafka(host, port, security, sec) =>
          if (streams.contains(Envelope.SeaStreamerWildcard))
            throw SeaStreamErr.Unsupported(
              "kafka wildcard subscribe on the wire driver (name the topics)")
          if (opts.live) {
            // the kafka-wire DataSource parses the same security strings
            // (KafkaSecurity) — pass the connect-level map through
            val base0 = spark.readStream.format("kafka-wire")
              .options(security)
              .option("host", host).option("port", port.toString)
              .option("topics", subscribe)
              .options(cap("maxOffsetsPerTrigger"))
            val base = assignOpt.fold(base0)(base0.option("assign", _))
            // a Resumable/LoadBalanced consumer anchors at the group's
            // COMMITTED offsets (the source overrides the reset anchors
            // per present partition) and re-commits as it drains —
            // resume-where-the-group-left, streamer.rs's group semantics
            val withGroup = opts.group
              .map(g => base.option("group", g)).getOrElse(base)
            // seek pushes into ListOffsets at ms+1 (offsets_for_times law);
            // the generic strict-> residual filter still applies on top
            opts.seekTimestamp
              .map(t => withGroup.option("startingTimestamp", t.getTime.toString))
              .getOrElse(withGroup.option("startingOffsets", reset))
              .load()
          } else
            graft.kafka.KafkaSource.boundedRead(spark, host, port, streams,
              afterMs = opts.seekTimestamp.map(_.getTime),
              fromOffset = opts.rewindSeqNo,
              assign = opts.assignShards,
              sasl = sec.sasl, saslMechanism = sec.saslMechanism,
              tls = sec.tls)
        case Backend.Redis(seeds, tls, auth) =>
          if (streams.contains(Envelope.SeaStreamerWildcard))
            throw SeaStreamErr.Unsupported(
              "redis wildcard subscribe (name the streams; keys are scanned per stream)")
          val (host, port) = seeds.head
          val cluster = seeds.size > 1
          val sharded = opts.redisShards > 1
          // seek (`timestamp > t`) pushes exactly; rewind (`sequence >= n`)
          // pushes its ms FLOOR as a prefix prune (packed seq = (ms<<16)|sub,
          // order-preserving) with the exact `>=` residual filter kept in
          // createConsumer. Both land in the XRANGE start id.
          val pushMs: Option[Long] =
            (opts.seekTimestamp.map(_.getTime).toSeq ++
              opts.rewindSeqNo.map(n => (n >> 16) - 1).filter(_ >= 0).toSeq)
              .maxOption
          if (opts.live) {
            // live micro-batch consumer over the XRANGE offset model
            // (graft.redis.spark.RedisDataSource — validated against an
            // in-process RESP server; real-broker group delivery untested);
            // the rediss/AUTH options are emitted by the same
            // RedisSecurity spelling the DataSource parses
            val base = spark.readStream.format("redis-stream")
              .options(tls.map(graft.redis.RedisSecurity.options)
                .getOrElse(Map.empty))
              .options(auth.map(graft.redis.RedisSecurity.authOptions)
                .getOrElse(Map.empty))
              .option("host", host).option("port", port.toString)
              .option("streams", subscribe)
              .option("shards", opts.redisShards.toString)
              .option("discoverShards", opts.discoverShards.toString)
              .options(cap("maxEntriesPerTrigger"))
              .options(opts.assignShards
                .map(pairs => Map("assign" -> pairs.map { case (st, sh) =>
                  graft.redis.RedisStreams.shardedKey(st, sh, sharded)
                }.mkString(","))).getOrElse(Map.empty))
            // multi-node URI = cluster: bootstrap the slot map and route
            // each shard key's partition to its owner node
            val withCluster =
              if (cluster)
                base.option("cluster", "true")
                  .option("nodes", nodes.mkString(","))
              else base
            val withGroup = opts.group
              .map(g => withCluster.option("group", g)).getOrElse(withCluster)
              .options(opts.consumerId
                .map(c => Map("consumerName" -> c)).getOrElse(Map.empty))
            pushMs
              .map(ms => withGroup.option("startingTimestamp", ms.toString))
              .getOrElse(withGroup.option("startingOffsets", reset))
              .load()
          } else {
            val clusterSeeds = if (cluster) Some(seeds) else None
            if (opts.discoverShards && opts.assignShards.isEmpty) {
              // SCAN every master for the streams' shard keys (the slot map
              // usually knows more nodes than the seed list), then read them
              val sweepNodes = clusterSeeds.map { ss =>
                val cc = new graft.redis.RedisClusterClient(ss, tls, auth)
                try {
                  val m = try Some(cc.bootstrapSlots())
                          catch { case scala.util.control.NonFatal(_) => None }
                  m.filterNot(_.isEmpty).map(_.nodes).getOrElse(ss)
                } finally cc.close()
              }.getOrElse(Seq((host, port)))
              val found = sweepNodes
                .flatMap { case (h, p) =>
                  graft.redis.RedisClient.retrying() {
                    val c = new graft.redis.RedisClient(h, p,
                      tls = tls, auth = auth)
                    try streams.flatMap(st =>
                      graft.redis.RedisStreams.discoverShardKeys(c, st))
                    finally c.close()
                  }
                }.distinct.sortBy(_._1)
              graft.redis.RedisSource.boundedReadKeys(spark, host, port,
                found, afterMs = pushMs, clusterSeeds = clusterSeeds,
                tls = tls, auth = auth)
            } else
              graft.redis.RedisSource.boundedRead(spark, host, port,
                opts.assignShards.getOrElse(
                  streams.flatMap(st => (0L until opts.redisShards.toLong)
                    .map(sh => (st, sh)))),
                sharded = sharded,
                afterMs = pushMs,
                clusterSeeds = clusterSeeds,
                tls = tls, auth = auth)
          }
        case Backend.Iggy(host, port, auth) =>
          // stream keys are iggy TOPICS inside the namespace stream; the
          // reference adapter's seek/rewind/assign are Unsupported
          // (sea-streamer-iggy/src/consumer.rs:65-90) — this re-expression
          // is parity-plus: seek rides the Timestamp polling strategy,
          // rewind/assign the generic residual filters
          if (streams.contains(Envelope.SeaStreamerWildcard))
            throw SeaStreamErr.Unsupported(
              "iggy wildcard subscribe (name the topics)")
          val pushMs = opts.seekTimestamp.map(_.getTime)
          if (opts.live) {
            val base0 = spark.readStream.format("iggy-stream")
              .option("host", host).option("port", port.toString)
              .option("username", auth._1)
              .option("password", auth._2)
              .option("stream", opts.iggyStream)
              .option("topics", subscribe)
              .options(cap("maxMessagesPerTrigger"))
            val base = assignOpt.fold(base0)(base0.option("assign", _))
            val withGroup = opts.group
              .map(g => base.option("group", g)).getOrElse(base)
            pushMs
              .map(ms => withGroup.option("startingTimestamp", ms.toString))
              .getOrElse(withGroup.option("startingOffsets", reset))
              .load()
          } else
            // bounded group semantics: only Resumable CONSUMES the stored
            // group cursor (Next + AfterPolling commit). A LoadBalanced
            // bounded read must NOT — each member runs its own read, and a
            // committing first member would starve the rest; the member
            // split is the deterministic partition dispatch instead
            // (createGroupConsumers' shard filter)
            graft.iggy.IggySource.boundedRead(spark, host, port,
              topics = streams, stream = opts.iggyStream,
              afterMs = pushMs,
              group = opts.group.filter(_ =>
                opts.mode == ConsumerMode.Resumable),
              // rewind (`sequence >= n`) pushes as the AtOffset start; the
              // generic >= residual in createConsumer stays (a no-op on the
              // pruned scan)
              fromOffset = opts.rewindSeqNo,
              assign = opts.assignShards,
              auth = auth)
        case Backend.Stdio(path, _) =>
          // distributed stdin does not exist: the node address is a line
          // FILE — Replay reads it bounded, Live TAILS it (the reference's
          // dedicated stdin thread, streamer.rs:66-79, re-expressed as the
          // stdio-lines micro-batch source whose offsets are byte positions
          // at line boundaries). Keyless lines are the `broadcast` stream
          // (lib.rs:60) and reach every subscriber (consumer_group.rs:81).
          val lines =
            if (opts.live)
              spark.readStream.format("stdio-lines")
                .option("startingOffsets", reset)
                .option("lineBase", opts.stdioLineBase.toString)
                .option("path", path).load()
            else StdioParser.toEnvelope(spark.read.text(path))
          lines.where(col("stream_key") === "broadcast" ||
            col("stream_key").isin(streams: _*) ||
            lit(streams.contains(Envelope.SeaStreamerWildcard)))
      }
    }

    /** Manual ack/commit handle with the reference's guard laws
      * (sea-streamer-redis/src/consumer/mod.rs:186-268,
      * sea-streamer-types/src/error.rs:26-27). In Spark the actual commit is
      * the checkpointed epoch; these guards preserve the API contract.
      */
    def committer(opts: ConsumerOptions): Committer = new Committer(opts)

    /** Whether this backend keeps consumer-group offsets that a
      * Resumable consumer continues from: kafka, redis and iggy do; a
      * `.ss` store and a stdio line file keep none.
      */
    def hasGroupOffsets: Boolean = backend match {
      case _: Backend.Kafka | _: Backend.Redis | _: Backend.Iggy => true
      case _: Backend.File | _: Backend.Stdio => false
    }

    /** Whether [[commitConsumed]] has a commit branch for this backend
      * (kafka and redis, `rediss` included).
      */
    def commitsConsumed: Boolean = backend match {
      case _: Backend.Kafka | _: Backend.Redis => true
      case _: Backend.File | _: Backend.Stdio | _: Backend.Iggy => false
    }

    /** The reference resumable processor's EXPLICIT commit surface
      * (examples/src/bin/resumable.rs:70-86 — the loop branches
      * `consumer.get_kafka().commit_with(&identifier)` and
      * `consumer.get_redis().ack_with(&identifier); consumer.commit()`):
      * durably record a consumed prefix in the broker's group offset
      * store, from a stopped streaming query's final progress. This
      * exists because Spark's source-commit cadence runs one batch
      * BEHIND (batch N's `source.commit` fires while batch N+1 is
      * constructed), so a processor that exits after its last batch must
      * commit that batch itself — precisely what the reference's
      * explicit calls do per message.
      *
      * `endOffsetJson` is the stopped query's
      * `lastProgress.sources[i].endOffset` — lastProgress only ever
      * reflects COMPLETED batches, so the recorded prefix is exactly what
      * was emitted downstream. kafka: OffsetCommit of exactly those
      * (topic, partition) → offset pairs under `group`. redis: XACK this
      * group's pending entries UP TO each key's committed end id — never
      * past it, because a capped group batch can overshoot (a `>` page's
      * tail is delivered-but-unemitted, parked in the PEL for the next
      * window; acking it here would be loss). Backends with no group
      * offset store refuse (the reference's loop simply has no branch for
      * them — their resumable processor would silently restart from
      * scratch; a typed refusal beats that).
      */
    def commitConsumed(group: String, endOffsetJson: Option[String]): Unit =
      backend match {
        case Backend.Kafka(host, port, _, sec) =>
          val offs = endOffsetJson
            .map(graft.core.DenseOffset.fromJson(_).offs)
            .getOrElse(Map.empty)
          if (offs.nonEmpty) {
            val c = new graft.kafka.KafkaClient(host, port,
              sasl = sec.sasl, saslMechanism = sec.saslMechanism,
              tls = sec.tls)
            try {
              c.findCoordinator(group)
              c.commitOffsets(group, offs)
            } finally c.close()
          }
        case Backend.Redis(seeds, tls, auth) =>
          import graft.redis.{RedisStreams, Resp}
          // the offset map's keys ARE the (sharded) stream keys the query
          // consumed; each value is the highest id that batch emitted
          val ids = endOffsetJson
            .map(graft.redis.spark.RedisOffset.fromJson(_).ids)
            .getOrElse(Map.empty)
          if (ids.nonEmpty) {
            val (host, port) = seeds.head
            val c = new graft.redis.RedisClient(host, port,
              tls = tls, auth = auth)
            try ids.toSeq.sortBy(_._1).foreach { case (k, endId) =>
              if (endId != "0-0") {
                // summary XPENDING gives the pending window; XRANGE over
                // [min, endId] enumerates the consumed ids (a superset of
                // the pending subset is safe — XACK of an already-acked
                // id is a no-op by redis contract)
                val pending =
                  try c.command(RedisStreams.xpending(k, group): _*)
                  catch {
                    // group never created = nothing was ever delivered
                    case e: graft.redis.RedisClient.RedisError
                      if e.getMessage.contains("NOGROUP") => Resp.NullArr
                  }
                pending match {
                  case Resp.Arr(Resp.Num(n) +: (min: Resp.Bulk) +: _)
                      if n > 0 &&
                        RedisStreams.idCompare(min.utf8, endId) <= 0 =>
                    var cursor = min.utf8
                    var done = false
                    while (!done) {
                      val page = c.command(RedisStreams.xrange(k, cursor,
                        endId, count = Some(10000)): _*) match {
                        case Resp.Arr(entries) => entries.collect {
                          case Resp.Arr((id: Resp.Bulk) +: _) => id.utf8
                        }
                        case _ => Seq.empty
                      }
                      if (page.nonEmpty)
                        c.command(RedisStreams.xack(k, group, page): _*)
                      if (page.size < 10000) done = true
                      else cursor = RedisStreams.idSuccessor(page.last)
                    }
                  case _ => ()
                }
              }
            } finally c.close()
          }
        case other @ (_: Backend.File | _: Backend.Stdio | _: Backend.Iggy) =>
          throw SeaStreamErr.Unsupported(
            s"commitConsumed on backend '${other.name}' (no group offset " +
              "store — the reference's resumable loop has no commit " +
              "branch for it)")
      }

    private def validateLoopbackNode(): Unit = backend match {
      case Backend.Stdio(path, true) if path == "-" || path == "." =>
        throw SeaStreamErr.Unsupported(
          "stdio.loopback needs a line-file node (stdio://<path>) — " +
            s"'$path' has no file for consumers to read back")
      case _ => ()
    }

    /** Anchored producer: writes an envelope DataFrame to one stream.
      * `redisShards` must match the consumers' (keys are `stream:N` when
      * sharded, the bare stream when not).
      */
    def createProducer(stream: String, redisShards: Int = 1,
        iggyPartitions: Int = 4,
        iggyStream: String = graft.iggy.IggySource.DefaultStream,
        redisClampToTip: Boolean = false): Producer = {
      if (!Envelope.isValidStreamKey(stream) || stream.isEmpty)
        throw SeaStreamErr.InvalidStreamKey(stream)
      validIggyStream(iggyStream)
      validateLoopbackNode()
      new Producer(backend, Some(stream), redisShards, iggyPartitions,
        iggyStream, redisClampToTip)
    }

    /** Generic producer: stream key comes from each row. */
    def createGenericProducer(redisShards: Int = 1,
        iggyPartitions: Int = 4,
        iggyStream: String = graft.iggy.IggySource.DefaultStream,
        redisClampToTip: Boolean = false): Producer = {
      validIggyStream(iggyStream)
      validateLoopbackNode()
      new Producer(backend, None, redisShards, iggyPartitions, iggyStream,
        redisClampToTip)
    }

    /** The iggy namespace stream follows the same key grammar as stream
      * keys — reject it at construction (the facade's typed-error contract)
      * instead of surfacing an opaque wire error from an executor at send
      * time.
      */
    private def validIggyStream(name: String): Unit =
      if (!Envelope.isValidStreamKey(name) || name.isEmpty)
        throw SeaStreamErr.InvalidStreamKey(name)
  }

  /** Exactly-once relay between two connected backends — ONE surface over
    * the relay matrix: four sources (kafka, redis, iggy, a `.ss` file
    * directory) × two destinations (a kafka transaction, a redis
    * WATCH/MULTI ledger). The backend pair builds a
    * [[graft.eos.RelaySource]] and a [[graft.eos.RelayDestination]], and
    * [[graft.eos.RelayDriver]] drains the one into the other — a `.ss`
    * directory too ([[graft.eos.FileRelaySource]]: one byte cursor per
    * part file, its frames fanned out to many destination keys).
    *
    * `anchor` names the durable resume point: on kafka destinations it is
    * the consumer group AND the transactional-id prefix (`anchor` /
    * `"$anchor-txn"`); on redis destinations, the ledger key prefix. Reuse
    * the same anchor to resume; change it to restart from the beginning.
    * `rename` maps each source stream/topic to its destination name —
    * identity is refused when both ends share a broker (a relay into its
    * own source would chase its own appends forever;
    * [[graft.eos.RelayDriver]] checks the pair, as it does cross-cluster
    * kafka→kafka and a non-injective rename onto redis). `redisShards` is
    * the shard fan of redis SOURCES (redis shards live in key names, not
    * broker metadata — the consumer must name them, consumer/shard.rs:
    * 34-36); it is ignored for kafka sources, whose partitions come from
    * Metadata. Drains the source completely; returns records relayed.
    *
    * A file directory ships with `streams = Seq("*")` for everything, or
    * a subscription subset — skipped frames consume positions without
    * shipping, like aborted slots on a kafka source. An iggy endpoint
    * relays the default `graft` namespace stream. As a DESTINATION
    * file/stdio/iggy stay refused — no transactional or compare-and-set
    * primitive to anchor a resume point on — and multi-node (cluster)
    * endpoints need the hash-slot-aware writer
    * ([[graft.redis.RedisSource.writeExactlyOnceCluster]]): typed errors
    * rather than a silently downgraded exactly-once contract.
    */
  def relayExactlyOnce(source: Connection, destination: Connection,
      streams: Seq[String], anchor: String,
      rename: String => String = identity,
      redisShards: Int = 4, cap: Long = 100000L,
      /** Per-epoch transaction bound for FILE sources, in BYTES (file
        * cursors are byte offsets; `cap` bounds the broker sources in
        * records). */
      fileCapBytes: Long = 64L << 20,
      /** Destination partition fan for file→kafka (frames map to
        * `floorMod(shard_id, filePartitions)` — KafkaEosSink's rule;
        * broker sources carry their partition 1:1 instead). */
      filePartitions: Int = 4): Long = {
    val (src, dst) = relayEnds("relayExactlyOnce", source, destination,
      streams, redisShards, anchor, rename, cap, fileCapBytes,
      Some(filePartitions))
    src match {
      case f: graft.eos.FileRelaySource if f.paths.isEmpty =>
        throw SeaStreamErr.Connect(
          s"no .ss part files under ${source.nodes.head}")
      case _ => ()
    }
    graft.eos.RelayDriver.all(source.spark, src, dst)
  }

  /** The checked source and destination of a relay, shared by
    * [[relayExactlyOnce]] and [[relayLag]]: stream-key grammar, the
    * matrix's backends, single-node endpoints and the file-only `*`
    * wildcard. The caps bound each epoch (the defaults leave a file's tip
    * unbounded — the lag view), and `filePartitions` folds file shards
    * into a kafka destination's partitions (None keeps them whole, as
    * redis keys do).
    */
  private def relayEnds(what: String, source: Connection,
      destination: Connection, streams: Seq[String], redisShards: Int,
      anchor: String, rename: String => String, cap: Long = 100000L,
      fileCapBytes: Long = Long.MaxValue,
      filePartitions: Option[Int] = None)
      : (graft.eos.RelaySource, graft.eos.RelayDestination) = {
    if (streams.isEmpty) throw SeaStreamErr.StreamKeyEmpty
    streams.foreach { s =>
      if (s != "*" && !Envelope.isValidStreamKey(s))
        throw SeaStreamErr.InvalidStreamKey(s)
    }
    require(redisShards > 0, "redisShards must be positive")
    val src: graft.eos.RelaySource = source.backend match {
      case Backend.Kafka(host, port, _, sec) =>
        graft.eos.KafkaRelaySource(host, port, streams, cap,
          sasl = sec.sasl, saslMechanism = sec.saslMechanism, tls = sec.tls)
      case Backend.Redis(seeds, tls, auth) =>
        graft.eos.RedisRelaySource(seeds.head._1, seeds.head._2,
          streams.flatMap(st =>
            (0L until redisShards.toLong).map(sh => (st, sh))), cap,
          tls = tls, auth = auth)
      case Backend.Iggy(host, port, auth) =>
        graft.eos.IggyRelaySource(host, port,
          graft.iggy.IggySource.DefaultStream, streams, cap, auth = auth)
      case Backend.File(dir) =>
        val parts = Option(new java.io.File(dir).listFiles())
          .getOrElse(Array.empty).filter(_.getName.endsWith(".ss"))
          .sortBy(_.getName).map(_.getAbsolutePath).toSeq
        graft.eos.FileRelaySource(parts, fileCapBytes,
          filePartitions.filter(_ =>
            destination.backend.isInstanceOf[Backend.Kafka]),
          if (streams == Seq("*")) None else Some(streams.toSet))
      case b: Backend.Stdio =>
        throw SeaStreamErr.Unsupported(
          s"$what source on the '${b.name}' backend — no anchored cursor " +
            "space to resume from")
    }
    val dst: graft.eos.RelayDestination = destination.backend match {
      case Backend.Kafka(host, port, _, sec) =>
        graft.eos.KafkaTxnDestination(host, port, group = anchor,
          txnIdPrefix = s"$anchor-txn", topicOf = rename, sasl = sec.sasl,
          saslMechanism = sec.saslMechanism, tls = sec.tls)
      case Backend.Redis(seeds, tls, auth) =>
        graft.eos.RedisLedgerDestination(seeds.head._1, seeds.head._2,
          ledgerPrefix = anchor, streamOf = rename, tls = tls, auth = auth)
      case b @ (_: Backend.File | _: Backend.Stdio | _: Backend.Iggy) =>
        throw SeaStreamErr.Unsupported(
          s"$what destination on the '${b.name}' backend — no " +
            "transactional or compare-and-set primitive to anchor the " +
            "resume point on")
    }
    Seq("source" -> source, "destination" -> destination).foreach {
      case (end, c) =>
        if (c.nodes.size != 1)
          throw SeaStreamErr.Unsupported(
            s"$what $end must be a single node, got " +
              s"${c.nodes.mkString(",")} (redis clusters relay via " +
              "RedisSource.writeExactlyOnceCluster's hash-slot form)")
    }
    if (streams.contains("*")) src match {
      case _: graft.eos.FileRelaySource => ()
      case _ => throw SeaStreamErr.Unsupported(
        s"the '*' wildcard relays only from file directories (their part" +
          s" files carry every stream); a '${source.backend.name}' source " +
          "needs explicit names")
    }
    if (streams.contains("*") && streams.size > 1)
      throw SeaStreamErr.Unsupported(
        "'*' mixed with named streams is ambiguous — it would read as a " +
          "LITERAL stream key in the filter; pass '*' alone or only names")
    (src, dst)
  }

  /** One coordinate's relay progress, from [[relayLag]]. `tip` and
    * `cursor` share the relay's own position space — dense offsets for a
    * kafka or iggy source (a kafka tip is the LAST STABLE OFFSET: aborted
    * and still-open transactions are not relayable and must not count as
    * lag), packed entry ids (`(ms << 16) | sub_seq`) for a redis source;
    * `cursor` is the next-unrelayed position from the anchor (0 when the
    * relay has never run). `behindRecords` is the pending position count
    * for dense sources — offsets, exactly kafka's own lag metric: slots
    * occupied by aborted transactions and control markers count (they are
    * positions the relay must still traverse), while records of a
    * still-OPEN transaction never do (the tip is the LSO). Absent for
    * redis sources (entry ids are sparse; counting would scan the
    * backlog).
    * `behindMs` is the backlog's time span, newest-pending minus
    * oldest-pending entry timestamp — present for redis sources (ids
    * carry their ms), absent for kafka (offset→time needs a fetch).
    * For `.ss` FILE sources the coordinate is (file name, 0), tip/cursor
    * are frame-exact byte offsets (tip = the last COMPLETE frame's end —
    * a live appender's torn tail is never lag), and `behindBytes` is
    * their distance. A drained coordinate reads behind 0 / Some(0).
    */
  final case class RelayLag(tip: Long, cursor: Long,
      behindRecords: Option[Long], behindMs: Option[Long],
      behindBytes: Option[Long] = None) {
    def drained: Boolean = cursor >= tip
  }

  /** Progress probe for an exactly-once relay — the operational
    * consumer-lag metric over the [[relayExactlyOnce]] matrix: the
    * source's pinned tips against the destination's committed cursors,
    * read by the SAME planner the relay plans its epochs with (so
    * isolation rules match: a kafka tip is the LSO, a redis tip the
    * `XREVRANGE … COUNT 1` probe). Driver-side only — no Spark job, no
    * data movement. Same backend/endpoint validation and `anchor`
    * semantics as the relay; coordinates are (stream/topic,
    * shard/partition).
    */
  def relayLag(source: Connection, destination: Connection,
      streams: Seq[String], anchor: String,
      redisShards: Int = 4): Map[(String, Long), RelayLag] = {
    val (src, dst) = relayEnds("relayLag", source, destination, streams,
      redisShards, anchor, identity)
    val points = src.tips(dst.cursors(src))
    points.zip(src.backlog(points)).map { case (p, b) =>
      (p.coord._1, p.coord._2.toLong) ->
        RelayLag(p.tip, p.cursor, b.records, b.ms, b.bytes)
    }.toMap
  }

  final class Committer(opts: ConsumerOptions) {
    import SeaStreamer.{AutoCommit => AC}

    /** Mark processed up to a position (Rolling/Disabled only). */
    def ack(): Unit = opts.mode match {
      case ConsumerMode.RealTime => throw SeaStreamErr.CommitNotAllowed
      case _ => opts.autoCommit match {
        case AC.Rolling | AC.Disabled => ()
        case other => throw SeaStreamErr.Unsupported(
          s"ack() with AutoCommit.$other (use Rolling or Disabled)")
      }
    }

    /** Commit the cursor now (Disabled only). */
    def commit(): Unit = opts.mode match {
      case ConsumerMode.RealTime => throw SeaStreamErr.CommitNotAllowed
      case _ => opts.autoCommit match {
        case AC.Disabled => ()
        case other => throw SeaStreamErr.Unsupported(
          s"commit() with AutoCommit.$other (use Disabled)")
      }
    }
  }

  final class Producer private[facade] (
      backend: Backend,
      anchor: Option[String],
      /** Redis key naming: rows land on `stream:shard_id` keys when > 1
        * (must agree with the consumers' `redisShards`).
        */
      redisShards: Int,
      /** Iggy: partitions per topic at create-if-not-exists
        * (IggyProducerOptions::partitions_count, options.rs:306-318).
        */
      iggyPartitions: Int,
      /** Iggy namespace stream — must match the consumers'
        * `ConsumerOptions.iggyStream` or they will never see this
        * producer's data.
        */
      iggyStream: String,
      /** Redis sends floor their ms-packed ids at each key's current tip
        * ([[graft.redis.RedisSource.write]] `clampToTip`) so a re-send of
        * rows at-or-below the tip — a relay restarted mid-batch — lands
        * as duplicates instead of crash-looping on the server's
        * "equal or smaller" refusal. Default off: first-run producers pay
        * no tip probe and non-monotone sends stay loud.
        */
      redisClampToTip: Boolean) {

    private def redisSharded: Boolean = redisShards > 1

    /** An anchored producer can only anchor once (producer.rs:59-65). */
    def anchored: String = anchor.getOrElse(throw SeaStreamErr.NotAnchored)

    /** The rows with this producer's anchor stamped as their stream key. */
    private def keyed(df: DataFrame): DataFrame =
      anchor.fold(df)(key => df.withColumn("stream_key", lit(key)))

    /** Bounded send assigning per-(stream, shard) sequences that continue
      * from the store's current max — the file producer-registry behavior
      * (sea-streamer-file/src/producer/backend.rs:36-50). Rows are ordered
      * by (timestamp, arrival) within each key.
      *
      * Registry recovery is a Spark aggregation over the ss source (beacon
      * splits parallelize the scan across executors), not a driver-side walk
      * of every part file. Like the reference's in-process registry this
      * assumes a single active producer per store: the read-then-append is
      * not atomic, so two concurrent producers could base off the same max —
      * cross-process exclusion needs an external lock.
      */
    def sendAssignSeq(df: DataFrame): Unit = {
      assignAndWrite(df).unpersist()
      ()
    }

    /** [[sendAssignSeq]] returning one Receipt per message — the written
      * MessageHeader (stream_key, shard_id, sequence, timestamp), the
      * reference's `Producer::send -> Receipt` future resolved
      * (sea-streamer-types/src/producer.rs:8-9; our bounded send is
      * synchronous, so the future is already complete when this returns).
      * The assignment is locally checkpointed (lineage SEVERED) before the
      * write, so the receipts can only ever be the rows that were committed:
      * losing the materialized blocks raises an error instead of silently
      * recomputing the assignment against the store the write just changed.
      */
    def sendAssignSeqReceipts(df: DataFrame): DataFrame =
      assignAndWrite(df).select("stream_key", "shard_id", "sequence", "timestamp")

    /** Assign sequences, persist the assignment, append it to the store;
      * returns the persisted assignment.
      */
    private def assignAndWrite(df: DataFrame): DataFrame = {
      val path = backend match {
        case Backend.File(p) => p
        case other =>
          throw SeaStreamErr.Unsupported(s"sendAssignSeq on '${other.name}'")
      }
      val spark0 = df.sparkSession
      import spark0.implicits._
      val bases = spark0.read.format("ss").load(path)
        .groupBy("stream_key", "shard_id")
        .agg(max(col("sequence")).as("__base"))
      // tie-break must be content-derived: a monotonically_increasing_id
      // differs across stage retries, which would let a retried task assign
      // sequences inconsistent with parts already committed by other tasks
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("stream_key"), col("shard_id"))
        .orderBy(col("timestamp"), col("__arrival"))
      val assigned = keyed(df)
        .withColumn("__arrival", xxhash64(col("payload"), col("timestamp")))
        .join(broadcast(bases), Seq("stream_key", "shard_id"), "left")
        .withColumn("sequence",
          coalesce(col("__base"), lit(-1L)) +
            row_number().over(w).cast("long"))
        .drop("__base", "__arrival")
        .select("stream_key", "shard_id", "sequence", "timestamp", "payload")
        .localCheckpoint(true) // materialize + sever lineage before writing
      assigned.write.format("ss").mode("append").save(path)
      assigned
    }

    /** Receipts for a caller-sequenced bounded [[send]]: the headers as
      * written (the send is synchronous, so durability is already settled).
      */
    def sendReceipts(df: DataFrame): DataFrame = {
      send(df)
      keyed(df).select("stream_key", "shard_id", "sequence", "timestamp")
    }

    /** Live (unbounded) producer: every micro-batch of the streaming
      * envelope frame is sent through the same backend write path — the
      * reference's background producer task
      * (sea-streamer-redis/src/producer.rs:285-518) as a `foreachBatch`
      * loop, with the epoch commit as the flush barrier (SURVEY §3.2).
      *
      * `exactlyOnceLedger` upgrades at-least-once epoch replay to
      * exactly-once via the marker ledger ([[graft.ops.ExactlyOnce]]) — the
      * Spark-native analogue of the reference's Kafka transactional
      * producer; point it next to the checkpoint.
      *
      * `kafkaTransactionalId` (kafka wire driver only) upgrades the live
      * producer to the REAL thing instead of the analogue: each epoch
      * writes through [[graft.kafka.KafkaEosSink]] — per-slot KIP-98
      * transactions carrying the epoch watermark as an offsets-in-txn
      * ledger under the group `<id>-ledger`, restart fencing on the
      * stable `<id>-<slot>` transactional ids, idempotent epoch replay.
      * This is the reference producer's `transaction` surface
      * (sea-streamer-kafka/src/producer.rs:236-301) composed into the
      * streaming send path; a read_committed consumer of the sink sees
      * exactly-once output across any crash/restart pattern (k8's law).
      *
      * `redisLedgerPrefix` (redis driver only) is the same upgrade on the
      * primitives redis has: each epoch writes through
      * [[graft.redis.RedisSource.writeExactlyOnce]] — per-slot WATCH +
      * MULTI/EXEC transactions with the epoch watermark as a plain ledger
      * key under this prefix, zombie attempts fenced by the WATCH (r8's
      * law). The three exactly-once mechanisms are mutually exclusive.
      *
      * `eosSlots` is the fixed writer-slot count BOTH transactional sinks
      * repartition onto — it is part of the checkpoint lineage (a slot's
      * ledger records what that slot committed), so it must NEVER change
      * across restarts of the same checkpoint; pick it once per pipeline.
      * `kafkaEosPartitions` is the destination-partition spread of the
      * kafka sink (`shard_id % partitions`); the topic must have at least
      * that many partitions.
      */
    def sendStream(df: DataFrame, checkpointLocation: String,
        exactlyOnceLedger: Option[String] = None,
        kafkaTransactionalId: Option[String] = None,
        redisLedgerPrefix: Option[String] = None,
        eosSlots: Int = 8,
        kafkaEosPartitions: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
      if (backend.isInstanceOf[Backend.Stdio])
        throw SeaStreamErr.Unsupported(s"live producer on '${backend.name}'")
      if (kafkaTransactionalId.isDefined && !backend.isInstanceOf[Backend.Kafka])
        throw SeaStreamErr.Unsupported(
          s"kafkaTransactionalId on '${backend.name}' (kafka only)")
      if (redisLedgerPrefix.isDefined && !backend.isInstanceOf[Backend.Redis])
        throw SeaStreamErr.Unsupported(
          s"redisLedgerPrefix on '${backend.name}' (redis only)")
      if (Seq(exactlyOnceLedger, kafkaTransactionalId, redisLedgerPrefix)
        .count(_.isDefined) > 1)
        throw SeaStreamErr.Unsupported(
          "choose ONE exactly-once mechanism: the kafka transactional " +
            "producer, the redis WATCH+MULTI sink, or the marker ledger")
      require(eosSlots > 0, "eosSlots must be positive")
      def eachEpoch(out: DataFrame)(body: (DataFrame, Long) => Unit) =
        out.writeStream
          .option("checkpointLocation", checkpointLocation)
          .foreachBatch(body).start()
      (backend, redisLedgerPrefix, kafkaTransactionalId, exactlyOnceLedger) match {
        case (Backend.Redis(seeds, tls, auth), Some(prefix), _, _) =>
          val sharded = redisSharded
          // multi-node connect = cluster, like every other redis write
          // path: the sink switches to per-key {hash-tagged} transactions
          // so MULTI stays single-slot legal on the owning node
          eachEpoch(keyed(df)) {
            if (seeds.size > 1)
              (batch, epochId) =>
                graft.redis.RedisSource.writeExactlyOnceCluster(batch, seeds,
                  ledgerPrefix = prefix, epochId = epochId,
                  sharded = sharded, tls = tls, auth = auth)
            else
              (batch, epochId) =>
                graft.redis.RedisSource.writeExactlyOnce(batch,
                  seeds.head._1, seeds.head._2, ledgerPrefix = prefix,
                  epochId = epochId, sharded = sharded, numSlots = eosSlots,
                  tls = tls, auth = auth)
          }
        case (Backend.Kafka(host, port, security, sec), _, Some(txnId), _) =>
          val compression = security.getOrElse("kafka.compression.type", "none")
          eachEpoch(keyed(df)) { (batch, epochId) =>
            graft.kafka.KafkaEosSink.writeEpoch(batch, host, port,
              txnIdPrefix = txnId, ledgerGroup = s"$txnId-ledger",
              epochId = epochId, partitions = kafkaEosPartitions,
              numSlots = eosSlots, sasl = sec.sasl,
              saslMechanism = sec.saslMechanism, tls = sec.tls,
              compression = compression)
          }
        case (Backend.File(path), _, _, None) =>
          // the ss streaming sink is already exactly-once (epoch-keyed parts)
          keyed(df).writeStream.format("ss")
            .option("checkpointLocation", checkpointLocation)
            .option("path", path).start()
        case _ =>
          val body: (DataFrame, Long) => Unit = (batch, _) => send(batch)
          eachEpoch(df)(exactlyOnceLedger
            .map(graft.ops.ExactlyOnce.epochOnce(_)(body)).getOrElse(body))
      }
    }

    /** `XTRIM key MAXLEN ~ n` across a stream's shard keys — the reference
      * producer's trim_stream_max_len (producer.rs:168-218). Returns the
      * number of entries dropped. Redis only.
      */
    def trimMaxLen(stream: String, maxLen: Long, shards: Int = -1): Long =
      redisTrim(stream, resolvedShards(shards),
        key => graft.redis.RedisStreams.xtrimMaxLen(key, maxLen))

    /** `XTRIM key MINID ~ <ms>-0` — drop entries older than a timestamp
      * (trim_stream_min_ts, same reference surface).
      */
    def trimMinTimestamp(stream: String, ts: java.sql.Timestamp,
        shards: Int = -1): Long =
      redisTrim(stream, resolvedShards(shards),
        key => graft.redis.RedisStreams.xtrimMinId(key, s"${ts.getTime}-0"))

    /** Default to this producer's own sharding so trim touches the keys it
      * writes. */
    private def resolvedShards(shards: Int): Int =
      if (shards <= 0) redisShards else shards

    private def redisTrim(stream: String, shards: Int,
        cmd: String => Seq[Array[Byte]]): Long = {
      val (seeds, tls, auth) = backend match {
        case Backend.Redis(seeds, tls, auth) => (seeds, tls, auth)
        case other => throw SeaStreamErr.Unsupported(
          s"stream trim on '${other.name}' (use ss.SsAdmin for file stores)")
      }
      def num(v: graft.redis.Resp.Value): Long = v match {
        case graft.redis.Resp.Num(n) => n
        case other => throw new IllegalArgumentException(s"bad XTRIM reply: $other")
      }
      val keys = (0L until shards.toLong).map(sh =>
        graft.redis.RedisStreams.shardedKey(stream, sh, shards > 1))
      if (seeds.size > 1) {
        // cluster: route each shard key to its slot owner like the writes do
        val cc = new graft.redis.RedisClusterClient(seeds, tls, auth)
        try {
          try cc.bootstrapSlots()
          catch { case scala.util.control.NonFatal(_) => () }
          keys.map(key => num(cc.command(key, cmd(key): _*))).sum
        } finally cc.close()
      } else {
        val (host, port) = seeds.head
        val client = new graft.redis.RedisClient(host, port,
          tls = tls, auth = auth)
        try keys.map(key => num(client.command(cmd(key): _*))).sum
        finally client.close()
      }
    }

    /** Bounded send of an envelope DataFrame. */
    def send(df: DataFrame): Unit = {
      val out = keyed(df)
      backend match {
        case Backend.File(path) =>
          out.write.format("ss").mode("append").save(path)
        case Backend.Kafka(host, port, security, sec) =>
          graft.kafka.KafkaSource.write(out, host, port,
            sasl = sec.sasl, saslMechanism = sec.saslMechanism,
            tls = sec.tls,
            // the reference producer's compression.type option
            // (sea-streamer-kafka/src/producer.rs:85-86) through the
            // connect-level kafka.-prefixed passthrough
            compression =
              security.getOrElse("kafka.compression.type", "none"))
        case Backend.Redis(seeds, tls, auth) =>
          // multi-node URI = cluster: keys routed to their slot owners
          // with MOVED replay (the reference producer's redirect loop)
          graft.redis.RedisSource.write(out, seeds.head._1, seeds.head._2,
            sharded = redisSharded,
            clusterSeeds = if (seeds.size > 1) Some(seeds) else None,
            tls = tls, auth = auth,
            clampToTip = redisClampToTip)
        case Backend.Iggy(host, port, auth) =>
          // topic = stream key, partition = shard % iggyPartitions, topics
          // created on demand (create_stream/topic_if_not_exists defaults,
          // sea-streamer-iggy/src/options.rs:325-330)
          graft.iggy.IggySource.write(out, host, port, stream = iggyStream,
            partitions = iggyPartitions, auth = auth)
        case Backend.Stdio(path, loopback) =>
          // producer line format. The stdio contract means THIS process's
          // stdout (the reference's singleton stdout thread,
          // sea-streamer-stdio/src/producer.rs:43-151), so the lines are
          // printed on the DRIVER: toLocalIterator streams one partition
          // at a time — no executor-side println (which on a real cluster
          // would land in executor logs), no full collect
          // loopback (when on): the same lines ALSO append to the node's
          // line file — the reference's in-process dispatch
          // (producer.rs:93-100) re-expressed on the stdio backend's bus
          // (this connection's consumers read/tail exactly that file)
          val loop =
            if (loopback)
              Some(new java.io.OutputStreamWriter(
                java.nio.file.Files.newOutputStream(
                  java.nio.file.Paths.get(path),
                  java.nio.file.StandardOpenOption.CREATE,
                  java.nio.file.StandardOpenOption.APPEND), "UTF-8"))
            else None
          try {
            out.select("timestamp", "stream_key", "sequence", "payload")
              .toLocalIterator().forEachRemaining { r =>
                val line = StdioParser.formatLine(
                  r.getAs[java.sql.Timestamp]("timestamp"),
                  r.getAs[String]("stream_key"),
                  r.getAs[Long]("sequence"),
                  new String(r.getAs[Array[Byte]]("payload"), "UTF-8"))
                println(line)
                loop.foreach { w => w.write(line); w.write('\n') }
              }
          } finally loop.foreach(_.close())
      }
    }
  }
}
