package graft.facade

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.core.SeaStreamErr
import graft.facade.KafkaOptions._

/** Golden-config laws for the kafka connect-option surface: the EXACT
  * `kafka.*` maps [[KafkaOptions.securityOptions]] builds for every
  * security protocol and SASL mechanism the reference's connect surface
  * exposes (sea-streamer-kafka/src/streamer.rs:38-106 — security_protocol,
  * sasl_mechanism, username/password, custom passthrough), and the wire
  * driver's connect-time parse of them and end-to-end runs over them.
  */
class KafkaOptionsSpec extends AnyFunSuite {

  test("PLAINTEXT: protocol only, nothing else") {
    assert(securityOptions(SecurityProtocol.Plaintext) ==
      Map("kafka.security.protocol" -> "PLAINTEXT"))
  }

  test("SASL_SSL + PLAIN: inline JAAS via PlainLoginModule") {
    assert(securityOptions(SecurityProtocol.SaslSsl,
      Some(SaslOptions(SaslMechanism.Plain, Some("alice"), Some("s3cret")))) ==
      Map(
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.mechanism" -> "PLAIN",
        "kafka.sasl.jaas.config" ->
          """org.apache.kafka.common.security.plain.PlainLoginModule required username="alice" password="s3cret";"""))
  }

  test("SASL_PLAINTEXT + SCRAM-SHA-256/512: ScramLoginModule JAAS") {
    for ((mech, name) <- Seq(SaslMechanism.ScramSha256 -> "SCRAM-SHA-256",
        SaslMechanism.ScramSha512 -> "SCRAM-SHA-512")) {
      assert(securityOptions(SecurityProtocol.SaslPlaintext,
        Some(SaslOptions(mech, Some("u"), Some("p")))) ==
        Map(
          "kafka.security.protocol" -> "SASL_PLAINTEXT",
          "kafka.sasl.mechanism" -> name,
          "kafka.sasl.jaas.config" ->
            s"""org.apache.kafka.common.security.scram.ScramLoginModule required username="u" password="p";"""))
    }
  }

  test("GSSAPI: mechanism only, never an inline JAAS (needs a krb5 " +
      "config); OAUTHBEARER: the unsecured login module's sub claim") {
    val opts = securityOptions(SecurityProtocol.SaslSsl,
      Some(SaslOptions(SaslMechanism.Gssapi, Some("u"), Some("p"))))
    assert(opts == Map(
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.sasl.mechanism" -> "GSSAPI"))
    assert(!opts.contains("kafka.sasl.jaas.config"))
    // OAUTHBEARER's non-production convention (KIP-255): the username IS
    // the unsecured-bearer principal; no password rides the JAAS line
    val oauth = securityOptions(SecurityProtocol.SaslPlaintext,
      Some(SaslOptions(SaslMechanism.OauthBearer, Some("svc-etl"),
        Some("ignored"))))
    assert(oauth == Map(
      "kafka.security.protocol" -> "SASL_PLAINTEXT",
      "kafka.sasl.mechanism" -> "OAUTHBEARER",
      "kafka.sasl.jaas.config" ->
        ("org.apache.kafka.common.security.oauthbearer." +
          """OAuthBearerLoginModule required """ +
          """unsecuredLoginStringClaim_sub="svc-etl";""")))
    assert(!oauth("kafka.sasl.jaas.config").contains("ignored"),
      "a password must never leak into the OAUTHBEARER JAAS line")
  }

  test("facade over MUTUAL TLS: ssl.keystore.* rides the custom-option " +
      "passthrough into the wire driver") {
    val spark = TestSession.spark
    val (server, client) = graft.core.TlsChannel.generateMutual()
    val srv = new graft.kafka.EmbeddedKafka(tls = Some(server))
    try {
      // the reference surface for client certs is librdkafka's custom
      // options (add_custom_option passthrough) — same shape here
      val sec = securityOptions(SecurityProtocol.Ssl,
        ssl = Some(SslOptions(client.truststore, Some(client.password))),
        custom = Map(
          "ssl.keystore.location" -> client.keystore.get._1,
          "ssl.keystore.password" -> client.keystore.get._2))
      val conn = SeaStreamer.connect(
        s"kafka://${srv.host}:${srv.port}", spark, sec)
      import spark.implicits._
      val df = Seq(
        ("ev", 0L, 0L, new java.sql.Timestamp(1000), "a".getBytes))
        .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
      conn.createGenericProducer().send(df)
      val got = conn.createConsumer(Seq("ev"),
        SeaStreamer.ConsumerOptions(live = false))
        .collect().map(r => new String(r.getAs[Array[Byte]]("payload")))
      assert(got.toSeq == Seq("a"), "mTLS bounded round-trip lost messages")
    } finally srv.close()
  }

  test("facade bounded round-trip over OAUTHBEARER on the wire driver") {
    val spark = TestSession.spark
    val srv = new graft.kafka.EmbeddedKafka(
      credentials = Some(("svc-etl", "")))
    try {
      val sec = securityOptions(SecurityProtocol.SaslPlaintext,
        Some(SaslOptions(SaslMechanism.OauthBearer, Some("svc-etl"))))
      val conn = SeaStreamer.connect(
        s"kafka://${srv.host}:${srv.port}", spark, sec)
      import spark.implicits._
      val df = Seq(
        ("ev", 0L, 0L, new java.sql.Timestamp(1000), "a".getBytes))
        .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
      conn.createGenericProducer().send(df)
      val got = conn.createConsumer(Seq("ev"),
        SeaStreamer.ConsumerOptions(live = false))
        .collect().map(r => new String(r.getAs[Array[Byte]]("payload")))
      assert(got.toSeq == Seq("a"))
      // the wrong principal is refused across the same full path
      val bad = securityOptions(SecurityProtocol.SaslPlaintext,
        Some(SaslOptions(SaslMechanism.OauthBearer, Some("intruder"))))
      intercept[Exception] {
        SeaStreamer.connect(s"kafka://${srv.host}:${srv.port}", spark, bad)
          .createConsumer(Seq("ev"),
            SeaStreamer.ConsumerOptions(live = false)).collect()
      }
    } finally srv.close()
  }

  test("custom options pass through verbatim, kafka.-prefixed once") {
    val opts = securityOptions(SecurityProtocol.Ssl, None, None, Map(
      "ssl.truststore.location" -> "/etc/kafka/trust.jks",
      "kafka.ssl.keystore.password" -> "kp"))
    assert(opts == Map(
      "kafka.security.protocol" -> "SSL",
      "kafka.ssl.truststore.location" -> "/etc/kafka/trust.jks",
      "kafka.ssl.keystore.password" -> "kp"))
  }

  test("SSL + SslOptions: truststore pair lands as the Java client keys") {
    assert(securityOptions(SecurityProtocol.Ssl,
      ssl = Some(SslOptions("/etc/kafka/trust.p12", Some("tp")))) == Map(
      "kafka.security.protocol" -> "SSL",
      "kafka.ssl.truststore.location" -> "/etc/kafka/trust.p12",
      "kafka.ssl.truststore.password" -> "tp"))
    // password optional (a PEM-style CA bundle has none)
    assert(securityOptions(SecurityProtocol.SaslSsl,
      Some(SaslOptions(SaslMechanism.ScramSha256, Some("u"), Some("p"))),
      Some(SslOptions("/t.p12"))).get("kafka.ssl.truststore.location")
      .contains("/t.p12"))
  }

  test("wire driver validates security at connect: speaks all four " +
      "protocols, refuses unusable configs loudly") {
    val spark = TestSession.spark
    // connector jars are absent in this sandbox, so scheme kafka runs the
    // wire driver — which now speaks PLAINTEXT/SASL_PLAINTEXT/SSL/SASL_SSL
    val sasl = securityOptions(SecurityProtocol.SaslSsl,
      Some(SaslOptions(SaslMechanism.Plain, Some("u"), Some("p"))))
    // SASL_SSL without a truststore is UNUSABLE — refused at connect,
    // not at first read (the reference's connect-time error law)
    val e = intercept[SeaStreamErr.Unsupported](
      SeaStreamer.connect("kafka://localhost:9092", spark, sasl))
    assert(e.getMessage.contains("truststore"))
    // a complete SASL_SSL config connects (validation only — no broker)
    SeaStreamer.connect("kafka://localhost:9092", spark,
      securityOptions(SecurityProtocol.SaslSsl,
        Some(SaslOptions(SaslMechanism.ScramSha256, Some("u"), Some("p"))),
        Some(SslOptions("/tmp/trust.p12", Some("pw")))))
    // GSSAPI carries no inline JAAS credentials — the wire driver now
    // accepts the mechanism (the RFC 4752 bid reads the ambient krb5
    // environment at handshake time), so a GSSAPI map CONNECTS; only the
    // handshake against a kerberized listener can fail it
    SeaStreamer.connect("kafka://localhost:9092", spark,
      securityOptions(SecurityProtocol.SaslPlaintext,
        Some(SaslOptions(SaslMechanism.Gssapi, None, None))))
    // an explicit PLAINTEXT map is fine on the wire driver
    SeaStreamer.connect("kafka://localhost:9092", spark,
      securityOptions(SecurityProtocol.Plaintext))
    // backends without a security surface refuse instead of dropping
    val e2 = intercept[SeaStreamErr.Unsupported](
      SeaStreamer.connect("redis://localhost:6379", spark, sasl))
    assert(e2.getMessage.contains("redis"))
  }

  test("facade bounded read + send run end-to-end over SASL_SSL on the " +
      "wire driver") {
    val spark = TestSession.spark
    val (server, trust) = graft.core.TlsChannel.ephemeral
    val srv = new graft.kafka.EmbeddedKafka(
      credentials = Some(("svc", "pw")), tls = Some(server))
    try {
      val sec = securityOptions(SecurityProtocol.SaslSsl,
        Some(SaslOptions(SaslMechanism.ScramSha256, Some("svc"),
          Some("pw"))),
        Some(SslOptions(trust.truststore, Some(trust.password))))
      val conn = SeaStreamer.connect(
        s"kafka://${srv.host}:${srv.port}", spark, sec)
      import spark.implicits._
      val df = Seq(
        ("ev", 0L, 0L, new java.sql.Timestamp(1000), "a".getBytes),
        ("ev", 0L, 1L, new java.sql.Timestamp(2000), "b".getBytes))
        .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
      conn.createGenericProducer().send(df)
      val got = conn.createConsumer(Seq("ev"),
        SeaStreamer.ConsumerOptions(live = false))
        .collect().map(r => new String(r.getAs[Array[Byte]]("payload")))
        .sorted.toSeq
      assert(got == Seq("a", "b"),
        "SASL_SSL bounded round-trip lost messages")
    } finally srv.close()
  }
}
