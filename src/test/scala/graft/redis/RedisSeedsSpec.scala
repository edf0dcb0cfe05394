package graft.redis

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** The live `redis-stream` source parses its `nodes` seeds with the same
  * `host[:port]` parser as the facade's connect.
  */
class RedisSeedsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("cluster seeds: a bracketed node reaches its host, and a trailing " +
      "colon takes the default port") {
    import spark.implicits._
    val srv = new EmbeddedRedis
    try {
      val c = new RedisClient(srv.host, srv.port)
      try c.pipeline((0 until 5).map(i =>
        RedisStreams.xadd("seeded", 4000L + i, s"s$i".getBytes(UTF_8))))
      finally c.close()
      val q = spark.readStream.format("redis-stream")
        .option("cluster", "true")
        // the first seed answers; the second only has to parse
        .option("nodes", s"[${srv.host}]:${srv.port},${srv.host}:")
        .option("streams", "seeded")
        .option("startingOffsets", "earliest")
        .load()
        .writeStream.outputMode("append")
        .format("memory").queryName("redis_seeds_sink").start()
      try {
        q.processAllAvailable()
        val got = spark.table("redis_seeds_sink")
          .select($"payload".cast("string")).as[String].collect().toSet
        assert(got == (0 until 5).map(i => s"s$i").toSet)
      } finally q.stop()
    } finally srv.close()
  }
}
