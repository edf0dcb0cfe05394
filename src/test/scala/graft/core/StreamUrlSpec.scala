package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Grammar pinned by the reference's in-file tests
  * (sea-streamer-types/src/streamer.rs:254-392).
  */
class StreamUrlSpec extends AnyFunSuite {

  test("streamer uri without protocol") {
    val s = StreamerUri.parse("sea-ql.org:1234")
    assert(s.protocol.isEmpty)
    assert(s.nodes == Seq("sea-ql.org:1234"))
  }

  test("stream url requires ending slash") {
    assertThrows[StreamUrlErr.NoEndingSlash.type](
      StreamUrl.parse("proto://sea-ql.org:1234"))
  }

  test("stream url with no streams") {
    val s = StreamUrl.parse("proto://sea-ql.org:1234/")
    assert(s.streamer.protocol.contains("proto"))
    assert(s.streamer.nodes == Seq("proto://sea-ql.org:1234"))
    assert(s.streamKeys.isEmpty)
  }

  test("stream url with one and two streams") {
    val one = StreamUrl.parse("proto://sea-ql.org:1234/stream")
    assert(one.streamKeys == Seq("stream"))
    assert(one.streamKey == "stream")
    val two = StreamUrl.parse("proto://sea-ql.org:1234/a,b")
    assert(two.streamKeys == Seq("a", "b"))
    assertThrows[StreamUrlErr.NotOneStreamKey.type](two.streamKey)
  }

  test("multi-node cluster") {
    val s = StreamUrl.parse("kafka://node-a:1234,node-b:1234/a,b")
    assert(s.streamer.protocol.contains("kafka"))
    assert(s.streamer.nodes == Seq("kafka://node-a:1234", "kafka://node-b:1234"))
    assert(s.streamKeys == Seq("a", "b"))
  }

  test("stdio:/// yields dot node") {
    val s = StreamUrl.parse("stdio:///")
    assert(s.streamer.protocol.contains("stdio"))
    assert(s.streamer.nodes == Seq("stdio://."))
    assert(s.streamKeys.isEmpty)
    val withStreams = StreamUrl.parse("stdio:///a,b")
    assert(withStreams.streamer.nodes == Seq("stdio://."))
    assert(withStreams.streamKeys == Seq("a", "b"))
  }

  test("redis urls") {
    assert(StreamUrl.parse("redis://localhost/").streamer.nodes ==
      Seq("redis://localhost"))
    assert(StreamUrl.parse("redis://localhost/a,b").streamKeys == Seq("a", "b"))
    val uri = StreamerUri.parse("redis://localhost:6379")
    assert(uri.protocol.contains("redis"))
  }

  test("file paths") {
    val s = StreamUrl.parse("file://./path/to/hi/a,b")
    assert(s.streamer.nodes == Seq("file://./path/to/hi"))
    assert(s.streamKeys == Seq("a", "b"))
    val noStreams = StreamUrl.parse("file://./path/to/hi/")
    assert(noStreams.streamer.nodes == Seq("file://./path/to/hi"))
    assert(noStreams.streamKeys.isEmpty)
    assert(StreamerUri.parse("file:///path/to/hi").nodes == Seq("file:///path/to/hi"))
    assert(StreamerUri.parse("stdio://").nodes == Seq("stdio://."))
  }

  test("invalid stream key rejected") {
    assertThrows[StreamUrlErr.KeyErr](
      StreamUrl.parse("proto://sea-ql.org:1234/stream?"))
  }

  test("stream key validation law") {
    assert(Envelope.isValidStreamKey("my-fancy_topic.1"))
    assert(!Envelope.isValidStreamKey("has space"))
    assert(!Envelope.isValidStreamKey("q?"))
    assert(Envelope.isValidStreamKey("a" * 249))
    assert(!Envelope.isValidStreamKey("a" * 250))
  }

  test("hostPort: one parser for connect strings and source node lists") {
    assert(StreamerUri.hostPort("h:7000", 6379) == ("h", 7000))
    assert(StreamerUri.hostPort("[::1]:7000", 6379) == ("::1", 7000))
    assert(StreamerUri.hostPort("h:", 6379) == ("h", 6379))
    assert(StreamerUri.hostPort("fe80::2", 6379) == ("fe80::2", 6379))
    assertThrows[SeaStreamErr.Connect](StreamerUri.hostPort("[::1", 6379))
  }
}
