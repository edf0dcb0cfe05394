package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.iggy.spark.IggyMicroBatchStream
import graft.kafka.spark.KafkaMicroBatchStream

/** The kafka-wire and iggy-stream sources share one checkpoint offset
  * type; checkpoints written before they shared it must keep resuming.
  */
class DenseOffsetSpec extends AnyFunSuite {

  private def opts(kv: (String, String)*) =
    new CaseInsensitiveStringMap(kv.toMap.asJava)

  // offset JSON exactly as the kafka-wire and iggy-stream sources wrote it
  // into checkpoints before the shared type (sorted keys, no spaces)
  private val stored = """{"offs":{"orders/0":12,"orders/1":0,"pay.v2/3":9007199254740993}}"""
  private val expected = Map(("orders", 0) -> 12L, ("orders", 1) -> 0L,
    ("pay.v2", 3) -> 9007199254740993L)

  test("stored kafka-wire and iggy-stream offsets deserialize to the same " +
      "map and re-serialize byte-identically") {
    val kafka = new KafkaMicroBatchStream(opts("topics" -> "orders"))
      .deserializeOffset(stored)
    val iggy = new IggyMicroBatchStream(opts("topics" -> "orders"))
      .deserializeOffset(stored)
    assert(kafka == DenseOffset(expected))
    assert(iggy == DenseOffset(expected))
    assert(kafka.json() == stored && iggy.json() == stored)
    // the empty offset (no partitions yet) round-trips too
    assert(DenseOffset.fromJson("""{"offs":{}}""") == DenseOffset(Map.empty))
    assert(DenseOffset(Map.empty).json() == """{"offs":{}}""")
  }

  test("the shared option parsers keep each source's option name in " +
      "their refusals") {
    assert(SourceOptions.positive(opts(), "maxOffsetsPerTrigger").isEmpty)
    assert(SourceOptions.positive(opts("maxEntriesPerTrigger" -> "7"),
      "maxEntriesPerTrigger").contains(7L))
    val e = intercept[IllegalArgumentException](
      new IggyMicroBatchStream(opts("topics" -> "t",
        "maxMessagesPerTrigger" -> "0")))
    assert(e.getMessage.contains("maxMessagesPerTrigger must be positive"))
    assert(SourceOptions.assign(opts("assign" -> "a.b:0, a.b:2"))
      .contains(Set(("a.b", 0), ("a.b", 2))))
    intercept[IllegalArgumentException](
      SourceOptions.assign(opts("assign" -> "nopartition")))
  }
}
