package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Checksum

class StatsSpec extends AnyFunSuite {

  test("percentile is nearest-rank over the sorted samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(xs, 0.5) == 1.0)
    // with ten samples, p99 is the largest one: no interpolation upward
    assert(Stats.percentile((1 to 10).map(_.toDouble), 99) == 10.0)
    assert(Stats.percentile(Vector(1.0, 2.0), 50) == 1.0)
    assert(Stats.percentile(Vector(7.0), 99) == 7.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Vector.empty, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  test("median takes the middle sample, or the mean of the middle two") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union length counts overlapping task intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 12L)), 0, 100) == 22)
    assert(Stats.unionLength(Seq.empty, 0, 100) == 0)
  }

  test("union length is clipped to the phase window") {
    assert(Stats.unionLength(Seq((-5L, 5L), (95L, 200L)), 0, 100) == 10)
    assert(Stats.unionLength(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("driver time is wall time minus the union of task intervals") {
    // four tasks on four slots covering [10, 40) and [60, 70) of [0, 100)
    val tasks = Seq((10L, 30L), (15L, 40L), (20L, 25L), (60L, 70L))
    assert(Stats.driverMs(0, 100, tasks) == 100 - 30 - 10)
    assert(Stats.driverMs(0, 100, Seq.empty) == 100)
    assert(Stats.driverMs(0, 100, Seq((0L, 100L), (0L, 100L))) == 0)
  }

  private val msgs = (0 until 500).map { i =>
    (if (i % 3 == 0) "a" else "b", (i % 4).toLong, s"payload-$i".getBytes("UTF-8"))
  }

  test("checksum ignores order and grouping") {
    val whole = Checksum.of(msgs.iterator)
    assert(whole.count == 500)
    val shuffled = new scala.util.Random(7).shuffle(msgs)
    assert(Checksum.of(shuffled.iterator) == whole)
    val (l, r) = shuffled.splitAt(123)
    assert(Checksum.of(r.iterator) + Checksum.of(l.iterator) == whole)
  }

  test("checksum sees a lost, repeated or changed message") {
    val whole = Checksum.of(msgs.iterator)
    assert(Checksum.of(msgs.tail.iterator) != whole)
    assert(Checksum.of((msgs :+ msgs.head).iterator) != whole)
    // a lost message replaced by a repeat keeps the count but not the sum
    assert(Checksum.of((msgs.tail :+ msgs(1)).iterator) != whole)
    val (st, sh, p) = msgs(42)
    val moved = msgs.updated(42, (st, sh + 1, p))
    assert(Checksum.of(moved.iterator) != whole)
    val renamed = msgs.updated(42, ("c", sh, p))
    assert(Checksum.of(renamed.iterator) != whole)
  }

  test("a frame's checksum does not depend on its partitioning") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = msgs.toDF("stream_key", "shard_id", "payload")
      val want = Checksum.of(msgs.iterator)
      assert(Bulk.checksum(df) == want)
      assert(Bulk.checksum(df.repartition(7)) == want)
      assert(Bulk.checksum(df.orderBy($"payload".desc).coalesce(1)) == want)
    } finally spark.stop()
  }
}
