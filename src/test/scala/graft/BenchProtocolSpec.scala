package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench protocol's laws ([[Bench.measure]]), on fake bodies — no
  * Spark work: one discarded warmup, then [[Bench.Runs]] timed runs on
  * fresh state; medians and raw runs recorded; a throwing run or a
  * row-count drift records -1 and stops the entry.
  */
class BenchProtocolSpec extends AnyFunSuite {
  private def sleepMs(ms: Long): Unit = Thread.sleep(ms)

  test("the body runs 1 + Runs times, fresh after each, warmup unrecorded") {
    var calls = 0
    var freshes = 0
    val readings = Bench.measure("e", { r =>
      // the warmup is slow; a recorded warmup would show in the runs
      val ms = if (calls == 0) 400L else 10L * calls
      calls += 1
      r.part("p")(sleepMs(ms))
    }, () => freshes += 1)
    assert(calls == 1 + Bench.Runs)
    assert(freshes == 1 + Bench.Runs)
    val Seq(p) = readings
    assert(p.name == "p")
    assert(p.runs.size == Bench.Runs)
    assert(p.runs.forall(_ < 0.3), s"the warmup leaked into ${p.runs}")
  }

  test("each part records the median of its timed runs and the raw runs") {
    val ms = Iterator(0L, 120L, 20L, 60L)
    val readings = Bench.measure("e", { r =>
      val t = ms.next()
      r.part("a")(sleepMs(t))
      r.counted("b")(7L)
    }, () => ())
    assert(readings.map(_.name) == Seq("a", "b"))
    val a = readings.head
    assert(a.runs(0) >= 0.12 && a.runs(1) >= 0.02 && a.runs(2) >= 0.06)
    assert(a.median == a.runs(2), s"median of ${a.runs} is not the middle run")
    assert(readings(1).runs.size == Bench.Runs)
  }

  test("a throwing run records -1 for every part reached and stops") {
    var calls = 0
    val readings = Bench.measure("e", { r =>
      calls += 1
      r.part("a")(())
      if (calls == 3) throw new RuntimeException("boom")
      r.part("b")(())
    }, () => ())
    assert(calls == 3, "the entry kept running after a failed run")
    assert(readings.map(r => r.name -> r.median) ==
      Seq("a" -> -1.0, "b" -> -1.0))
  }

  test("a warmup that throws before any part records -1 under the entry") {
    val readings = Bench.measure("e", _ => sys.error("no setup"), () => ())
    assert(readings.map(r => r.name -> r.median) == Seq("e" -> -1.0))
  }

  test("a part whose row count differs from the warmup's records -1") {
    var calls = 0
    val readings = Bench.measure("e", { r =>
      calls += 1
      // state the body does not reset: every run sees one more row
      r.counted("grows")(calls.toLong)
    }, () => ())
    assert(calls == 2)
    assert(readings.map(r => r.name -> r.median) == Seq("grows" -> -1.0))
  }

  test("BENCH_ONLY without BENCH_JSON writes nothing") {
    val only = Map("SPARK_GRAFT_BENCH_ONLY" -> "q1_agg")
    val json = Map("SPARK_GRAFT_BENCH_JSON" -> "/tmp/b.json")
    assert(Bench.artifactPath(only).isEmpty)
    assert(Bench.artifactPath(only ++ json).contains("/tmp/b.json"))
    assert(Bench.artifactPath(Map.empty).contains("BENCH_QUERIES.json"))
  }

  test("the artifact is a flat name -> median map with the raw runs " +
      "under _runs") {
    val body = Bench.artifact(Seq(Bench.Reading("b", 2.0, Seq(3.0, 2.0, 1.0)),
      Bench.Reading("a", -1.0, Nil)), "/sf", 0.5, 0.75)
    assert(body.contains("\n  \"a\": -1.0,\n  \"b\": 2.0\n}"))
    assert(body.contains("\"_runs\": {\n    \"a\": [],\n" +
      "    \"b\": [3.0, 2.0, 1.0]\n  }"))
    assert(body.contains("\"_load1_end\": 0.75"))
  }
}
