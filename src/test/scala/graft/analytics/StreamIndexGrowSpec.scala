package graft.analytics

import graft.TestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** t22_stream_index_grow laws (the d14_upsert→t22 batch≡streaming pair):
  * the ingest loop must equal the batch two-wave cascade bit-for-bit
  * after end-of-log — wave 1's verdicts against the original index, wave
  * 2's against the index GROWN by wave 1's survivors — and the growth
  * must be observable: the signature table gains exactly wave 1's accepted
  * docs between the triggers, and at least one wave-2 doc matches a
  * wave-1 survivor (the admission t20's non-growing loop cannot make).
  * Runs on the real sf0.001 corpus with genuine arrival-time wave
  * boundaries (wave 2 appended to the live-tailed log).
  */
class StreamIndexGrowSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  test("t22 ingest loop == d14_upsert batch cascade; the index grows by " +
      "wave 1's survivors; wave 2 can match them") {
    Dedup.d14Build(spark, dir)
    val sigT = Dedup.d14Table("d14_ref_signatures", dir)
    val refCount = spark.table(sigT).count()
    // t22 runs one checkpointed query PER WAVE (the t29 mid-publish-race
    // fix), so inspect fires once per run — accumulate across runs
    var batches = 0
    val out = Transport.t22IndexGrowStream(spark, dir, q => {
      batches += q.recentProgress.count(_.numInputRows > 0)
    }).localCheckpoint(true)
    assert(batches == 2, s"expected the two arrival waves, got $batches")
    // bit-for-bit vs the batch cascade (the oracle's law, pinned in-spec
    // so a fixture change can never silently weaken it): wave 1 ≡ the
    // plain recurring query on src0/src1, wave 2 ≡ the grown query
    val w1Stream = out.filter(col("source").isin("src0", "src1"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val w2Stream = out.filter(!col("source").isin("src0", "src1"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // recompute the batch halves against a FRESH index (the streamed run
    // grew the live one)
    Dedup.d14Build(spark, dir)
    val w1Batch = Dedup.d14Query(spark, dir, Seq("src0", "src1"))
      .localCheckpoint(true)
    Dedup.d14Append(spark, dir, w1Batch.filter(col("novel")).select("doc_id"))
    val w2Batch = Dedup.d14Query(spark, dir, Seq("src2", "src3", "src4"))
    assert(w1Stream == w1Batch.orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "wave 1's streamed verdicts diverged from the batch query")
    assert(w2Stream == w2Batch.orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "wave 2's streamed verdicts diverged from the grown batch query")
    // growth law: the index gained exactly wave 1's accepted docs
    val accepted1 = w1Stream.count(r => r(2) == true)
    assert(accepted1 > 0, "fixture must accept at least one wave-1 doc")
    assert(spark.table(sigT).count() == refCount + accepted1,
      "the live index must grow by exactly wave 1's survivors")
    // the loop's point: at least one wave-2 doc matched a WAVE-1 doc (a
    // match_id that is itself a batch doc, impossible for t20's
    // non-growing admission)
    val w1Ids = w1Stream.map(_(0).asInstanceOf[Long]).toSet
    val wave2MatchesIntoWave1 = w2Stream.count(r =>
      r(3) != null && w1Ids.contains(r(3).asInstanceOf[Long]))
    assert(wave2MatchesIntoWave1 > 0,
      "fixture produced no wave-2 match into wave 1 — the growth is unexercised")
    // replay protection: the index-mutating body runs under the epoch
    // ledger (ExactlyOnceSpec pins the marker semantics; this pins that
    // t22 actually engaged it — one committed marker per wave)
    val ledger = Transport.scratch(dir, "t22ledger")
    assert((0 until batches).forall(e =>
      graft.ops.ExactlyOnce.isCommitted(spark, ledger, e.toLong)),
      "every wave's epoch must have a committed ledger marker")
  }
}
