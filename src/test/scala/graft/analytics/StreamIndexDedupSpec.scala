package graft.analytics

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

/** t20_stream_index_dedup laws (the d14Query→t20 batch≡streaming pair):
  * dedup-at-ingest against the PERSISTED index must equal the batch
  * recurring query bit-for-bit after end-of-log, the streaming stage must
  * carry ZERO state (stateless band-key projection + stream-static join),
  * and the static side must read its bucket layout without an exchange —
  * only the stream side repartitions. Runs on the real sf0.001 corpus
  * across genuine micro-batch boundaries (~4, row-cap enforced).
  */
class StreamIndexDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  test("t20 stream-vs-stored-index == d14Query batch, zero state, bucketed static side") {
    Dedup.d14Build(spark, dir)
    var planStr = ""
    var batches = 0
    var stateRows = -1L
    val out = Transport.t20IndexDedupStream(spark, dir, q => {
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos)) { q.explain() }
      planStr = baos.toString
      batches = q.recentProgress.count(_.numInputRows > 0)
      stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .sum
    })
    val streamRows = out.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batchRows = Dedup.d14Query(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamRows.nonEmpty, "t20 returned no rows")
    assert(streamRows == batchRows,
      "streaming index dedup diverged from the batch recurring query")
    assert(batches > 1, s"expected multiple micro-batches, got $batches")
    assert(stateRows == 0L,
      s"the stateless ingest stage held $stateRows state rows")
    // static-side law: the stored band table is read through its bucket
    // layout (no exchange feeds it) — exactly ONE bk-keyed exchange in the
    // micro-batch's FINAL plan, and it is the stream side's (q.explain
    // prints the AQE Initial Plan too — trim it, it duplicates every node)
    val finalPlan = planStr.split("== Initial Plan ==").head
    val bkExchanges =
      "Exchange hashpartitioning\\(bk".r.findAllIn(finalPlan).size
    assert(bkExchanges == 1,
      s"want exactly the stream-side bk exchange, found $bkExchanges:\n$finalPlan")
    assert(finalPlan.contains("Bucketed: true"),
      s"the static band table lost its bucketed scan:\n$finalPlan")
  }

  test("t20 against an ESCALATED (r=4) index still equals the batch " +
      "query — the stream gate signs with (bk, k2) split keys") {
    // the maintenance loop's streaming half: after d14Maintain/d14Rebuild
    // escalates the standing index, the ingest gate reads the meta r and
    // probes with the same split keys the batch candidate join uses
    Dedup.d14Build(spark, dir)
    Dedup.d14Rebuild(spark, dir, 4)
    try {
      val streamRows = Transport.t20IndexDedupStream(spark, dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batchRows = Dedup.d14Query(spark, dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamRows.nonEmpty, "t20 returned no rows at r=4")
      assert(streamRows == batchRows,
        "escalated-index ingest gate diverged from the batch query")
    } finally Dedup.d14Rebuild(spark, dir, Dedup.D14BandR)
  }

  test("t20 against a RAGGED (r=3) index equals the batch query — the " +
      "stream pads the last band exactly like the stored keys") {
    // 8 % 3 != 0: the last band holds two minima and a 0 pad, and its k2
    // pair is half-empty; the stream must sign those pads as the stored
    // table did or a near-dup in the last band would be missed
    Dedup.d14Build(spark, dir)
    Dedup.d14Rebuild(spark, dir, 3)
    try {
      val streamRows = Transport.t20IndexDedupStream(spark, dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batchRows = Dedup.d14Query(spark, dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamRows.nonEmpty, "t20 returned no rows at r=3")
      assert(streamRows == batchRows,
        "ragged-index ingest gate diverged from the batch query")
    } finally Dedup.d14Rebuild(spark, dir, Dedup.D14BandR)
  }
}
