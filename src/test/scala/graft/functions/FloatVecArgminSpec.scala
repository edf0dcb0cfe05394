package graft.functions

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd row-local packed argmin must replicate BIT-FOR-BIT the
  * interpreted fold it replaces (which is itself packedArgmin's pack: the
  * 6-dp grid key in the high bits, the 20-bit id field, min ⇒ smaller-id
  * tie-break, least's null-skip, Long.MaxValue on empty) — the r20
  * assignment family rides this expression everywhere the DuckDB oracle
  * pins an `ORDER BY d2r, id` argmin.
  */
class FloatVecArgminSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  // the interpreted fold the expression compiles away — the exact Column
  // tree Similarity.rowArgminPk held before the codegen swap
  private def foldPk(emb: org.apache.spark.sql.Column,
      cs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(cs, lit(Long.MaxValue), (acc, c) =>
      least(acc, round(round(FloatVecDecimal.fdist2Exact(
          emb, c.getField("vec")), 6) * lit(FloatVecArgmin.KeyScale))
        .cast("long") * lit(1L << FloatVecArgmin.IdBits) +
        c.getField("id")))

  test("packed argmin matches the interpreted fold bit-for-bit " +
      "(ties, nulls, empty arrays included)") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] =
      Array.fill(64)((rnd.nextFloat() - 0.5f) * rnd.nextInt(20))
    val dup = vec() // shared so some rows tie exactly on distance
    val rows = (0 until 200).map { i =>
      val emb = if (i % 7 == 0) dup else vec()
      val k = 1 + rnd.nextInt(16)
      val cents = (0 until k).map { j =>
        // include exact-duplicate centroids so the (d2r, id) tie-break is
        // exercised, not just assumed
        val cv = if (j % 5 == 4) dup else vec()
        (j.toLong, cv)
      }
      (emb, cents)
    } :+ ((dup, Seq.empty[(Long, Array[Float])])) // empty ⇒ MaxValue
    val df = rows.toDF("emb", "cs")
      .select($"emb", expr(
        "transform(cs, c -> struct(c._1 AS id, c._2 AS vec))").as("cs"))
    val got = df.select(
      FloatVecArgmin.pkOf($"emb", $"cs").as("g"),
      foldPk($"emb", $"cs").as("w"))
      .as[(Long, Long)].collect()
    got.foreach { case (g, w) =>
      assert(g == w, s"codegen'd argmin drifted from the fold: $g != $w")
    }
    assert(got.last._1 == Long.MaxValue,
      "empty centroid array must yield the fold identity")
  }

  test("near-exact ties inside the prefilter margin resolve by the exact " +
      "decimal grid + id rule") {
    // emb = 0-vector; centroid 3 at dist 1.0, centroid 1 at dist
    // 1.00000009 (9e-8 apart — far inside the 1e-5 margin, same 6-dp
    // grid point after rounding) — BOTH must reach the exact pass and the
    // 6-dp TIE must break to the smaller id (1), not the smaller raw
    // distance (3)
    val emb = Array.fill(8)(0.0f)
    val a = Array(1.0f, 3e-4f, 0f, 0f, 0f, 0f, 0f, 0f) // d2 ≈ 1.00000009
    val b = Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)    // d2 = 1.0
    val df = Seq((emb, Seq((1L, a), (3L, b)))).toDF("emb", "cs")
      .select($"emb", expr(
        "transform(cs, c -> struct(c._1 AS id, c._2 AS vec))").as("cs"))
    val Array((g, w)) = df.select(
      FloatVecArgmin.pkOf($"emb", $"cs").as("g"),
      foldPk($"emb", $"cs").as("w"))
      .as[(Long, Long)].collect()
    assert(g == w)
    assert((g & ((1L << FloatVecArgmin.IdBits) - 1)) == 1L,
      "a 6-dp-grid tie must break to the smaller id")
  }

  test("a null distance (length mismatch) skips that centroid like least " +
      "skips NULLs") {
    val emb = Array.fill(8)(1.0f)
    val short = Array.fill(4)(9.9f) // length mismatch ⇒ NULL distance
    val good = Array.fill(8)(2.0f)
    val df = Seq((emb, Seq((0L, short), (5L, good)))).toDF("emb", "cs")
      .select($"emb", expr(
        "transform(cs, c -> struct(c._1 AS id, c._2 AS vec))").as("cs"))
    val Array((g, w)) = df.select(
      FloatVecArgmin.pkOf($"emb", $"cs").as("g"),
      foldPk($"emb", $"cs").as("w"))
      .as[(Long, Long)].collect()
    assert(g == w)
    assert((g & ((1L << FloatVecArgmin.IdBits) - 1)) == 5L,
      "the mismatched centroid must be skipped, not crash or win")
  }

  test("large magnitudes at 64 and 128 dims stay bit-for-bit with the " +
      "fold: the prefilter widens with n and s, and sums past the pack's " +
      "key range always re-check exactly") {
    // element spreads of 1e2..1e5 put squared distances at ~1e5..1e12:
    // past ~8.8e6 the 6-dp key overflows the pack's high bits and the
    // packed order stops following the distance order, and past ~1e9 a
    // fixed 1e-5 margin is below the double sum's n·ε·s error. ANSI mode
    // turns the fold's overflow into an error, so the fold is compared in
    // a non-ANSI session, where both sides wrap identically.
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    import legacy.implicits._
    val rnd = new scala.util.Random(11)
    Seq(64, 128).foreach { dims =>
      val rows = (0 until 60).map { i =>
        val scale = math.pow(10, 2 + i % 4).toFloat
        def vec(): Array[Float] =
          Array.fill(dims)((rnd.nextFloat() - 0.5f) * scale)
        (vec(), (0 until 16).map(j => (j.toLong, vec())))
      }
      val df = rows.toDF("emb", "cs")
        .select($"emb", expr(
          "transform(cs, c -> struct(c._1 AS id, c._2 AS vec))").as("cs"))
      df.select(
        FloatVecArgmin.pkOf($"emb", $"cs").as("g"),
        foldPk($"emb", $"cs").as("w"))
        .as[(Long, Long)].collect().foreach { case (g, w) =>
          assert(g == w, s"$dims dims: prefilter pruned the fold's winner: " +
            s"$g != $w")
        }
    }
    // the widening itself grows with both n and s
    assert(FloatVecArgmin.slack(128, 1e6) > FloatVecArgmin.slack(64, 1e6))
    assert(FloatVecArgmin.slack(64, 1e6) > FloatVecArgmin.slack(64, 1.0))
  }

  test("the no-centroid sentinel decodes to a NULL id, never the phantom " +
      "id 2^20 - 1") {
    val emb = Array.fill(4)(1.0f)
    val df = Seq(
      (emb, Seq.empty[(Long, Array[Float])]),       // empty array
      (emb, Seq((3L, null: Array[Float]))),          // all-null vectors
      (emb, Seq((4L, Array.fill(2)(1.0f)))),         // all NULL distances
      (emb, Seq((5L, Array.fill(4)(2.0f)))))         // a real winner
      .toDF("emb", "cs")
      .select($"emb", expr(
        "transform(cs, c -> struct(c._1 AS id, c._2 AS vec))").as("cs"))
    val ids = df.select(graft.analytics.Similarity.rowArgminId(
      FloatVecArgmin.pkOf($"emb", $"cs")).as("id"))
      .as[Option[Long]].collect().toSeq
    assert(ids == Seq(None, None, None, Some(5L)), s"$ids")
    // the interpreted path agrees with the codegen'd one
    val pk = FloatVecArgminId(
      org.apache.spark.sql.catalyst.expressions.Literal(Long.MaxValue))
    assert(pk.eval(null) == null)
  }
}
