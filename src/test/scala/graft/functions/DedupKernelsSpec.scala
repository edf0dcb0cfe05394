package graft.functions

import graft.TestSession
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The three MinHash kernels must be bit-equal to the expressions they
  * replaced — the interpreted `transform` shingle lambda, the
  * `md5 → hex → substring → conv → cast` hash with its `array_min`
  * permutation minima, and the shared-shingle count — on the
  * whole-stage-codegen path AND the interpreted path, over texts that hit
  * every edge of `split(text, ' ')`: leading/trailing/double spaces, the
  * empty string, null, multibyte and malformed UTF-8, and documents past
  * the 1,023-position cap.
  */
class DedupKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(14)
    // a small vocabulary, so documents repeat shingles (array_distinct's
    // first-occurrence order) and share them (the intersect count)
    val vocab = Array("the", "a", "dedup", "shingle", "é", "naïve", "日本語",
      "😀", "x", "Zürich", "ab", "aB", "")
    def doc(n: Int, sep: () => String) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(sep())
    val fixed = Seq(null, "", " ", "  ", "a", "a b", "a b c", " a b", "a b ",
      " a b c", "a b c ", "a  b c", "  a  b  ", "a b c a b c a b c",
      "日本語 😀 é", "é é é é")
    val seeded = (0 until 160).map { i =>
      val body = doc(1 + rnd.nextInt(40),
        () => if (rnd.nextInt(6) == 0) "  " else " ")
      (if (i % 5 == 0) " " else "") + body + (if (i % 7 == 0) " " else "")
    }
    // past the cap: positions 0..1022 only, so tokens beyond 1025 are
    // never read (and their shingles never appear)
    val long = Seq(1024, 1025, 1026, 1027, 1100, 2500)
      .map(n => doc(n, () => " ")) :+
      (0 until 1100).map(i => s"w$i").mkString(" ") // 1098 distinct shingles
    fixed ++ seeded ++ long
  }

  /** (id, text) over an RDD scan, so the optimizer cannot fold the
    * projection into a local relation and evaluate it on the driver.
    */
  private def frame(s: SparkSession): DataFrame = {
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    // three malformed UTF-8 texts: split() decodes them through
    // java.lang.String (U+FFFD replacement), and so must the kernel
    val bad = Seq("612062FF2063", "C32820782079", "6120622063E282")
      .zipWithIndex.map { case (h, i) => Row((texts.size + i).toLong, h) }
    s.createDataFrame(s.sparkContext.parallelize(rows, 4),
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .unionByName(s.createDataFrame(s.sparkContext.parallelize(bad, 1),
          StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
        .select(col("id"), unhex(col("text")).cast("string").as("text")))
  }

  // the replaced expressions, verbatim
  private val oldShingles =
    "CASE WHEN size(split(text, ' ')) >= 3 THEN array_distinct(transform(" +
      "sequence(0, least(size(split(text, ' ')) - 3, 1022)), " +
      "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))) " +
      "ELSE array() END"
  private def oldMinima(sh: String): Column = {
    val hm = s"transform($sh, x -> cast(conv(substring(md5(cast(x AS binary)), " +
      s"1, 15), 16, 10) AS bigint) % ${DedupKernels.Prime}L)"
    array(DedupKernels.MinhashParams.map { case (a, b) =>
      expr(s"array_min(transform($hm, h -> (${a}L * h + ${b}L) % " +
        s"${DedupKernels.Prime}L))")
    }: _*)
  }

  private def sessionWith(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    // AQE off so the executed plan is the plan that ran (no adaptive
    // wrapper to look through)
    (("spark.sql.adaptive.enabled" -> "false") +: conf)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
  private lazy val codegen = sessionWith(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private lazy val interpreted = sessionWith(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** True when a projection evaluating an expression of class `k` sits
    * inside a whole-stage-codegen stage of `df`'s executed plan.
    */
  private def inCodegenStage(df: DataFrame, k: Class[_ <: Expression]): Boolean =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec =>
      w.child.collect { case p: ProjectExec
          if p.projectList.exists(_.find(k.isInstance).isDefined) => p }
    }.flatten.nonEmpty

  /** id → the second column; the kernel and its reference run as separate
    * queries, so neither's plan shape depends on the other (the reference
    * lambdas fall back to interpretation and would pull a shared
    * projection out of its codegen stage).
    */
  private def byId(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  private def kernelShingles(s: SparkSession): DataFrame =
    frame(s).select(col("id"), DedupKernels.wordShingles(col("text")))
  private def kernelMinima(s: SparkSession): DataFrame =
    frame(s).select(col("id"),
      DedupKernels.minhash(DedupKernels.wordShingles(col("text"))))
  /** every doc against a scrambled partner and against itself */
  private def pairsOf(s: SparkSession, sets: Column,
      count: (Column, Column) => Column): DataFrame = {
    val n = texts.size + 3L
    val sh = frame(s).select(col("id"), sets.as("ss"))
    sh.as("a").join(sh.as("b"),
        col("b.id") === pmod(col("a.id") * 7 + 3, lit(n)) ||
          col("b.id") === col("a.id"))
      .select((col("a.id") * n + col("b.id")).as("pair"),
        count(col("a.ss"), col("b.ss")))
  }
  private def kernelPairs(s: SparkSession): DataFrame =
    pairsOf(s, sort_array(DedupKernels.wordShingles(col("text"))),
      DedupKernels.sortedIntersectSize)

  private val paths = Seq("codegen" -> (() => codegen),
    "interpreted" -> (() => interpreted))

  test("sea_word_shingles is bit-equal to the transform lambda it replaced, " +
      "codegen'd and interpreted") {
    val slow = byId(frame(interpreted).select(col("id"), expr(oldShingles)))
    assert(slow.size == texts.size + 3)
    for ((name, s) <- paths) {
      val fast = byId(kernelShingles(s()))
      assert(fast.keySet == slow.keySet)
      fast.foreach { case (id, f) =>
        val (a, b) = (f.asInstanceOf[scala.collection.Seq[String]],
          slow(id).asInstanceOf[scala.collection.Seq[String]])
        assert(a == b, s"$name: row $id diverged")
        assert(a.map(_.getBytes("UTF-8").toSeq) == b.map(_.getBytes("UTF-8").toSeq))
      }
    }
    // the cap is hit: the longest documents stop at 1023 positions, and
    // null/empty/short texts yield the empty array, never null
    val got = byId(kernelShingles(codegen)).view
      .mapValues(_.asInstanceOf[scala.collection.Seq[String]]).toMap
    assert(got.values.forall(_ != null))
    assert(got(0L).isEmpty && got(1L).isEmpty && got(5L).isEmpty)
    assert(got(6L) == Seq("a b c"))
    assert(got(9L) == Seq(" a b", "a b c"), "a leading space is a token")
    assert(got(11L) == Seq("a  b", " b c"), "a double space is a token")
    assert(got.values.map(_.size).max == DedupKernels.MaxShinglePositions)
  }

  test("sea_minhash is bit-equal to the md5/conv hash and array_min " +
      "minima, codegen'd and interpreted; no shingle signs null") {
    val slow = frame(interpreted)
      .select(col("id"), expr(oldShingles).as("sh"))
      .select(col("id"), when(size(col("sh")) > 0, oldMinima("sh")))
    val want = byId(slow)
    assert(want.values.count(_ != null) > 150)
    for ((name, s) <- paths) {
      val fast = byId(kernelMinima(s()))
      assert(fast.keySet == want.keySet)
      fast.foreach { case (id, f) =>
        assert(f == want(id), s"$name: row $id minima diverged")
      }
    }
  }

  test("sea_sorted_intersect_size is the size of array_intersect over " +
      "sorted distinct shingle sets, codegen'd and interpreted") {
    val want = byId(pairsOf(interpreted, expr(oldShingles),
      (a, b) => size(array_intersect(a, b))))
    assert(want.size > texts.size + 3)
    assert(want.values.count(_ != 0) > texts.size,
      "distinct documents must share shingles")
    for ((name, s) <- paths) {
      val fast = byId(kernelPairs(s()))
      val bad = fast.filter { case (k, v) => want.get(k) != Some(v) }
      assert(bad.isEmpty && fast.size == want.size,
        s"$name: merge counts diverged at ${bad.take(5)} vs " +
          bad.keys.take(5).map(want.get))
    }
  }

  test("each kernel participates in whole-stage codegen") {
    assert(inCodegenStage(kernelShingles(codegen),
      classOf[DedupKernels.WordShingles]))
    assert(inCodegenStage(kernelMinima(codegen),
      classOf[DedupKernels.Minhash]))
    assert(inCodegenStage(kernelPairs(codegen),
      classOf[DedupKernels.SortedIntersectSize]))
    // the interpreted session really is interpreted
    assert(!inCodegenStage(kernelShingles(interpreted),
      classOf[DedupKernels.WordShingles]))
  }

  test("null inputs; SQL registration") {
    DedupKernels.register(spark)
    val r = spark.sql(
      "SELECT sea_word_shingles(CAST(NULL AS STRING)) AS sh, " +
        "sea_minhash(CAST(NULL AS ARRAY<STRING>)) AS mh, " +
        "sea_minhash(CAST(array() AS ARRAY<STRING>)) AS mh0, " +
        "sea_sorted_intersect_size(array('a'), CAST(NULL AS ARRAY<STRING>)) AS c")
      .collect().head
    assert(r.getSeq[String](0).isEmpty)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    val v = spark.sql(
      "SELECT sea_sorted_intersect_size(array_sort(sea_word_shingles(" +
        "'x a b c d')), array_sort(sea_word_shingles('a b c d y'))) AS c")
      .collect().head.getInt(0)
    assert(v == 2) // "a b c", "b c d"
  }

  test("Dedup.signatures carries exactly the documents, sorted shingle " +
      "sets and minima of the explode + md5 + per-document min form") {
    val s = codegen
    val docs = graft.analytics.Tables(s, TestSession.sfDir).documents
      .select(col("doc_id"), col("text"))
      .unionByName(frame(s).select((col("id") + 10000000L).as("doc_id"),
        col("text")))
    val sig = graft.analytics.Dedup.signatures(docs)
    try {
      val old = docs
        .select(col("doc_id"), explode(expr(oldShingles)).as("s"))
        .withColumn("hm", conv(substring(md5(col("s").cast("binary")), 1, 15),
          16, 10).cast("long") % DedupKernels.Prime)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("s"))).as("ss"),
          DedupKernels.MinhashParams.zipWithIndex.map { case ((a, b), i) =>
            min((lit(a.toLong) * col("hm") + lit(b.toLong)) % DedupKernels.Prime)
              .as(s"mh$i")
          }: _*)
      def rows(df: DataFrame) = df.select(sig.columns.map(col).toIndexedSeq: _*)
        .collect().map(r => r.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case v => v
        }).toSet
      val want = rows(old)
      assert(want.size > 500)
      assert(rows(sig) == want)
    } finally sig.unpersist()
  }
}
