package graft.analytics

import graft.TestSession
import org.scalatest.funsuite.AnyFunSuite

/** Scale laws for the dedup building blocks that CORRECTNESS can't see:
  * the shingle document-frequency cap (hot-key k² insurance) and the
  * O(log diameter) convergence of connected components.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("jaccardPairs drops stop-shingles above the df cap (no k-squared blowup)") {
    import spark.implicits._
    // 300 docs share ONE 3-gram ("aaa bbb ccc") — df=300 > ShingleDfCap=256.
    // Uncapped, the self-join would emit C(300,2)=44850 rows on one shuffle
    // key; capped, the stop-shingle carries no signal and the docs share
    // nothing else. Two extra docs are genuine duplicates via RARE shingles.
    val spam = (0 until 300).map(i => (i.toLong, s"aaa bbb ccc u${i}x u${i}y u${i}z"))
    val dups = Seq((1000L, "p q r s t u"), (1001L, "p q r s t u"))
    val docs = (spam ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(Dedup.shingles(docs)).collect()
    assert(pairs.length == 1, s"expected only the true-dup pair, got ${pairs.length}")
    val r = pairs.head
    assert(r.getAs[Long]("doc_a") == 1000L && r.getAs[Long]("doc_b") == 1001L)
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0) < 1e-9)
  }

  test("d13 containment fires on subset pairs that symmetric Jaccard misses") {
    import spark.implicits._
    // doc 1 = a 6-word snippet; doc 2 = the same snippet wrapped in 3× as
    // much boilerplate. Every one of doc 1's shingles appears in doc 2
    // (containment = 1.0) while Jaccard = |inner|/|outer| ≈ 0.18 — far
    // below the d2 threshold. The flag must mark it as NOT a sym dup.
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = s"one two three four five six seven eight $inner " +
      "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val docs = Seq((1L, inner), (2L, outer)).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(Dedup.shingles(docs)).collect()
    assert(got.length == 1)
    val r = got.head
    val (na, nb, common) = (r.getAs[Long]("na"), r.getAs[Long]("nb"),
      r.getAs[Long]("common"))
    assert(common == na, "every inner shingle must be shared")
    assert(r.getAs[Double]("jaccard") < 0.5,
      "the pair must be invisible to symmetric dedup")
    assert(common.toDouble / math.min(na, nb) >= 0.999)
    assert(nb > na)
  }

  test("jaccardPairs keeps shingles at exactly the df cap") {
    import spark.implicits._
    // 3 docs share one 3-gram: df=3 <= cap, so all C(3,2)=3 pairs survive.
    val docs = (0 until 3).map(i => (i.toLong, s"aaa bbb ccc u${i}x"))
      .toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(Dedup.shingles(docs)).count() == 3)
  }

  test("df-cap knob: cap=ShingleDfCap equals d13_containment; a tighter " +
      "cap shrinks the pair stream on the real corpus") {
    // the d10With(r=1)≡d3 discipline applied to the df-cap family: the
    // parameterized path at the oracle-mirrored default must BE the d13
    // query, and halving the cap must not grow the co-occurring pair
    // stream (the collision workload BENCH_SF1.md prices at sf10)
    val dir = graft.TestSession.sfDir
    val k = Seq("doc_inner", "doc_outer", "containment", "jaccard", "sym_dup")
    val a = Dedup.d13With(spark, dir, Dedup.ShingleDfCap)
      .orderBy(k.head, k.tail: _*).collect().map(_.toSeq).toSeq
    val b = graft.SparkEntry.queries("d13_containment")(spark, dir)
      .orderBy(k.head, k.tail: _*).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      "d13With at the default cap diverged from d13_containment")
    val pairsDefault = Dedup.d13PairCount(spark, dir, Dedup.ShingleDfCap)
    val pairsTight = Dedup.d13PairCount(spark, dir, Dedup.ShingleDfCap / 2)
    assert(pairsTight <= pairsDefault,
      s"tighter cap grew the pair stream: $pairsTight > $pairsDefault")
  }

  test("connectedComponents converges in O(log n) rounds on a 200-doc chain") {
    import spark.implicits._
    // worst-case diameter: 0-1-2-...-199. Plain min-label propagation needs
    // ~200 rounds; large-star halves the path each round, so ~9 incl. the
    // fixpoint-detect round.
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, iters) = Dedup.connectedComponents(pairs, localCap = -1L)
    assert(iters < 10, s"chain took $iters rounds — star contraction regressed")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("connectedComponents labels disjoint components independently") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val (labels, _) = Dedup.connectedComponents(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents matches union-find on a seeded random graph") {
    import spark.implicits._
    // 400 nodes, 320 edges from a fixed-seed generator: many components of
    // mixed shapes — the strongest general-correctness check, independent
    // of any hand-picked topology
    val rnd = new scala.util.Random(20260813L)
    val pairs = Seq.fill(320)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(p => p._1 != p._2)
    val (labels, iters) = Dedup.connectedComponents(
      pairs.toDF("doc_a", "doc_b"), localCap = -1L)
    assert(iters < 12, s"took $iters rounds")
    // union-find reference with min-root merging
    val parent = Array.tabulate(400)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    assert(got.keySet == nodes.toSet)
    for (d <- nodes)
      assert(got(d) == find(d.toInt).toLong,
        s"doc $d: got ${got(d)}, union-find says ${find(d.toInt)}")
  }

  test("local fast path labels identically to the distributed contraction") {
    import spark.implicits._
    // same seeded random graph through BOTH paths: the fits-the-driver
    // union-find (default cap) and the star contraction (cap forced to -1)
    // must agree on every label — the law that makes the cap a pure
    // performance knob
    val rnd = new scala.util.Random(42L)
    val pairs = Seq.fill(500)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val (localLabels, localIters) = Dedup.connectedComponents(pairs)
    assert(localIters == 0, "small graph must take the driver-local path")
    val (distLabels, _) = Dedup.connectedComponents(pairs, localCap = -1L)
    val l = localLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = distLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == d)
  }

  test("connectedComponents handles bushy + deep shapes (star, cliques, tree)") {
    import spark.implicits._
    // star at 0; two 6-cliques bridged by one edge; a depth-9 binary tree —
    // the shapes where pure min-label propagation or pure contraction each
    // degrade on their own
    val star = (1L to 50L).map(i => (0L, i))
    val cliques = (for { i <- 100L to 105L; j <- (i + 1) to 105L } yield (i, j)) ++
      (for { i <- 200L to 205L; j <- (i + 1) to 205L } yield (i, j)) :+ (105L, 200L)
    val tree = (1L until 512L).map(i => (i, (i - 1) / 2))
    val all = (star ++ cliques ++ tree.map { case (a, b) => (a + 1000L, b + 1000L) })
      .toDF("doc_a", "doc_b")
    val (labels, iters) = Dedup.connectedComponents(all, localCap = -1L)
    assert(iters < 10, s"took $iters rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 50L).forall(got(_) == 0L) && got(0L) == 0L)
    assert((100L to 105L).forall(got(_) == 100L) &&
      (200L to 205L).forall(got(_) == 100L))
    assert((1000L until 1512L).forall(got(_) == 1000L))
  }

  test("banding knob: r=1 equals the d3 band join; r=2 cuts background " +
      "candidates while keeping every true near-dup pair") {
    // bandCandidates is the selectivity knob BENCH_SF1's sf10 analysis
    // names: at band size r a pair at Jaccard j is a candidate with
    // probability 1-(1-j^r)^(8/r). Laws on the real sf0.001 corpus:
    // (1) r=1 reproduces EXACTLY the (i, mh) equality join the oracles
    //     mirror, and so does the packed-key (bk) self-join d3/d11/d12 run;
    // (2) r=2 shrinks the candidate set (the whole point — the shrinkage
    //     is the sub-threshold background, which at corpus scale is the
    //     verify stage's entire cost);
    // (3) r=2 still surfaces EVERY exact pair at or above the 0.5 dedup
    //     threshold — recall survives the selectivity gain.
    import org.apache.spark.sql.functions._
    val docs = graft.analytics.Tables(spark, TestSession.sfDir).documents
    val sh = Dedup.signatures(docs)
    val mh = Dedup.stackedMinhash(sh).persist()
    try {
      val pairs = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val r1 = pairs(Dedup.bandCandidates(mh, 1))
      val direct = pairs(mh.as("x")
        .join(mh.as("y"),
          col("x.i") === col("y.i") && col("x.mh") === col("y.mh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
      assert(r1 == direct, "r=1 must equal the (i, mh) equality join")
      val packed = pairs(Dedup.d14BandKeys(sh, "doc_a", 1)
        .join(Dedup.d14BandKeys(sh, "doc_b", 1), "bk")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct())
      assert(packed == r1, "the r=1 bk self-join must equal the (i, mh) join")
      val r2 = pairs(Dedup.bandCandidates(mh, 2))
      assert(r2.subsetOf(r1), "an r=2 band match implies two r=1 matches")
      assert(r2.size < r1.size,
        s"r=2 (${r2.size}) must cut candidates vs r=1 (${r1.size})")
      val truth = pairs(Dedup.jaccardPairs(Dedup.shingles(docs))
        .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b"))
      assert(truth.nonEmpty, "corpus must contain planted near-dups")
      assert(truth.subsetOf(r2),
        s"r=2 lost true pairs: ${(truth -- r2).take(3)}")
    } finally { sh.unpersist(); mh.unpersist() }
  }

  test("d14's packed band key is injective: the bk equi-join equals the " +
      "struct-key band join at D14BandR") {
    // the persisted index packs each band's (b, m0[, m1]) into ONE long so
    // the table buckets on a plain column; the law is zero collisions in
    // practice AND in construction: joining two corpora's packed keys must
    // yield exactly the pairs the exact struct-key band join yields
    import org.apache.spark.sql.functions._
    val docs = graft.analytics.Tables(spark, TestSession.sfDir).documents
    val sh = Dedup.signatures(docs)
    val mh = Dedup.stackedMinhash(sh).persist()
    try {
      val viaPacked = Dedup.d14BandKeys(sh, "doc_a").as("x")
        .join(Dedup.d14BandKeys(sh, "doc_b").as("y"),
          col("x.bk") === col("y.bk") && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaStruct = Dedup.bandCandidates(mh, Dedup.D14BandR)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaPacked == viaStruct,
        "packed band keys diverged from the exact struct band join")
    } finally { sh.unpersist(); mh.unpersist() }
  }

  test("d18 census drives maintenance: a skewed-band fixture flips the " +
      "banding escalation, a fragmented layout flips (and runs) compaction") {
    import spark.implicits._
    // --- decision rule off synthetic censuses (the pure-function law) ---
    // uniform: every band key has ONE member — zero candidate pairs
    val uniform = Seq((1L, 800L, 0L)).toDF("colliders", "n_keys", "cand_pairs")
    val calm = Dedup.d18Decide(uniform, nIndexedDocs = 100,
      filesPerBucket = 1.0)
    assert(!calm.escalateBanding && !calm.compact,
      s"healthy index must need no maintenance, got $calm")
    // skewed: one hot band key with 1000 colliders over a 100-doc index —
    // 499500 verify pairs / 100 docs ≫ the 8-pairs/doc budget
    val skewed = Seq((1000L, 1L, 499500L), (1L, 700L, 0L))
      .toDF("colliders", "n_keys", "cand_pairs")
    val hot = Dedup.d18Decide(skewed, nIndexedDocs = 100,
      filesPerBucket = 1.0)
    assert(hot.escalateBanding,
      s"a skewed census must demand the banding knob, got $hot")
    assert(!hot.compact, "skew alone must not trigger a layout rewrite")
    // fragmentation flips the compact half independently
    val frag = Dedup.d18Decide(uniform, 100, filesPerBucket = 5.0)
    assert(frag.compact && !frag.escalateBanding, s"got $frag")
    // --- d14Maintain ties the census to d16's compaction for real ---
    import org.apache.spark.sql.functions.col
    val dir = TestSession.sfDir
    Dedup.d14Build(spark, dir)
    val w1 = Dedup.d14Query(spark, dir, Seq("src0", "src1"))
    Dedup.d14Append(spark, dir,
      w1.filter(col("novel")).select("doc_id"))
    val bandsT = Dedup.d14Table("d14_ref_bands", dir)
    val grown = graft.ops.Bucketing.tableDataFileCount(spark, bandsT)
    assert(grown > 16, s"append must fragment the 8-bucket layout ($grown)")
    val dec = Dedup.d14Maintain(spark, dir)
    assert(dec.compact, s"fragmented layout must decide compact, got $dec")
    assert(graft.ops.Bucketing.tableDataFileCount(spark, bandsT) == 8,
      "d14Maintain must have compacted back to one file per bucket")
    // the healthy corpus sits under the collision budget at D14BandR=2 —
    // the default banding IS the maintained state
    assert(!dec.escalateBanding,
      s"r=${Dedup.D14BandR} must satisfy the collision budget here, got $dec")
    // and a second maintain is a no-op (already compact)
    val dec2 = Dedup.d14Maintain(spark, dir)
    assert(!dec2.compact && !dec2.escalateBanding, s"got $dec2")
  }

  test("d14Rebuild re-bands the persisted index from its own keys: " +
      "rebuild(4) equals a fresh r=4 signing, rebuild back equals the " +
      "original, and (bk, k2) at r=4 is the exact struct band join") {
    import org.apache.spark.sql.functions._
    val dir = TestSession.sfDir
    Dedup.d14Build(spark, dir) // at the default banding
    val bandsT = Dedup.d14Table("d14_ref_bands", dir)
    def rows(): Set[Seq[Any]] = spark.table(bandsT).collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    val orig = rows()
    Dedup.d14Rebuild(spark, dir, 4)
    assert(Dedup.d14IndexR(spark, dir) == 4, "meta must record the new r")
    // the rebuilt table equals signing the reference corpus at r=4 from
    // scratch — re-banding the stored signature rows loses nothing
    val ref = Tables(spark, dir).documents
      .filter(!col("source").isin("src0", "src1", "src2", "src3", "src4"))
    val sh = Dedup.signatures(ref)
    val fresh = Dedup.d14BandKeys(sh, "ref_id", 4)
      .collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    assert(rows() == fresh, "rebuild(4) diverged from a fresh r=4 signing")
    // (bk, k2) equality at r=4 IS the exact struct band join — the
    // escalated oracle's tuple law, not a hash approximation
    val mh = Dedup.stackedMinhash(sh).persist()
    try {
      val viaSplit = Dedup.d14BandKeys(sh, "doc_a", 4).as("x")
        .join(Dedup.d14BandKeys(sh, "doc_b", 4).as("y"),
          col("x.bk") === col("y.bk") && col("x.k2") === col("y.k2") &&
            col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaStruct = Dedup.bandCandidates(mh, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaSplit == viaStruct,
        "split (bk, k2) keys diverged from the exact struct band join")
    } finally mh.unpersist()
    // r=8 too — "any r" means every divisor of the signature width:
    // one band of all 8 minima (near-exact dup detection), k2 three wide
    Dedup.d14Rebuild(spark, dir, 8)
    assert(Dedup.d14IndexR(spark, dir) == 8)
    val fresh8 = Dedup.d14BandKeys(sh, "ref_id", 8)
      .collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    assert(rows() == fresh8, "rebuild(8) diverged from a fresh r=8 signing")
    // and the knob turns back: rebuild(D14BandR) restores the original
    Dedup.d14Rebuild(spark, dir, Dedup.D14BandR)
    assert(Dedup.d14IndexR(spark, dir) == Dedup.D14BandR)
    assert(rows() == orig, "rebuild back did not restore the r=2 table")
  }

  test("d10 runs at any band size: after a re-band to r=3 (ragged last " +
      "band) d14Query equals d10With at r=3 row for row") {
    val dir = TestSession.sfDir
    Dedup.d14Build(spark, dir)
    Dedup.d14Rebuild(spark, dir, 3)
    try {
      val got = Dedup.d14Query(spark, dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val want = Dedup.d10With(spark, dir, 3)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got.nonEmpty, "d14Query returned no rows at r=3")
      assert(got == want, "the r=3 index diverged from d10's r=3 recompute")
    } finally Dedup.d14Rebuild(spark, dir, Dedup.D14BandR)
  }

  test("escalation actually rewrites: a hot-banded index flips d18's " +
      "verdict and d14Maintain re-bands it — queries against the " +
      "escalated index equal the r=4 recompute") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = TestSession.sfDir
    Dedup.d14Build(spark, dir)
    val bandsT = Dedup.d14Table("d14_ref_bands", dir)
    // poison the band table with 200 synthetic docs colliding in EVERY
    // band: the census goes from healthy to ~100 cand-pairs/doc, far past
    // the budget. They exist only in the bands table, with no signature
    // row behind them — the verify's signature attach drops them, so
    // answers stay pure, and the re-band (which derives the band table
    // from the stored signatures) leaves them behind.
    val P = Dedup.Prime
    val hot = (0 until 200).flatMap(i => (0 until 4).map(b =>
      ((b.toLong * P + 10 + b) * P + 20 + b, 5000000L + i)))
      .toDF("bk", "ref_id")
    graft.ops.Bucketing.appendBucketed(hot, bandsT, "bk", 8)
    val dec = Dedup.d14Maintain(spark, dir)
    assert(dec.escalateBanding,
      s"hot bands must flip the escalation verdict, got $dec")
    assert(Dedup.d14IndexR(spark, dir) == 2 * Dedup.D14BandR,
      "d14Maintain must have re-banded the index to the next r")
    assert(spark.table(bandsT).columns.contains("k2"),
      "the escalated table must carry the k2 key remainder")
    assert(spark.table(bandsT).filter(col("ref_id") >= 5000000L).isEmpty,
      "the re-band from signatures must drop the band-only synthetic docs")
    // the escalated index answers exactly the r=4 from-scratch recompute
    val got = Dedup.d14Query(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = Dedup.d10With(spark, dir, 2 * Dedup.D14BandR)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == want, "escalated-index query diverged from the r=4 " +
      "recompute")
    Dedup.d14Build(spark, dir) // restore the default index for later suites
  }
}
