package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Guards the plans' scale-critical shapes — a regression here is a silent
  * 100×-at-scale problem even when results stay correct.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, TestSession.sfDir)
      .queryExecution.explainString(FormattedMode)

  test("q1 pushes its filter and prunes columns at the parquet scan") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // the RANGE predicate must push too — IsNotNull alone survives a
    // projection cast on the column, so it can't detect the scan type
    // regressing to TIMESTAMP_NTZ (GraftSession pins inferTimestampNTZ off)
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      "shipdate range filter no longer reaches the parquet scan")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
  }

  test("q11 star join broadcasts every dimension (no sort-merge join)") {
    val p = planOf("q11_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q24's latest-per-key compaction is one windowless partial-max agg") {
    // the CDC shape: one combined row per key crosses the shuffle — a
    // row_number window would sort-shuffle every version of every key.
    // (struct MAX rides SortAggregate — a per-partition sort by the
    // grouping key; the law is the MAP-SIDE partial, not the agg flavor)
    val p = planOf("q24_latest_event")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "q24 must not window")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n.endsWith("Aggregate") && b.contains("partial_max")
    }, "q24 lost its map-side partial struct-max")
    assert(!p.contains("Exchange rangepartitioning"),
      "q24 must not globally sort")
  }

  test("q25's funnel is two aggregates — no window, no per-edge self-join") {
    // the naive funnel forms sort the event history per user (window) or
    // replicate it once per funnel edge (self-joins); the conditional-min
    // form shuffles ONE row per user between two hash aggregates
    val p = planOf("q25_funnel")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "q25 must not window")
    assert(!p.contains("Join"), "q25 must not join")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n == "HashAggregate" && b.contains("partial_min")
    }, "q25 lost its map-side conditional-min partials")
  }

  test("q20 plans no buffering percentile agg and no whole-group sort") {
    // Spark's exact `percentile` buffers a value→count map PER GROUP — with
    // few groups that buffer approaches the group's distinct-value count on
    // one task. The two-pass rank selection must keep it out of the plan,
    // and must never sort a whole group through one window partition.
    val p = planOf("q20_percentiles")
    assert(!p.toLowerCase.contains("percentile"),
      "q20 must not plan Spark's value-buffering percentile aggregate")
    // the corpus-sized rank window partitions by (slice, group): every
    // window partition is ONE range slice of ONE group (corpus/nParts)
    assert(p.contains("row_number() windowspecdefinition(pid#"),
      "q20's rank window must partition by (slice, group), not group alone")
    // the only group-partitioned window is the prefix-sum over the slice
    // census (nParts×|G| rows) — recognizable as sum over the census count
    val gWindows =
      "windowspecdefinition\\(g#\\d+,".r.findAllIn(p).size
    val censusWindows =
      "sum\\(c#\\d+L?\\) windowspecdefinition\\(g#\\d+, pid#".r
        .findAllIn(p).size
    assert(gWindows == censusWindows,
      "a corpus-sized window partitioned by group alone crept into q20")
    assert(!p.contains("CartesianProduct"))
  }

  test("d13's shingle join and size attaches all shuffle (no broadcast, no cartesian)") {
    // d13 rides d2's df-capped shingle self-join; every side is
    // corpus-sized, so a broadcast anywhere is a 100 TB OOM in waiting
    val p = planOf("d13_containment")
    assert(!p.contains("BroadcastHashJoin"), "corpus-sized side broadcast in d13")
    assert(!p.contains("CartesianProduct"))
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "d13 must not window")
  }

  test("d15's window-fingerprint join and size attaches all shuffle") {
    // the 8-gram equi-join's sides are corpus-sized (d2's class): a
    // broadcast anywhere is a 100 TB OOM in waiting, and the pair/size
    // rollups are keyed hash aggs — never a window
    val p = planOf("d15_substring_dup")
    assert(!p.contains("BroadcastHashJoin"), "corpus-sized side broadcast in d15")
    assert(!p.contains("CartesianProduct"))
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "d15 must not window")
    // the corpus×corpus window joins must be SORT-MERGE (spillable): a
    // shuffled-hash build of a wide-key window-table partition dies at
    // sf10 ("not enough memory to build hash map" — the measured round-12
    // failure), and at 1000 executors the same bar applies
    assert(nodeBlocks(p).exists { case (n, b) =>
      n == "SortMergeJoin" && b.contains("s#")
    }, "the window self-join lost its spillable sort-merge shape")
  }

  test("LSH candidate generation never plans a cartesian product") {
    // (tiny broadcast cross joins against constant tables — 8 minhash params,
    // plane grids — are deliberate and fine; a CartesianProduct is not)
    for (q <- Seq("d3_minhash_lsh", "d5_embed_cosine_dup")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian join")
    }
  }

  /** FormattedMode detail blocks: `(n) NodeName` header, then that node's
    * `Left keys`/`Right keys`/`Arguments` lines until the next header.
    */
  private def nodeBlocks(plan: String): Seq[(String, String)] = {
    val header = """^\((\d+)\) (\S+).*""".r
    val blocks = Seq.newBuilder[(String, String)]
    var name: String = null
    var body = new StringBuilder
    plan.linesIterator.foreach {
      case header(_, n) =>
        if (name != null) blocks += ((name, body.result()))
        name = n; body = new StringBuilder
      case l => if (name != null) body.append(l).append('\n')
    }
    if (name != null) blocks += ((name, body.result()))
    blocks.result()
  }

  test("d7 semdedup pairs within clusters via equi-join, never all-pairs") {
    // the quadratic term must be sum(cluster_size²) behind an equi-join on
    // centroid_id — a CartesianProduct would be corpus². (The 16-row
    // centroid crossJoin broadcasts by design; the corpus-sized pair join
    // must be a hash join keyed on the cluster id.)
    val p = planOf("d7_semdedup")
    assert(!p.contains("CartesianProduct"), "d7 plans an all-pairs join")
    val pairJoins = nodeBlocks(p).filter { case (n, b) =>
      (n == "ShuffledHashJoin" || n == "SortMergeJoin") &&
        b.linesIterator.exists(l => l.contains("keys") &&
          l.contains("centroid_id#"))
    }
    assert(pairJoins.nonEmpty,
      "intra-cluster pairing must be a SHUFFLED equi-join on centroid_id " +
        "(both sides are corpus-sized — a broadcast cannot exist at scale)")
  }

  test("d5/d7 pair joins carry the block ids in their shuffle keys") {
    // the hot-bucket/hot-cluster insurance (Salting.blockedPairJoin): the
    // pair join's shuffle keys must include __bi/__bj or one hot key still
    // serializes its whole k² product on a single partition
    for ((q, key) <- Seq(("d5_embed_cosine_dup", "bucket#"),
        ("d7_semdedup", "centroid_id#"))) {
      val blocks = nodeBlocks(planOf(q))
      val blocked = blocks.filter { case (n, b) =>
        (n == "ShuffledHashJoin" || n == "SortMergeJoin") &&
          b.linesIterator.exists(l => l.contains("keys") &&
            l.contains(key) && l.contains("__bi#") && l.contains("__bj#"))
      }
      assert(blocked.nonEmpty,
        s"$q's pair join lost its block decomposition on $key")
    }
  }

  test("p11's gram vocabulary shuffles; p12's hashed feature table broadcasts") {
    // two opposite disciplines, both load-bearing at 100 TB: the 8-gram
    // vocabulary grows with the corpus (must hash-partition, like p2's
    // terms), while DSIR's whole point is the 1024-bucket feature table
    // that broadcasts at ANY corpus size
    val p11 = nodeBlocks(planOf("p11_span_dedup"))
    val badBcast = p11.filter { case (n, b) =>
      n == "BroadcastHashJoin" &&
        b.linesIterator.exists(l => l.contains("keys") && l.contains("g#"))
    }
    assert(badBcast.isEmpty, "p11 broadcasts the corpus-sized gram table")
    val p12 = nodeBlocks(planOf("p12_dsir_weights"))
    val featBcast = p12.filter { case (n, b) =>
      n == "BroadcastHashJoin" &&
        b.linesIterator.exists(l => l.contains("keys") && l.contains("b#"))
    }
    assert(featBcast.nonEmpty,
      "p12 must broadcast the 1024-bucket feature table onto the token scan")
  }

  test("p16 chunking is one map-only corpus pass — no exchange, no join") {
    val p = planOf("p16_chunking")
    assert(!p.contains("Exchange"), "chunking must not shuffle")
    assert(!p.contains("Join"), "chunking must not join")
    assert(p.contains("Generate"), "the window explode is the only fan-out")
  }

  test("p17 shuffle-shards sorts per shard, never globally") {
    val p = planOf("p17_shuffle_shards")
    val blocks = nodeBlocks(p)
    val exchanges = blocks.filter(_._1 == "Exchange")
    assert(exchanges.size == 1, "exactly one exchange (on the shard id)")
    assert(exchanges.head._2.contains("hashpartitioning(shard#"),
      "the single exchange must hash-partition on the shard id")
    assert(!p.contains("SinglePartition"),
      "the position window must be per-shard, not a global sort funnel")
    assert(!p.contains("rand("), "order key must be content-stable, not rand()")
  }

  test("p8 repetition plans only keyed hash aggregations, nothing global") {
    val p = planOf("p8_repetition")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "p8 must not sort the corpus in a window")
    // r19: the per-doc window stats are doc-local (sorted-array fold), so
    // the lang-keyed agg is the plan's ONLY shuffle and there is no join
    assert(!p.contains("Join"), "p8 must not join — per-doc stats are local")
  }

  test("q23 grouping sets is one Expand pass, never a union of scans") {
    // the three report dimensions (per-flag, per-status, grand total) must
    // come from ONE corpus scan expanded in-stream — a Union of separate
    // aggregations would read the table once per set
    val p = planOf("q23_grouping_sets")
    assert(p.contains("Expand"), "grouping sets lost the Expand shape")
    assert(!p.contains("Union"), "q23 regressed to unioned per-set scans")
    val scans = nodeBlocks(p).count { case (n, _) => n.startsWith("Scan") }
    assert(scans == 1, s"$scans scans — grouping sets must read once")
  }

  test("a5 entropy is MAP-ONLY — zero exchanges, zero joins, zero windows") {
    // r19: the word histogram is doc-local, so the sorted-array run fold
    // computes it in-stream — one scan, no shuffle at any corpus size
    val p = planOf("a5_entropy")
    assert(!p.contains("Join"), "a5 must not join")
    assert(!p.contains("Window"), "a5 must not window")
    assert(!p.contains("Exchange"), "a5 must not shuffle — it is map-only")
  }

  test("a6 repetition is MAP-ONLY — zero exchanges, zero joins, " +
      "zero windows") {
    // r19: word and bigram run statistics are doc-local (sorted-array
    // fold), so the whole report is one scan — the former two keyed-agg
    // passes and their doc-keyed join are gone at any corpus size
    val p = planOf("a6_repetition")
    assert(!p.contains("Window"), "a6 must not window")
    assert(!p.contains("Join"), "a6 must not join — stats are doc-local")
    assert(!p.contains("Exchange"), "a6 must not shuffle — it is map-only")
  }

  /** r20: the corpus-wide nearest-centroid assignment is ROW-LOCAL
    * (Similarity.rowArgminPk — a fold over the one-row broadcast centroid
    * array): no corpus-keyed argmin aggregation, no assignment re-attach
    * join, no window — nothing vector-keyed may shuffle at all. The
    * positive signals are the one-row array attach (BroadcastNestedLoop)
    * and the exact-decimal distance inside the fold.
    */
  private def assertRowLocalAssignment(q: String, p: String): Unit = {
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      s"$q must not shuffle vector-keyed rows — assignment is row-local")
    assert(!p.contains("Exchange hashpartitioning(cid"),
      s"$q must not shuffle vector-keyed rows — assignment is row-local")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"$q lost the one-row centroid-array attach")
    assert(p.contains("sea_fargmin_pk"),
      s"$q lost the codegen'd row-local packed argmin")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, s"$q must not window")
  }

  test("c4 cluster quality assigns row-locally; separation is " +
      "k-bounded and broadcast") {
    // the per-vector (centroid, winning-d2) decode must come from the
    // row-local packed argmin's own bits — a second corpus pass, a
    // corpus-keyed agg or a window rank would double the dominant cost;
    // the k² separation table must broadcast (it is k-bounded at any
    // corpus size)
    val p = planOf("c4_cluster_quality")
    assertRowLocalAssignment("c4", p)
    assert(p.contains("BroadcastHashJoin"),
      "the k-bounded separation join should broadcast")
  }

  test("c5's elbow curve reads the corpus ONCE for all k") {
    // the operator's point: three clusterings, one scan — a per-k loop
    // would plan one embeddings FileScan per k. The nested centroid sets
    // ride one broadcast array; per k the argmin folds over its slice.
    val p = planOf("c5_kmeans_elbow")
    val scans = nodeBlocks(p).count { case (n, _) => n == "Scan" }
    assert(scans <= 2, // one corpus scan + the broadcast centroid scan
      s"c5 must not scan the corpus per k (found $scans parquet scans)")
    assertRowLocalAssignment("c5", p)
  }

  test("c6's mini-batch round rides the sampled row-local argmin, no window") {
    // the final round's plan (rounds 1-2 are materialized checkpoints by
    // construction, the c2 discipline): the round-salted md5 sample filter
    // must gate the corpus BEFORE the k-way distance work, the assignment
    // must stay row-local, and no rank window anywhere
    val p = planOf("c6_kmeans_minibatch")
    assert(p.contains("md5"), "c6 lost its deterministic sample filter")
    assertRowLocalAssignment("c6", p)
    assert(!p.contains("CartesianProduct"))
  }

  test("d3's band/est/verify joins shuffle — no broadcast of unbounded sides") {
    // every join side in d3 (signatures, candidates, shingle sets, sizes) is
    // corpus-sized or candidate-sized — locally tiny, unbounded at scale;
    // AQE's broadcast conversion must not hide the shuffle shape
    for (q <- Seq("d2_ngram_jaccard", "d3_minhash_lsh")) {
      val blocks = nodeBlocks(planOf(q))
      val bcast = blocks.filter { case (n, _) => n == "BroadcastHashJoin" }
      assert(bcast.isEmpty, s"${bcast.size} broadcast joins in $q")
    }
  }

  test("d3 verifies candidates off one signature table: no Generate, no " +
      "broadcast, exactly one band self-join") {
    // the signature table is one map-only kernel pass (a shingle explode
    // would show as Generate), both verify attaches shuffle (the table is
    // corpus-sized), and the band self-join on the packed key (bk = i·P +
    // mh) runs exactly once: the verify is a sorted-set merge per
    // candidate, never a join through the shingle rows or a re-attach of
    // the minima
    val p = planOf("d3_minhash_lsh")
    val blocks = nodeBlocks(p)
    assert(!blocks.exists(_._1 == "Generate"), "d3 plans a Generate")
    assert(!blocks.exists(_._1.startsWith("Broadcast")),
      "d3 broadcasts a corpus-sized side")
    val bandJoins = blocks.filter { case (n, b) =>
      n.endsWith("Join") && b.linesIterator.exists(l =>
        l.contains("keys") && "\\bbk#".r.findFirstIn(l).isDefined)
    }
    assert(bandJoins.size == 1, s"${bandJoins.size} bk band joins in d3")
    assert(p.contains("sea_sorted_intersect_size"),
      "d3's verify lost its sorted-set merge")
  }

  test("d12's candidate and text-attach joins shuffle; the edit distance " +
      "is threshold-bounded") {
    // same discipline as d3 (signatures and texts are corpus-sized — no
    // broadcast may hide the shuffle shape), plus d12's own scale bound:
    // the levenshtein call must carry the per-row threshold argument, so
    // each background collision pays the banded O(t·len) DP, never the
    // full O(len²) table
    val p = planOf("d12_edit_dedup")
    val bcast = nodeBlocks(p).filter { case (n, _) => n == "BroadcastHashJoin" }
    assert(bcast.isEmpty, s"${bcast.size} broadcast joins in d12")
    assert(!p.contains("CartesianProduct"), "d12 plans an all-pairs join")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "d12 must not window")
    assert(p.contains("levenshtein(ta"), "edit distance disappeared")
    // the threshold inlines as `Some(cast(FLOOR(... * 0.2)) as int)` once
    // the projection collapses — assert the Some(...) third argument, not
    // the pre-collapse column name
    assert("levenshtein\\(ta#\\d+, tb#\\d+, Some\\(".r.findFirstIn(p).isDefined,
      "levenshtein lost its threshold argument — unbounded per-pair DP")
  }

  test("q22's bucketed join carries no exchange between scan and join") {
    val p = planOf("q22_bucketed_join")
    assert(p.contains("SortMergeJoin"), "bucketed join must sort-merge")
    // the single allowed hash exchange is the final groupBy's — the JOIN
    // inputs read pre-bucketed, pre-sorted data with no re-partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"$exchanges hash exchanges — bucket layout unused")
  }

  test("d14's candidate band join reads both bucket layouts with no exchange") {
    // the operator's point: after the one-time index build, a batch's band
    // join against the STORED reference bands re-partitions NOTHING — both
    // sides read pre-bucketed on the composite band key
    val spark2 = spark
    val dir = TestSession.sfDir
    analytics.Dedup.d14Build(spark2, dir)
    val p = analytics.Dedup.d14Query(spark2, dir)
      .queryExecution.explainString(FormattedMode)
    val smj = nodeBlocks(p).filter { case (n, b) =>
      n == "SortMergeJoin" && b.contains("bk")
    }
    assert(smj.nonEmpty, "the band join lost its bucketed sort-merge shape")
    // no hash exchange may feed the band join: find any Exchange keyed on
    // bk — bucketed inputs need none
    assert(!nodeBlocks(p).exists { case (n, b) =>
      n == "Exchange" && b.contains("hashpartitioning(bk")
    }, "the band join re-partitioned a bucketed input")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "d14 must not window")
  }

  test("the ESCALATED (r=4) band join stays exchange-free: the k2 key " +
      "remainder rides the bk bucket layout") {
    // the candidate join stays keyed on the bucketed bk alone (joining on
    // (bk, k2) directly would trip requireAllClusterKeysForCoPartition
    // and re-shuffle both sides); the k2 remainder applies as a post-join
    // filter — escalation changes recall, never the plan's scale shape
    val dir = TestSession.sfDir
    analytics.Dedup.d14Build(spark, dir)
    analytics.Dedup.d14Rebuild(spark, dir, 4)
    try {
      val p = analytics.Dedup.d14Query(spark, dir)
        .queryExecution.explainString(FormattedMode)
      val smj = nodeBlocks(p).filter { case (n, b) =>
        n == "SortMergeJoin" && b.contains("bk")
      }
      assert(smj.nonEmpty, "the escalated band join lost its bucketed " +
        "sort-merge shape")
      assert(p.contains("k2"), "the k2 key-remainder filter is missing " +
        "from the escalated plan")
      assert(!nodeBlocks(p).exists { case (n, b) =>
        n == "Exchange" && b.contains("hashpartitioning(bk")
      }, "the escalated band join re-partitioned a bucketed input")
    } finally analytics.Dedup.d14Rebuild(spark, dir, analytics.Dedup.D14BandR)
  }

  test("an ODD banding (r=3, ragged last band) keeps the same " +
      "exchange-free bucketed join shape — pads change recall, never " +
      "the plan") {
    val dir = TestSession.sfDir
    analytics.Dedup.d14Build(spark, dir)
    analytics.Dedup.d14Rebuild(spark, dir, 3)
    try {
      val p = analytics.Dedup.d14Query(spark, dir)
        .queryExecution.explainString(FormattedMode)
      assert(nodeBlocks(p).exists { case (n, b) =>
        n == "SortMergeJoin" && b.contains("bk")
      }, "the r=3 band join lost its bucketed sort-merge shape")
      assert(p.contains("k2"),
        "the k2 key-remainder filter is missing from the r=3 plan")
      assert(!nodeBlocks(p).exists { case (n, b) =>
        n == "Exchange" && b.contains("hashpartitioning(bk")
      }, "the r=3 band join re-partitioned a bucketed input")
    } finally analytics.Dedup.d14Rebuild(spark, dir, analytics.Dedup.D14BandR)
  }

  test("d14 append grows the index by each accepted doc exactly once") {
    // the s12 exactly-once-append law applied to the dedup index: build +
    // one wave's append must leave exactly one signature row per reference
    // doc plus one per accepted survivor — a re-run that re-wrote existing
    // rows would duplicate, a dropped bucket file would lose docs — and
    // the appended rows must BE the accepted docs' signatures, shingle
    // set and minima bit for bit. The appended batch must also SERVE:
    // wave two's query over the grown index still plans its band join
    // exchange-free.
    import org.apache.spark.sql.functions.col
    val dir = TestSession.sfDir
    analytics.Dedup.d14Build(spark, dir)
    val sigT = analytics.Dedup.d14Table("d14_ref_signatures", dir)
    val before = spark.table(sigT).count()
    val wave1 = analytics.Dedup.d14Query(spark, dir, Seq("src0", "src1"))
    // severed: re-evaluated after the append, the verdict would read the
    // grown index and accept nothing
    val accepted = wave1.filter(col("novel")).select("doc_id")
      .localCheckpoint(true)
    val nAccepted = accepted.count()
    assert(nAccepted > 0, "fixture must accept at least one wave-1 doc")
    analytics.Dedup.d14Append(spark, dir, accepted)
    val sigs = spark.table(sigT)
    assert(sigs.count() == before + nAccepted,
      "append must add exactly one signature row per accepted doc")
    assert(sigs.select("ref_id").distinct().count() == before + nAccepted,
      "every indexed doc must appear exactly once")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    val stored = sigs.join(accepted.withColumnRenamed("doc_id", "ref_id"),
      Seq("ref_id"), "left_semi")
    val signed = analytics.Dedup.signatures(analytics.Tables(spark, dir)
      .documents.join(accepted, Seq("doc_id"), "left_semi"))
    assert(stored.columns.toSeq ==
      signed.withColumnRenamed("doc_id", "ref_id").columns.toSeq,
      "the signature table lost signatures' column layout")
    assert(rows(stored) == rows(signed),
      "the appended rows must equal the accepted docs' signatures")
    signed.unpersist()
    val p2 = analytics.Dedup.d14Query(spark, dir, Seq("src2", "src3", "src4"))
      .queryExecution.explainString(FormattedMode)
    assert(!nodeBlocks(p2).exists { case (n, b) =>
      n == "Exchange" && b.contains("hashpartitioning(bk")
    }, "the grown band join re-partitioned a bucketed input")
  }

  test("d16 compaction restores one file per bucket and stays exchange-free") {
    // the index-lifecycle law: appends accumulate one small file per bucket
    // per wave; compaction must (a) rewrite each table back to exactly
    // numBuckets data files, (b) change NOTHING the query sees — same rows,
    // same exchange-free bucketed band join (the d16 oracle pins the full
    // equality against the recomputed cascade; this law pins the layout)
    import org.apache.spark.sql.functions.col
    val dir = TestSession.sfDir
    analytics.Dedup.d14Build(spark, dir)
    val wave1 = analytics.Dedup.d14Query(spark, dir, Seq("src0", "src1"))
    analytics.Dedup.d14Append(spark, dir, wave1.filter(col("novel")))
    val bands = analytics.Dedup.d14Table("d14_ref_bands", dir)
    assert(graft.ops.Bucketing.tableDataFileCount(spark, bands) > 8,
      "fixture must start with multi-file buckets (build + one append)")
    val beforeRows = analytics.Dedup
      .d14Query(spark, dir, Seq("src2", "src3", "src4"))
      .orderBy("doc_id").collect().toSeq
    analytics.Dedup.d14Compact(spark, dir)
    for (t <- Seq("d14_ref_bands", "d14_ref_signatures")) {
      val n = graft.ops.Bucketing.tableDataFileCount(
        spark, analytics.Dedup.d14Table(t, dir))
      assert(n == 8, s"$t holds $n data files after compaction, want 8")
    }
    val after = analytics.Dedup.d14Query(spark, dir, Seq("src2", "src3", "src4"))
    assert(after.orderBy("doc_id").collect().toSeq == beforeRows,
      "compaction changed the recurring query's rows")
    val p = after.queryExecution.explainString(FormattedMode)
    assert(!nodeBlocks(p).exists { case (n, b) =>
      n == "Exchange" && b.contains("hashpartitioning(bk")
    }, "the compacted band join re-partitioned a bucketed input")
  }

  test("compactBucketed swap is crash-recoverable from the scratch table") {
    // the exactly-once discipline's recovery half: a crash between DROP
    // and RENAME leaves only the committed scratch table; the next call
    // must finish the swap from it instead of failing or re-rewriting
    import spark.implicits._
    val t = "compact_crash_spec"
    graft.ops.Bucketing.writeBucketed(
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, "k", 4)
    graft.ops.Bucketing.appendBucketed(
      (100 until 120).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, "k", 4)
    // simulate the crash window: rewrite committed under the scratch name,
    // original dropped, rename never ran (the forced-bucketed-scan rewrite
    // compactBucketed itself performs)
    val ak = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(ak, "false")
    try graft.ops.Bucketing.writeBucketed(
      spark.table(t), t + "__compact", "k", 4)
    finally spark.conf.set(ak, "true")
    spark.sql(s"DROP TABLE `$t`")
    graft.ops.Bucketing.compactBucketed(spark, t, "k", 4)
    assert(spark.table(t).count() == 120L)
    assert(graft.ops.Bucketing.tableDataFileCount(spark, t) == 4)
    assert(!spark.catalog.tableExists(t + "__compact"),
      "recovery must consume the scratch table")
    spark.sql(s"DROP TABLE `$t`")
  }

  test("q21's salted join shuffles on (key, salt) — salt must reach the join") {
    // a broadcast here would bypass the very shuffle the salt spreads; the
    // join keys must include the salt column or the hot key still lands on
    // one partition
    val blocks = nodeBlocks(planOf("q21_salted_skew"))
    val salted = blocks.filter { case (n, b) =>
      (n == "ShuffledHashJoin" || n == "SortMergeJoin") &&
        b.linesIterator.exists(l => l.contains("keys") && l.contains("__salt#"))
    }
    assert(salted.nonEmpty, "no shuffled join keyed on __salt in q21")
    assert(!blocks.exists(_._1 == "BroadcastHashJoin"),
      "q21's dim broadcast bypasses the salted shuffle")
  }

  test("p2/p10 term joins shuffle — vocabulary tables never broadcast") {
    // (the 1-row corpus-total crossJoin broadcasts as a nested loop — fine;
    // a BroadcastHashJoin keyed on term would be a vocabulary broadcast)
    for (q <- Seq("p2_tfidf_topterms", "p10_perplexity")) {
      val bad = nodeBlocks(planOf(q)).filter { case (n, b) =>
        n == "BroadcastHashJoin" &&
          b.linesIterator.exists(l => l.contains("keys") && l.contains("term#"))
      }
      assert(bad.isEmpty, s"$q broadcasts the vocabulary table")
    }
    // p18's bigram/unigram LM tables are the same class of unbounded
    // vocabulary — all three scoring joins must stay shuffled
    val p18 = nodeBlocks(planOf("p18_bigram_lm")).filter { case (n, b) =>
      n == "BroadcastHashJoin" && b.linesIterator.exists(l =>
        l.contains("keys") && (l.contains("w1#") || l.contains("w2#")))
    }
    assert(p18.isEmpty, "p18 broadcasts an LM count table")
  }

  test("p9 curation chain is one corpus scan; keeper via window, not join") {
    // a groupBy+semi-join keeper would re-scan the corpus and broadcast a
    // corpus-sized distinct-texts table — fine locally, impossible at 100 TB
    val p = planOf("p9_curate_e2e")
    val scans = nodeBlocks(p).count(_._1.startsWith("Scan"))
    assert(scans == 1, s"expected one corpus scan, got $scans")
    assert(!p.contains("Join"), "keeper regressed to a join")
  }

  test("d5 re-attaches vectors with shuffle joins, never a corpus broadcast") {
    // at 100 TB the corpus vector table cannot broadcast; the pair joins on
    // vec_a/vec_b must be hash-partitioned shuffle joins. Inspect the join
    // nodes' key lists (not alias substrings — broadcast nodes print modes,
    // not aliases).
    val blocks = nodeBlocks(planOf("d5_embed_cosine_dup"))
    def keysOnVec(body: String) =
      body.linesIterator.exists(l => l.contains("keys") &&
        (l.contains("[vec_a#") || l.contains("[vec_b#")))
    val shuffled = blocks.filter { case (n, b) =>
      n == "ShuffledHashJoin" && keysOnVec(b) }
    assert(shuffled.size >= 2,
      s"expected >=2 ShuffledHashJoin nodes keyed on vec_a/vec_b, " +
        s"got ${shuffled.size}")
    val broadcastOnVec = blocks.filter { case (n, b) =>
      n.startsWith("Broadcast") && keysOnVec(b) }
    assert(broadcastOnVec.isEmpty,
      s"corpus vectors are broadcast in d5: ${broadcastOnVec.map(_._1)}")
  }

  test("t3's global position stamp never plans a single-partition stage") {
    // the merge + position stamp must stay parallel: no unpartitioned
    // Window (row_number over the world) and no SinglePartition exchange
    val p = planOf("t3_fuse_merge")
    assert(!p.contains("Window"), "t3 regressed to a window-based stamp")
    assert(!p.contains("SinglePartition"), "t3 funnels through one partition")
  }

  test("range join is a shuffled equi-join, not a nested loop or broadcast") {
    val p = planOf("q19_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "tolerance join must bucket, not theta-join")
    assert(!p.contains("BroadcastHashJoin"),
      "both range-join sides are unbounded — the bucket join must shuffle")
  }

  test("p6 contamination probes a broadcast benchmark set, no corpus shuffle join") {
    // the benchmark shingle set is tiny by construction (an eval suite vs a
    // 100 TB corpus): the containment join must be a broadcast hash probe —
    // a sort-merge/shuffle join here would shuffle every corpus shingle
    val p = planOf("p6_contamination")
    assert(p.contains("BroadcastHashJoin"), "bench set must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shingles must not shuffle-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("p7 domain mix broadcasts the per-source rates onto one corpus pass") {
    // (the 1-row `tot` cross join broadcasts as a nested loop — fine; what
    // must not appear is a shuffle join on the corpus scan)
    val p = planOf("p7_domain_mix")
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"), "docs×rates regressed to a shuffle join")
  }

  test("m4/m5/m6 band self-joins shuffle — hash tables are corpus-sized") {
    // both sides of each band-collision join grow with the corpus; AQE's
    // local broadcast conversion must not hide the only shape that exists
    // at scale (hash-partitioned on the band value)
    for (q <- Seq("m4_image_dedup", "m5_audio_dedup", "m6_video_dedup")) {
      val blocks = nodeBlocks(planOf(q))
      assert(!blocks.exists(_._1 == "CartesianProduct"))
      assert(!blocks.exists { case (n, b) =>
        n == "BroadcastHashJoin" &&
          b.linesIterator.exists(l => l.contains("keys") && l.contains("bv#"))
      }, s"$q broadcasts a corpus-sized hash-band table")
      assert(blocks.exists { case (n, b) =>
        (n == "ShuffledHashJoin" || n == "SortMergeJoin") &&
          b.linesIterator.exists(l => l.contains("keys") && l.contains("bv#"))
      }, s"$q's band join must be a shuffled equi-join on the band value")
    }
  }

  test("d5/d7 decimal cosine stays structurally guarded by the double prefilter") {
    // The cheap double prefilter and the exact decimal cosine both end up
    // pushed into the pair join; as two stacked filters they became one
    // AND whose conjunct ORDER Catalyst may flip — at sf1 it did, and the
    // BigDecimal dot product ran on every candidate pair (5× the query).
    // The law: a cross-vector sea_fdot_exact may appear ONLY inside a
    // CaseWhen (whose predicate carries the sea_fdot prefilter) — never as
    // a bare conjunct the optimizer can reorder. Self-dots (norms) are
    // exempt, and so is the sea_fdist2_exact assignment mode: centroid
    // argmin has no threshold to prefilter on (every (vector, centroid)
    // distance participates in the min) and is k-bounded broadcast work,
    // not pair-join work.
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression}
    def unguarded(e: Expression): Boolean = e match {
      case _: CaseWhen => false // below a guard: fine by construction
      case d: graft.functions.FloatVecDecimal
          if !d.squaredDiff && !d.left.semanticEquals(d.right) => true
      case other => other.children.exists(unguarded)
    }
    // (d8 is exempt: its pair plan executes eagerly inside
    // connectedComponents, so the returned labels plan is driver-local —
    // d5 shares the exact same embedNearDup subtree.)
    for (q <- Seq("d5_embed_cosine_dup", "d7_semdedup")) {
      val plan = SparkEntry.queries(q)(spark, TestSession.sfDir)
        .queryExecution.optimizedPlan
      val bare = plan.collect {
        case n if n.expressions.exists(unguarded) => n.nodeName
      }
      assert(bare.isEmpty,
        s"$q evaluates the exact decimal dot product outside its CaseWhen " +
          s"guard in: ${bare.mkString(", ")} — conjunct reordering can now " +
          "run it on every candidate pair")
      val guarded = plan.collect { case n => n.expressions }.flatten
        .flatMap(_.collect {
          case c: CaseWhen if c.branches.exists { case (p, v) =>
            p.exists(_.isInstanceOf[graft.functions.FloatVecDot]) &&
              v.exists(_.isInstanceOf[graft.functions.FloatVecDecimal])
          } => c
        })
      assert(guarded.nonEmpty,
        s"$q lost the fast-prefilter CaseWhen entirely")
    }
  }

  test("s8's per-side top-k aggregates bounded state; only the fused rank windows") {
    // The lexical and dense top-20-per-query must be the O(k)-state
    // ObjectHashAggregate (TopKAggregator) — a row_number window there
    // would sort-shuffle every candidate into ≤|queries| tasks. The single
    // allowed Window ranks the fused ≤2N-row-per-query list. The postings
    // and cosine scans meet the query-bounded tables by broadcast; the
    // corpus-sized universe id-joins stay shuffled.
    val plan = SparkEntry.queries("s8_hybrid_search")(spark, TestSession.sfDir)
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 4, // 2 sides × partial+final
      "per-side top-k lost its ObjectHashAggregate shape")
    // \b so WindowGroupLimit doesn't count: those nodes are the rank-limit
    // pushdown trimming each partition to top-3 BEFORE the fusion window's
    // sort — wanted, not a second corpus window.
    assert("\\bWindow\\b".r.findAllIn(plan).size <= 1,
      "more than the single bounded fusion Window in the s8 plan")
    assert(plan.contains("BroadcastHashJoin"),
      "query-bounded tables must broadcast onto the corpus scans")
    assert(plan.contains("ShuffledHashJoin"),
      "the corpus-sized universe id-join must not broadcast")
  }

  test("p13's bloom prefilter sits in the scan stage; confirm join shuffles") {
    // the fixed-size bloom blob must be a literal predicate on the corpus
    // scan side (no shuffle to apply it), and the exact confirm join is
    // eval-sized by premise — pinned to the shuffle shape
    val p = planOf("p13_bloom_contamination")
    assert(p.contains("might_contain"), "bloom probe missing from the plan")
    val blocks = nodeBlocks(p)
    assert(!blocks.exists { case (n, b) =>
      n == "BroadcastHashJoin" &&
        b.linesIterator.exists(l => l.contains("keys") && l.contains("s#"))
    }, "p13's confirm join must not broadcast the eval shingle set")
  }

  test("p26 decontamination: window joins all shuffle (the eval window " +
      "set is eval-sized by premise), no window op, no cartesian") {
    // the seen-gram confirm is ONE shuffled semi-join of corpus windows
    // against the eval set; the verdict tail is doc-keyed left joins —
    // nothing here may broadcast an unbounded side, sort through a
    // Window, or go all-pairs
    val p = planOf("p26_ngram_decontam")
    val blocks = nodeBlocks(p)
    assert(!blocks.exists { case (n, b) =>
      n == "BroadcastHashJoin" &&
        b.linesIterator.exists(l => l.contains("keys") && l.contains("s#"))
    }, "p26's window join must not broadcast the eval window set")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "p26 must not window")
    assert(!p.contains("CartesianProduct"), "p26 went all-pairs")
  }

  test("p15 broadcasts the trained vocab onto one corpus pass") {
    // the (word -> piece count) table is Heaps-law bounded — it must
    // BROADCAST (the whole point of tokenizing via a vocab table); a
    // shuffled join here would re-partition the corpus for no reason
    val p = planOf("p15_bpe_tokenize")
    assert(p.contains("BroadcastHashJoin"),
      "vocab join lost its broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus word stream must not shuffle for the vocab join")
  }

  test("s7 probes the persisted IVF index with dynamic partition pruning") {
    // the layout is partitionBy(centroid_id); the probe list must reach the
    // index scan as a RUNTIME partition filter (reused from the probes
    // broadcast) — without it every query set re-reads the whole corpus
    val p = planOf("s7_ann_ivf_indexed")
    assert(p.contains("dynamicpruning"),
      "index scan lost its dynamic partition pruning filter")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n.startsWith("Scan") && b.contains("PartitionFilters") &&
        b.contains("dynamicpruning")
    }, "the pruning filter must sit on the index scan's PartitionFilters")
  }

  test("s13_mmr_indexed retrieves its pool through the s7 DPP probe") {
    // the serving composition's point: the MMR pool must come off the
    // PRUNED index scan (probes/K of the corpus), not a full-corpus pass —
    // the same runtime partition filter law as s7/s12, now guarding the
    // retrieve half of retrieve-then-re-rank
    val p = planOf("s13_mmr_indexed")
    assert(p.contains("dynamicpruning"),
      "the MMR pool's index scan lost its dynamic partition pruning filter")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n.startsWith("Scan") && b.contains("PartitionFilters") &&
        b.contains("dynamicpruning")
    }, "the pruning filter must sit on the pool's index scan")
  }

  test("s12's upserted index serves through the same DPP probe as s7") {
    // incremental maintenance must be invisible to the serve path: after
    // the batch append, the probe still reads only the probed centroid
    // directories via a runtime partition filter — if the append broke the
    // partition layout (or the probe list stopped broadcasting) the scan
    // would fall back to reading the whole index
    val p = planOf("s12_ann_index_upsert")
    assert(p.contains("dynamicpruning"),
      "upserted index scan lost its dynamic partition pruning filter")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n.startsWith("Scan") && b.contains("PartitionFilters") &&
        b.contains("dynamicpruning")
    }, "the pruning filter must sit on the upserted index scan")
  }

  test("s14's post-forget index serves through the same DPP probe, and " +
      "the takedown is total: forgotten ids neither serve nor query") {
    // the takedown twin of the s12 law: deleting vectors must preserve
    // the partition layout (the rewrite is partitionBy(centroid_id)), so
    // the probe still prunes; and the forgotten slice must be gone from
    // BOTH sides of the serve — results and query set
    val df = graft.SparkEntry.queries("s14_index_forget")(
      graft.TestSession.spark, graft.TestSession.sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("dynamicpruning"),
      "post-forget index scan lost its dynamic partition pruning filter")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n.startsWith("Scan") && b.contains("PartitionFilters") &&
        b.contains("dynamicpruning")
    }, "the pruning filter must sit on the post-forget index scan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 10 != 3 && r.getLong(1) % 10 != 3),
      "a forgotten id survived the takedown (as qid or cid)")
  }

  test("s15's index census reads the layout, never the corpus: one index " +
      "scan with an EMPTY ReadSchema") {
    // the census's whole point at 10^9 vectors: per-centroid counts come
    // from the partition directories + row counts — zero vector bytes,
    // zero corpus scan. Laws: the only file scan in the plan is the
    // persisted index (no embeddings.parquet), and that scan's ReadSchema
    // is struct<> (only the partition column feeds the agg).
    val df = SparkEntry.queries("s15_index_stats")(spark, TestSession.sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    val scans = nodeBlocks(p).filter(_._1.startsWith("Scan"))
    assert(scans.nonEmpty)
    assert(scans.forall(_._2.contains("ivf_index")),
      "the census scanned something other than the persisted index")
    assert(!p.contains("embeddings.parquet"),
      "the census must never rescan the corpus")
    assert(scans.forall(_._2.contains("ReadSchema: struct<>")),
      "the census read data columns — counts must come from the layout")
    assert(!p.contains("CartesianProduct"),
      "the 1-row total must broadcast, not cartesian")
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).sum ==
      spark.read.parquet(graft.analytics.Similarity
        .s7IndexPath(spark, TestSession.sfDir)).count(),
      "census member counts must sum to the index size")
  }

  test("d18's collision census reads the bands table, never the corpus, " +
      "and the bk agg rides the bucket layout exchange-free") {
    // s15's discipline on the dedup index: the histogram that prices
    // banding-knob decisions must cost an index agg, not a dedup run.
    // Laws: no documents scan; the heavy groupBy(bk) has NO Exchange
    // below it (the bands table is bucketed on bk) — the plan's only
    // exchange is the histogram-sized second stage.
    val df = SparkEntry.queries("d18_band_stats")(spark, TestSession.sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("documents.parquet"),
      "the census must never rescan the corpus")
    // FormattedMode prints each node twice (tree line + detail header);
    // count tree nodes only
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size <= 1,
      "the bk aggregation lost its bucket-layout exchange-free read")
    assert(p.contains("Bucketed: true"),
      "the bands scan stopped reading through the bucket layout")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val idx = spark.table(graft.analytics.Dedup.d14Table(
      "d14_ref_bands", TestSession.sfDir))
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == idx.count(),
      "histogram row mass must sum to the band table size")
  }

  test("ANN candidate ranking is window-free: bounded top-k aggregation only") {
    // VERDICT r8 #1: s4/s5 ranked corpus-sized candidate streams through
    // row_number windows — the window sort-shuffles EVERY candidate into
    // one task per query, so at 10^9 vectors the corpus funnels through
    // ≤|queries| tasks. Every ANN rank path (brute truth scans included)
    // now selects its top-k via TopKAggregator: the law is NO Window node
    // anywhere in these plans, and the O(k)-state ObjectHashAggregate
    // present. (s8's single fused-rank window is bounded and guarded in
    // its own law.)
    for (q <- Seq("s1_knn_brute", "s2_ann_lsh", "s3_ann_ivf", "s4_ann_sq8",
        "s5_ann_pq", "s6_ann_recall", "s7_ann_ivf_indexed", "s9_ann_ivfpq",
        "s10_filtered_knn", "s12_ann_index_upsert",
        // s13's greedy rounds are min-struct argmax aggs over result-sized
        // frames — same law: the pool + rerank never touch a Window
        "s13_mmr_rerank", "s13_mmr_indexed")) {
      val plan = SparkEntry.queries(q)(spark, TestSession.sfDir)
        .queryExecution.executedPlan.toString
      assert("\\bWindow\\b".r.findAllIn(plan).isEmpty,
        s"$q ranks candidates through a Window sort")
      assert(plan.contains("ObjectHashAggregate"),
        s"$q's top-k lost its bounded ObjectHashAggregate shape")
    }
  }

  test("p20 holdout selection is a bounded top-k aggregation, never a " +
      "per-source window sort") {
    // exactly-k-per-source must NOT rank through `row_number over
    // (partition by source order by hash)` — that window funnels each
    // source's whole corpus slice through one task; the TopKLongAgg
    // ObjectHashAggregate keeps O(k) state per source with map-side
    // partials
    val plan = SparkEntry.queries("p20_eval_holdout")(spark, TestSession.sfDir)
      .queryExecution.executedPlan.toString
    assert("\\bWindow\\b".r.findAllIn(plan).isEmpty,
      "p20 ranks the holdout through a Window sort")
    assert(plan.contains("ObjectHashAggregate"),
      "p20's top-k lost its bounded ObjectHashAggregate shape")
  }

  test("s11 drift monitor: one pass, shuffled batch tag, map-side partial " +
      "aggregation, no window") {
    // the per-dimension drift stats must be a single corpus pass: the
    // batch-membership tag attaches by a SHUFFLED join (the id set is
    // corpus-fraction-sized — a broadcast would hide the 100 TB shape)
    // and the 64-key aggregation must carry map-side partials
    val p = planOf("s11_embed_drift")
    assert(!p.contains("Window"), "s11 must not window")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "the batch tag must attach by a shuffled join")
    assert(!p.contains("BroadcastHashJoin"),
      "the batch id set regressed to a broadcast")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n == "HashAggregate" && b.contains("partial_sum")
    }, "the dimension stats lost map-side partial aggregation")
  }

  test("p19 budget selection windows only bounded partitions: the bucket " +
      "histogram and the one straddling bucket") {
    // per-source ranked-prefix selection must NOT run a cumulative window
    // over each source's full document slice (one task per source = the
    // s4/s5 funnel). The exact-equivalent split: a cumulative window over
    // the (source, bucket) HISTOGRAM (≤101 rows per source), and a
    // doc-level prefix window partitioned by (source, bucket) — only the
    // straddling bucket's docs reach it. Law: exactly two Windows; the
    // source-partitioned one consumes the aggregated btoks, never raw
    // docs; the doc-level one carries the bucket in its partition key.
    val p = planOf("p19_budget_select")
    val wins = nodeBlocks(p).filter(_._1 == "Window")
    // the histogram window may plan once per consumer branch (full +
    // straddling — it is an O(sources × 101) recompute, not worth a
    // persist); what must NOT exist is any additional doc-level window
    val (histWins, docWins) = wins.partition(_._2.contains("btoks"))
    assert(histWins.nonEmpty,
      "the per-source cumulative window must run over the bucket histogram")
    assert(docWins.size == 1 && docWins.head._2.contains("quality_bucket"),
      "exactly one doc-level prefix window, partitioned by (source, bucket)")
  }

  test("d10/d11 dedup evaluators: all unbounded joins shuffle, no window, " +
      "no cartesian") {
    // the batch-vs-reference admission gate (d10) and the LSH S-curve
    // measurement (d11) join corpus-sized tables everywhere (signatures,
    // shingle attaches, membership split, pair-compare) — every one must
    // hash-shuffle (a broadcast of the locally tiny batch/candidate set
    // would hide the 100 TB shape), selection/stats must be keyed
    // aggregation (a per-doc window over the candidate stream is the
    // s4/s5 scale-killer shape), and the band join must stay an equi-join
    for (q <- Seq("d10_cross_corpus", "d11_lsh_recall")) {
      val plan = SparkEntry.queries(q)(spark, TestSession.sfDir)
        .queryExecution.executedPlan.toString
      assert("\\bWindow\\b".r.findAllIn(plan).isEmpty,
        s"$q ranks matches through a Window")
      assert(!plan.contains("BroadcastHashJoin"),
        s"$q: an unbounded side regressed to a broadcast join")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: the band join must stay an equi-join")
    }
  }

  test("s10 pushes the metadata predicate into the documents scan and " +
      "semi-joins eligibility with a shuffle") {
    // filtered vector search must decide eligibility at the DOCUMENTS
    // parquet scan (two pushed predicates + a two-column ReadSchema — at
    // 100 TB this is stats-pruned row groups vs reading the corpus), and
    // the eligible-id attach onto the vector table must shuffle: eligible
    // sets are corpus-sized at scale, so an AQE broadcast of the locally
    // tiny set would hide the shape that matters.
    val p = planOf("s10_filtered_knn")
    assert(p.contains("EqualTo(lang,en)"),
      "lang predicate no longer reaches the documents parquet scan")
    assert(p.contains("GreaterThanOrEqual(n_chars,200)"),
      "n_chars predicate no longer reaches the documents parquet scan")
    assert(!p.contains("text"), "s10 must not read the text column")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      "eligibility must attach as a shuffled left-semi join")
  }

  test("s5's PQ encoder codes row-locally — no window, no corpus-keyed " +
      "argmin exchange") {
    // per-(vector, subspace) nearest-of-16 coding folds over the one-row
    // codebook array's subspace slice (rowArgminPk, r20) — the row_number
    // form sort-shuffled corpus × 8 subspace rows (VERDICT r8 #2) and the
    // packedArgmin agg form still exchanged corpus × 8 (vec, j) rows
    val p = planOf("s5_ann_pq")
    assert(!p.contains("Exchange hashpartitioning(vec_id") &&
      !p.contains("Exchange hashpartitioning(cid"),
      "s5's encoder must not shuffle vector-keyed rows — codes are row-local")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "s5 lost the one-row codebook-array attach")
    assert(p.contains("sea_fargmin_pk"),
      "s5 lost the codegen'd row-local packed argmin")
  }

  test("s9's composite is map-only from the scan to the ADC aggregation") {
    // the IVF list id and the PQ codes both leave the corpus scan's own
    // map stage (r20): the lists/codes argmin exchanges and the
    // corpus-sized codes⋈lists shuffle join are gone — the first
    // corpus-sized exchange in the plan is the (qid, cid) ADC agg
    val p = planOf("s9_ann_ivfpq")
    assert(!p.contains("Exchange hashpartitioning(vec_id") &&
      !p.contains("Exchange hashpartitioning(cid"),
      "s9 must not shuffle vector-keyed rows before the ADC agg")
    assert(!p.contains("ShuffledHashJoin"),
      "s9's codes⋈lists shuffle join must stay fused away")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "s9 lost the one-row centroid/codebook-array attach")
  }

  test("s3 centroid assignment is an argmin aggregation, not a window sort") {
    // corpus-wide nearest-centroid assignment must be min_by (map-side
    // partial HashAggregate) — a row_number window would sort-shuffle
    // k× the corpus (VERDICT r7 #2). What must not exist is any
    // Window/Sort ordered by the assignment distance d2r.
    val p = planOf("s3_ann_ivf")
    assertRowLocalAssignment("s3", p)
    assert(!nodeBlocks(p).exists { case (n, b) =>
      (n.contains("Window") || n.contains("Sort")) && b.contains("d2r")
    }, "assignment regressed to a window/sort over the corpus crossJoin " +
      "(min_by's struct ordering falls back to SortAggregate — keep the " +
      "row-local packed min)")
  }

  test("c2's Lloyd rounds re-enter an identical plan round over round") {
    // iteration must not nest lineage: each round's k-row centroid table is
    // localCheckpoint'ed, so round N's plan equals round 1's exactly —
    // the invariant that makes "more rounds" a constant-shape loop instead
    // of a deepening plan at 10^9 vectors
    import org.apache.spark.sql.functions.col
    val e = analytics.Tables(spark, TestSession.sfDir).embeddings
      .select(col("vec_id"), col("embedding"))
    val seed = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb"))
      .localCheckpoint()
    val r1 = analytics.Similarity.kmeansRound(e, seed)
    val c1 = r1.select(col("centroid_id"), col("cemb")).localCheckpoint()
    val r2 = analytics.Similarity.kmeansRound(e, c1)
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect { case n => n.nodeName }
    assert(shape(r1) == shape(r2),
      s"round 2 plans differently from round 1:\n${shape(r1)}\n${shape(r2)}")
    val p = planOf("c2_kmeans_lloyd")
    assertRowLocalAssignment("c2", p)
  }

  test("s7 index build keeps exactly one argmin row per vector") {
    // s7Layout shares s3's min_by assignment shape (guarded above); the
    // integration invariant is that the aggregation kept exactly one
    // (nearest-centroid) row per corpus vector in the persisted index
    val dir = TestSession.sfDir
    val e = analytics.Tables(spark, dir).embeddings
    analytics.Similarity.s7Layout(spark, dir)
    val idx = spark.read.parquet(
      analytics.Similarity.s7IndexPath(spark, dir))
    assert(idx.count() == e.count(), "index must hold one row per vector")
    assert(idx.select("cid").distinct().count() == e.count())
  }

  test("s12 upsert appends each batch vector exactly once into the index") {
    // base overwrite + batch append must together hold exactly one row per
    // corpus vector — a re-run of the append (or an append that re-wrote
    // base rows) would duplicate; a dropped batch partition would lose rows
    import org.apache.spark.sql.functions._
    val dir = TestSession.sfDir
    val e = analytics.Tables(spark, dir).embeddings
    analytics.Similarity.s12UpsertQuery(spark, dir) // runs both writes
    val idx = spark.read.parquet(
      analytics.Similarity.s12IndexPath(spark, dir))
    assert(idx.count() == e.count(),
      "upserted index must hold one row per corpus vector")
    assert(idx.select("cid").distinct().count() == e.count())
    val nBatch = idx.filter(pmod(col("cid"), lit(10L)) === 7L).count()
    assert(nBatch == e.filter(pmod(col("vec_id"), lit(10L)) === 7L).count(),
      "every batch vector must land in the index exactly once")
  }

  test("p23's class-count and vocabulary joins shuffle; scoring is one " +
      "pass, no window") {
    // the p2/p10 law applied to the classifier: token-count tables are
    // vocabulary-sized (unbounded at 100 TB) — every join over them must
    // shuffle, never broadcast; the 3-number stats frame is the one
    // legitimate broadcast (crossJoin literal); and the per-doc score is
    // a keyed hash agg, never a window
    val p = analytics.Pipeline.queries("p23_quality_classifier")(
      spark, TestSession.sfDir).queryExecution.explainString(FormattedMode)
    val broadcasts = nodeBlocks(p).filter(_._1 == "BroadcastExchange")
    assert(broadcasts.size <= 1,
      s"vocabulary-sized side broadcast: ${broadcasts.map(_._2).mkString}")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, "p23 must not window")
    assert(nodeBlocks(p).exists { case (n, b) =>
      n.contains("Join") && b.contains("w#") }
      || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"vocabulary join missing from plan:\n$p")
  }

  test("d17 forget removes the forgotten docs from every layout, keeps " +
      "the survivors bit-exact, and the recurring query stays exchange-free") {
    // the takedown law: after d14Forget, (a) no forgotten ref_id survives
    // in either index table, (b) every OTHER indexed doc's rows
    // are untouched, (c) the rewrite preserved the bucket spec — one file
    // per bucket (it doubles as a compaction) and the band join plans
    // with no exchange (the d17 oracle pins forget ≡ rebuild-without;
    // this law pins the mechanism)
    import org.apache.spark.sql.functions.col
    val dir = TestSession.sfDir
    analytics.Dedup.d14Build(spark, dir)
    val gone = analytics.Tables(spark, dir).documents
      .filter(col("source").isin(analytics.Dedup.ForgottenSources: _*))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(gone.nonEmpty, "fixture must index at least one forgotten doc")
    val sigT = analytics.Dedup.d14Table("d14_ref_signatures", dir)
    val beforeIds = spark.table(sigT).select("ref_id")
      .collect().map(_.getLong(0)).toSet
    assert(gone.subsetOf(beforeIds), "forgotten docs must start indexed")
    analytics.Dedup.d14Forget(spark, dir,
      analytics.Dedup.ForgottenSources)
    for (t <- Seq("d14_ref_bands", "d14_ref_signatures")) {
      val table = analytics.Dedup.d14Table(t, dir)
      assert(spark.table(table)
        .filter(col("ref_id").isin(gone.toSeq: _*)).count() == 0,
        s"$t still holds forgotten docs")
      assert(graft.ops.Bucketing.tableDataFileCount(spark, table) == 8,
        s"$t lost its one-file-per-bucket layout in the rewrite")
    }
    val afterIds = spark.table(sigT).select("ref_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterIds == beforeIds -- gone,
      "forget must remove exactly the forgotten docs, nothing else")
    val p = analytics.Dedup.d14Query(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!nodeBlocks(p).exists { case (n, b) =>
      n == "Exchange" && b.contains("hashpartitioning(bk")
    }, "the post-forget band join re-partitioned a bucketed input")
  }

  test("ss scan splits on beacons and reports pruning in its description") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("planss").toString
    (0 until 100).map(i => ("k", 0L, i.toLong,
      new java.sql.Timestamp(1000L * i), Array[Byte](1)))
      .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
      .write.format("ss").option("beaconInterval", "512").mode("append").save(dir)
    val df = spark.read.format("ss").load(dir)
      .filter(col("sequence") >= 50L)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BeaconPruning") || p.contains("SsScan"))
    assert(df.count() == 50)
  }
}
