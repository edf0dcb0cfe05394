package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64):
  * brute-force cosine top-k as the baseline, and an LSH-bucketed (random
  * hyperplane) ANN variant as the scale path.
  *
  * Numeric determinism: dot products and norms are summed as DECIMAL(30,15)
  * terms (order-independent exact addition), surfaced as DOUBLE, so the
  * DuckDB oracle matches bit-for-bit; ranking keys are (rounded score desc,
  * id) — fully deterministic.
  *
  * Scale notes (100 TB): brute force is O(queries × corpus) — fine for a
  * bounded query set because it is a broadcast of queries against a
  * partitioned corpus scan (no shuffle of the corpus). The LSH path buckets
  * the corpus once (map + agg), then joins query buckets to corpus buckets —
  * candidates ≈ corpus/2^bits per query, so the exact re-rank touches a
  * constant fraction; more planes or multi-probe tighten it without changing
  * the plan shape.
  */
/** One greedy-MMR selection — [[Similarity.mmrGreedy]]'s output row. */
private[analytics] case class MmrPick(cid: Long, cosine: Double,
    score: Double, rank: Long)

object Similarity {

  private val QueryCount = 10

  /** s13: candidate pool size and greedy MMR selections per query. */
  private val MmrPool = 10
  private val MmrSelect = 3
  private val TopK = 5

  /** s8 hybrid retrieval: query-doc count and per-side rank-list depth. */
  private val HybridQueries = 5
  private val HybridSideN = 20

  /** 4 hyperplanes + multi-probe (hamming-1) — calibrated on sf0.01: 57%
    * candidate recall of brute-force top-3 while scanning ~3% of the corpus
    * (random embeddings are the worst case for LSH; real clustered data does
    * far better at more planes).
    */
  private val NumPlanes = 4

  /** Full-corpus near-dup cutoff (d5); the prefilter bound derives from it. */
  private val DupThreshold = 0.35
  private val DupPrefilterMargin = 1e-6

  /** Spark-side exact decimal dot product of two float arrays (as DOUBLE) —
    * the codegen'd [[graft.functions.FloatVecDecimal]], bit-identical to the
    * interpreted `aggregate(zip_with(...))` decimal form it replaced
    * (FloatVecDecimalSpec pins the equality).
    */
  private def dotCol(a: String, b: String): Column =
    graft.functions.FloatVecDecimal.fdotExact(col(a), col(b))

  /** Plain-double dot product — prefilter only (order-dependent low bits).
    * Native codegen'd expression: the prefilter touches every candidate
    * pair, and the interpreted `aggregate(zip_with(...))` lambdas were the
    * dominant cost of d5 (graft.functions.FloatVecDot).
    */
  private def approxDotCol(a: String, b: String): Column =
    graft.functions.FloatVecDot.fdot(col(a), col(b))

  /** Exact decimal squared-L2 distance between two float arrays (DOUBLE) —
    * same codegen'd expression, squared-diff mode.
    */
  private def dist2Col(a: String, b: String): Column =
    graft.functions.FloatVecDecimal.fdist2Exact(col(a), col(b))

  /** Per-vector L2 norm via the same decimal-sum trick (dot of the vector
    * with itself — FloatVecDecimalSpec pins equality with the transform
    * form).
    */
  private def withNorm(df: DataFrame, emb: String, out: String): DataFrame =
    df.withColumn(out,
      sqrt(graft.functions.FloatVecDecimal.fdotExact(col(emb), col(emb))))

  /** Per-group top-k over a candidate stream as a BOUNDED aggregation —
    * [[graft.functions.TopKAggregator]] (O(k) state, ObjectHashAggregate
    * with map-side partials) instead of `row_number().over(Window)`, which
    * sort-shuffles EVERY candidate into one task per group: at 10^9 corpus
    * vectors that funnels the whole corpus through ≤ |queries| tasks. The
    * ordering is ascending (key, id) — pass a negated score for
    * descending; ties break on the smaller id, matching
    * `ORDER BY score DESC, id` exactly. Output: (g, key, id, rank).
    * PlanShapeSpec pins the no-Window law for every ANN query using this.
    *
    * Precondition: keys must be non-NaN. A NaN cosine (possible only from
    * a zero-norm embedding) sorted FIRST under the old `DESC` window and
    * under the oracle's SQL, but Ordering[Double] puts NaN last ascending —
    * the aggregator would silently drop it. The embeddings data contract
    * excludes zero vectors (verified across every driver corpus; s4's
    * quantizer additionally filters `mabs > 0` explicitly), so no caller
    * can produce a NaN key today; a caller scoring NULLABLE-norm input
    * must prefilter like s4 does.
    */
  private def topKAsc(df: DataFrame, grp: Column, key: Column, id: Column,
      k: Int): DataFrame =
    df.groupBy(grp.as("g"))
      .agg(graft.functions.TopKAggregator.topKDouble(k, key, id).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "x")))
      .select(col("g"), col("x._1").as("key"), col("x._2").as("id"),
        (col("i") + 1).cast("long").as("rank"))

  /** Recover a descending-ranked score from its negated aggregator key,
    * normalizing IEEE -0.0 to +0.0 (the oracle SQL adds `+ 0` to match). */
  private def unNeg(key: Column): Column = lit(0d) - key + lit(0d)

  /** Packed-long ARGMIN aggregation — THE corpus-wide assignment idiom
    * (nearest centroid, nearest code): a `row_number` window would
    * sort-shuffle k× the corpus (VERDICT r7 #2) and `min_by`'s struct
    * ordering buffer falls back to SortAggregate, so the (distance, id)
    * key packs into ONE long and a plain MIN plans as whole-stage-codegen
    * HashAggregate with map-side partial aggregation (PlanShapeSpec
    * guards). Packing bounds: `d2r` must carry 6 dp (`round(_, 6)`) so
    * d2r·1e6 is integral — ROUND, not truncate, because the 6-dp grid is
    * not binary-exact — and < 2^42 for any sane embedding scale; `id`
    * must stay below 2^20 (centroid/code ids — tens of thousands at
    * corpus scale, 16 here). Ties break toward the SMALLER id (low bits
    * of the packed long), matching every oracle's
    * `ORDER BY d2r, id` rank. Groups by `grp` (aliased columns welcome);
    * output = grp columns ++ (`out` = the argmin id).
    */
  private def packedArgmin(df: DataFrame, grp: Seq[Column], d2r: Column,
      id: Column, out: String): DataFrame =
    packedArgminKeyed(df, grp, d2r, id, out, null)

  /** Packing constants — ONE place (shared with the codegen'd row-local
    * form, [[graft.functions.FloatVecArgmin]]): 6-dp key grid in the high
    * bits, 20-bit id field in the low bits (see [[packedArgmin]]'s bounds
    * doc).
    */
  private val ArgminIdBits = graft.functions.FloatVecArgmin.IdBits
  private val ArgminKeyScale = graft.functions.FloatVecArgmin.KeyScale

  /** [[packedArgmin]] that ALSO decodes the winning key: pk div 2^20 is
    * round(d2r·10⁶) — an exact integer — and n/10⁶ re-rounds to the
    * identical 6-dp double the input carried, so the winning distance is
    * free (no second pass, no struct buffer). `keyOut = null` skips the
    * decode (the plain argmin path).
    */
  private def packedArgminKeyed(df: DataFrame, grp: Seq[Column], d2r: Column,
      id: Column, out: String, keyOut: String): DataFrame = {
    val packed = df.groupBy(grp: _*)
      .agg(min(round(d2r * lit(ArgminKeyScale)).cast("long") *
        lit(1L << ArgminIdBits) + id).as("pk"))
      .withColumn(out, col("pk").bitwiseAND(lit((1L << ArgminIdBits) - 1)))
    (if (keyOut == null) packed
     else packed.withColumn(keyOut,
       shiftright(col("pk"), ArgminIdBits).cast("double") /
         lit(ArgminKeyScale)))
      .drop("pk")
  }

  /** ROW-LOCAL packed argmin — [[packedArgmin]]'s pack (6-dp key grid,
    * 20-bit id field, min ⇒ smaller-id tie-break) computed per row over a
    * k-bounded centroid-array column instead of a corpus-keyed
    * aggregation: when every group of the argmin is a single input row
    * (nearest centroid of THIS vector), grouping is pure overhead — the
    * crossJoin duplicated each vector k×, the hash-agg re-collapsed it,
    * and the exchange moved a corpus of (vec, pk) rows that the row-local
    * form never materializes at all (guide §2.4 "remove shuffles
    * outright"). The math is [[graft.functions.FloatVecArgmin]] — one
    * codegen'd tight loop running FloatVecDecimal's exact-decimal
    * distance and Spark's exact `round`, bit-identical to the interpreted
    * `aggregate(cs, MaxValue, least(...))` fold (FloatVecArgminSpec pins
    * it; the interpreted HOF form measured SLOWER than the exchange it
    * removed — c4 1.73→3.86 s — which is the FloatVecDecimal lesson
    * repeated, so the fold is codegen'd like every other hot-path
    * expression here). t19's stateless streaming assignment pinned the
    * row-local form against c1's oracle long before this round.
    * `cs` = ARRAY<STRUCT<id BIGINT, vec ARRAY<FLOAT>>> by ordinal.
    */
  private def rowArgminPk(emb: Column, cs: Column): Column =
    graft.functions.FloatVecArgmin.pkOf(emb, cs)

  /** Decode the winning id / 6-dp key from a [[rowArgminPk]] packed long
    * (same decode as [[packedArgminKeyed]]); the id is NULL when no
    * centroid qualified (empty or all-null centroid array). */
  private[graft] def rowArgminId(pk: Column): Column =
    graft.functions.FloatVecArgmin.idOf(pk)
  private def rowArgminKey(pk: Column): Column =
    shiftright(pk, ArgminIdBits).cast("double") / lit(ArgminKeyScale)

  /** The k-bounded centroid frame folded to ONE broadcastable row holding
    * all centroids as an array — what [[rowArgminPk]] consumes. The
    * crossJoin against it is a 1-row broadcast nested loop: each corpus
    * row gains the array column and nothing is duplicated or shuffled.
    */
  private def centroidArray(cents: DataFrame): DataFrame =
    broadcast(cents.agg(collect_list(
      struct(col("centroid_id"), col("cemb"))).as("cs")))

  /** The M=8-subspace PQ codebook folded to ONE broadcastable row:
    * element j+1 of `cbs` is subspace j's 16-entry
    * ARRAY<STRUCT<id BIGINT, vec ARRAY<FLOAT>>> (rowArgminPk's ordinal
    * contract), so a (vector, subspace) row picks its slice by
    * `element_at` — no per-row filtering, no join, no shuffle.
    */
  private def codebookArray(cents: DataFrame): DataFrame =
    broadcast(cents
      .agg(collect_list(struct(col("j"), col("code"), col("csv"))).as("all"))
      .select(expr("transform(sequence(0, 7), jj -> " +
        "transform(filter(all, p -> p.j = jj), " +
        "p -> struct(p.code AS id, p.csv AS vec)))").as("cbs")))

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * md5-derived so DuckDB generates the identical planes.
    */
  private def planeComponent(p: Column, d: Column): Column =
    ((conv(substring(md5(concat(lit("plane_"), p, lit("_"), d).cast("binary")),
      1, 15), 16, 10).cast("long") % 2001) - 1000) / 1000.0

  /** Brute-force cosine top-k of the standard query set (vec_id <
    * QueryCount) against `corpus` — a (cid, ce) frame, possibly
    * pre-filtered (s10). The shared scan behind s1, s6's ground truth,
    * and s10: broadcast-query corpus pass + the bounded top-k
    * aggregation (topKAsc) — O(corpus) work by design, but never a
    * corpus-wide window sort. Output: (qid, cid, cosine, rank).
    */
  /** s13's greedy MMR selection over a retrieved pool (qid, cid, cosine) —
    * shared by the bruteTopK form (s13_mmr_rerank, the ground-truth pool)
    * and the IVF-probe form (s13_mmr_indexed, the serving composition).
    * Everything here is RESULT-bounded: Q×pool rows broadcast onto ONE
    * corpus pass to attach embeddings, Q×pool×(pool−1) pairwise sims,
    * then the greedy rounds fold into ONE pass — per qid the pool items
    * and pairwise sims (≤ pool + pool² rows) collect into arrays and
    * [[mmrGreedy]] runs the selection locally (VERDICT r12 #3: the
    * unrolled round-per-round join form re-planned ~10 operators per
    * serving trigger; t21's per-micro-batch cost was almost entirely that
    * Catalyst constant). The fold is safe to run driver-free per row
    * because the pool is bounded by construction (probes×K), never
    * corpus-sized. Selection math is the same single-op double arithmetic
    * on 6-dp cosines as the join form — bit-identical in DuckDB (the
    * oracle's unrolled p1/m2/p2/m3/p3 rounds); ties break by cid.
    */
  /** @param sever materialize the Q×MmrSelect result eagerly and free the
    *   persisted pool before returning — the per-trigger serve loop (t21)
    *   must pass true or each micro-batch leaks one cached pool for the
    *   session's life (ADVICE r12's d14QueryFrame lesson); the batch
    *   entries keep the lazy plan so the DPP/no-Window plan laws stay
    *   assertable on the returned frame.
    * @param inspect sees the LAZY result frame before any severing — the
    *   hook the t21 plan law uses to assert DPP survived on a per-batch
    *   serve plan.
    */
  private def mmrRerank(e: DataFrame, poolRaw: DataFrame,
      sever: Boolean = false,
      inspect: DataFrame => Unit = _ => ()): DataFrame = {
    val pool = poolRaw
      .select(col("qid"), col("cid"), col("cosine"))
      .persist() // result-bounded; read by the pair join and the item agg
    val ce = withNorm(e.select(col("vec_id"), col("embedding")),
      "embedding", "nrm")
    val withEmb = ce
      .join(broadcast(pool.select(col("qid"), col("cid"))),
        col("vec_id") === col("cid"))
      .select(col("qid"), col("cid"), col("embedding"), col("nrm"))
    val pairSim = withEmb.select(col("qid"), col("cid").as("ca"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(withEmb.select(col("qid"), col("cid").as("cb"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("qid"))
      .filter(col("ca") =!= col("cb"))
      .withColumn("sim",
        round(dotCol("ea", "eb") / (col("na") * col("nb")), 6))
      .select(col("qid"), col("ca"), col("cb"), col("sim"))
    val items = pool.groupBy("qid")
      .agg(collect_list(struct(col("cid"), col("cosine"))).as("items"))
    val sims = pairSim.groupBy("qid")
      .agg(collect_list(struct(col("ca"), col("cb"), col("sim"))).as("sims"))
    // left join: a singleton pool has NO pairwise sims (the unrolled form's
    // inner joins emitted nothing past round 1 for it — mmrGreedy mirrors)
    val out = items.join(sims, Seq("qid"), "left")
      .select(col("qid"),
        explode(mmrGreedyUdf(col("items"), col("sims"))).as("sel"))
      .select(col("qid"), col("sel.cid").as("cid"),
        col("sel.cosine").as("cosine"),
        round(col("sel.score"), 6).as("mmr_score"),
        col("sel.rank").as("mmr_rank"))
    inspect(out)
    if (!sever) out
    else {
      val severed = out.localCheckpoint(true) // Q×MmrSelect rows
      pool.unpersist()
      severed
    }
  }

  /** One query's greedy MMR fold — the exact semantics of the former
    * unrolled join rounds: round 1 picks argmax cosine (min over the
    * (0−score+0, cid) key — the same −0.0-normalizing comparator as the
    * old min-struct agg); rounds 2..MmrSelect score each remaining pool
    * member as cosine − 0.5·max(sim to selected), with INNER-join
    * semantics (a member with no sim row to any selected member — only
    * possible in a degenerate pool — does not participate). Double
    * arithmetic is the same IEEE ops Catalyst evaluated; comparison order
    * is total because cid is unique within a pool.
    */
  private[analytics] def mmrGreedy(items: Seq[(Long, Double)],
      sims: Seq[(Long, Long, Double)]): Seq[(Long, Double, Double, Long)] = {
    def key(score: Double): Double = 0.0d - score + 0.0d
    def better(a: (Double, Long), b: (Double, Long)): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      c < 0 || (c == 0 && a._2 < b._2)
    }
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Long)]
    val selected = scala.collection.mutable.Set.empty[Long]
    var rank = 1L
    // round 1: score = cosine
    var bestOpt = Option.empty[(Long, Double, Double)] // cid, cosine, score
    for ((cid, cos) <- items)
      if (bestOpt.forall(b => better((key(cos), cid), (key(b._3), b._1))))
        bestOpt = Some((cid, cos, cos))
    for (b <- bestOpt) { picked += ((b._1, b._2, b._3, rank)); selected += b._1 }
    var dry = bestOpt.isEmpty
    while (!dry && rank < MmrSelect) {
      rank += 1
      var best = Option.empty[(Long, Double, Double)]
      for ((cid, cos) <- items if !selected.contains(cid)) {
        // max sim to the selected set; None = no sim row (inner-join drop)
        var maxsim = Double.NaN
        var seen = false
        for ((ca, cb, sim) <- sims if ca == cid && selected.contains(cb)) {
          if (!seen || sim > maxsim) { maxsim = sim; seen = true }
        }
        if (seen) {
          val score = cos - 0.5d * maxsim
          if (best.forall(b => better((key(score), cid), (key(b._3), b._1))))
            best = Some((cid, cos, score))
        }
      }
      best match {
        case Some(b) => picked += ((b._1, b._2, b._3, rank)); selected += b._1
        case None => dry = true
      }
    }
    picked.toSeq
  }

  /** [[mmrGreedy]] as a column function over the collected pool arrays
    * (null sims ≡ empty — the left join above).
    */
  private val mmrGreedyUdf = udf(
    (items: Seq[org.apache.spark.sql.Row], sims: Seq[org.apache.spark.sql.Row]) =>
      mmrGreedy(
        Option(items).getOrElse(Seq.empty)
          .map(r => (r.getLong(0), r.getDouble(1))),
        Option(sims).getOrElse(Seq.empty)
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
        .map { case (cid, cos, score, rank) =>
          MmrPick(cid, cos, score, rank) })

  private def bruteTopK(e: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val corpusN = withNorm(corpus, "ce", "cn")
    val queriesDf = withNorm(
      e.filter(col("vec_id") < QueryCount)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")), "qe", "qn")
    val scored = corpusN.crossJoin(broadcast(queriesDf))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine",
        round(dotCol("qe", "ce") / (col("qn") * col("cn")), 6))
    topKAsc(scored, col("qid"), unNeg(col("cosine")), col("cid"), k)
      .select(col("g").as("qid"), col("id").as("cid"),
        unNeg(col("key")).as("cosine"), col("rank"))
  }

  val queries: Map[String, Relational.Q] = Map[String, Relational.Q](
    // Brute-force cosine top-k: queries (vec_id < 10) × full corpus.
    "s1_knn_brute" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      bruteTopK(e,
        e.select(col("vec_id").as("cid"), col("embedding").as("ce")), TopK)
    },

    // MMR diversity re-ranking (Carbonell & Goldstein 1998, λ=0.5) — the
    // RAG retrieval stage between ANN and the context window: from each
    // query's top-10 cosine pool, greedily pick 3 results maximizing
    // relevance − λ·max-similarity-to-already-selected. Near-duplicate
    // passages waste context slots, so a redundant second-best loses to a
    // less redundant third. 100 TB shape: the expensive part stays the
    // pool retrieval (s1/s2/s7's own shapes); everything after it is
    // RESULT-bounded — Q×10 pool rows broadcast onto ONE corpus pass to
    // attach embeddings, Q×10×9 pairwise sims, greedy rounds as Q-row
    // argmax aggs (min-struct, never a window over anything corpus-
    // sized). Selection math is single-op double arithmetic on 6-dp
    // cosines — bit-identical in DuckDB; ties break by cid.
    "s13_mmr_rerank" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      mmrRerank(e, bruteTopK(e,
        e.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        MmrPool))
    },

    // The production RAG serving composition (VERDICT r10 #3): the MMR
    // pool comes from the PERSISTED IVF index's DPP probe instead of a
    // full-corpus bruteTopK pass — retrieve (s7's probe, top-MmrPool over
    // the probed centroid partitions only) → re-rank (s13's machinery,
    // result-bounded). At 100 TB the pool stage reads probes/K of the
    // corpus; everything downstream is Q×10-sized. The oracle replays the
    // whole composition: IVF probe pool in SQL, then the same three
    // greedy rounds.
    "s13_mmr_indexed" -> { (s, dir) =>
      s7Layout(s, dir)
      s13IndexedServe(s, dir)
    },

    // ANN: random-hyperplane sign bits → bucket; multi-probe the query's
    // bucket plus all hamming-1 neighbors; exact re-rank candidates only.
    "s2_ann_lsh" -> { (s, dir) => annLsh(s, dir) },

    // IVF-style ANN (knobbed form below).
    "s3_ann_ivf" -> { (s, dir) => annIvf(s, dir) },

    // Embedding near-dup over the full corpus (knobbed form below).
    "d5_embed_cosine_dup" -> { (s, dir) => embedNearDup(s, dir) },

    // SemDeDup (knobbed form below).
    "d7_semdedup" -> { (s, dir) => semDeDup(s, dir) },

    // Embedding-space dedup clustering: connected components over the d5
    // near-dup pair graph (large-star/small-star contraction via
    // Dedup.connectedComponents — O(log diameter) rounds). The text-side
    // twin is d6; together they close the dedup loop: pairs → clusters →
    // keepers in BOTH modalities.
    "d8_embed_clusters" -> { (s, dir) =>
      val pairs = embedNearDup(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val (labels, _) = Dedup.connectedComponents(pairs)
      labels.select(col("doc").as("vec_id"), col("lbl").as("cluster_id"),
        (col("doc") === col("lbl")).as("keeper"))
    }) ++ moreQueries

  /** LSH ANN with the plane count surfaced. `numPlanes` is THE
    * recall/scan-fraction knob: candidates per query ≈ corpus / 2^planes
    * (× (planes+1) hamming-1 probes), so grow it with log2(corpus) to hold
    * the scanned fraction constant — e.g. ~16 planes at 10^9 vectors for
    * ~15k-candidate probes. The plan shape never changes, only the bucket
    * key's cardinality. The oracle pins the default (the driver gate
    * recomputes the same planes in SQL).
    */
  def annLsh(s: SparkSession, dir: String,
      numPlanes: Int = NumPlanes): DataFrame = {
      val spark = s
      import spark.implicits._
      val e = Tables(s, dir).embeddings
      // (vec_id, d, v): one row per dimension (1-based to match DuckDB lists)
      val ex = e.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d0", "v")))
        .select(col("vec_id"), (col("d0") + 1).as("d"),
          col("v").cast("double").as("v"))
      val planes = (0 until numPlanes).toDF("p")
        .crossJoin((1 to 64).toDF("d"))
        .withColumn("w", planeComponent(col("p"), col("d")))
      // sign bit per (vec, plane): decimal-sum the per-dim products
      val bits = ex.join(broadcast(planes), "d")
        .groupBy("vec_id", "p")
        .agg(sum((col("v") * col("w")).cast("decimal(30,15)")).as("dotp"))
        .withColumn("bit", when(col("dotp") > 0, 1L).otherwise(0L))
      val buckets = bits.groupBy("vec_id")
        .agg(expr("sum(shiftleft(bit, cast(p as int)))").as("bucket"))
      val corpus = withNorm(
        e.select(col("vec_id").as("cid"), col("embedding").as("ce")), "ce", "cn")
        .join(buckets.select(col("vec_id").as("cid"), col("bucket")), "cid")
      val qs = withNorm(
        e.filter(col("vec_id") < QueryCount)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), "qe", "qn")
        .join(buckets.select(col("vec_id").as("qid"),
          col("bucket").as("qbucket")), "qid")
      // multi-probe: each query probes its own bucket and every bucket at
      // hamming distance 1 (a pair matches exactly one mask, so no dedup)
      val masks = (0L +: (0 until numPlanes).map(1L << _).toSeq).toDF("m")
      val qprobe = qs.crossJoin(broadcast(masks))
        .withColumn("bucket", col("qbucket").bitwiseXOR(col("m")))
        .drop("m", "qbucket")
      val scored = corpus.join(broadcast(qprobe), "bucket")
        .filter(col("qid") =!= col("cid"))
        .withColumn("cosine",
          round(dotCol("qe", "ce") / (col("qn") * col("cn")), 6))
      // bounded top-k aggregation over the candidate stream (topKAsc). The
      // output carries the matched bucket, so it rides the aggregator id:
      // bucket < 2^numPlanes packs into the low bits, and a pair matches
      // exactly one mask so (cid, bucket) is unique per (qid, cid) — packed
      // id order == cid order, preserving the `cosine DESC, cid` tie-break.
      val packed = scored.withColumn("pid",
        col("cid") * lit(1L << numPlanes) + col("bucket"))
      topKAsc(packed, col("qid"), unNeg(col("cosine")), col("pid"), 3)
        .select(col("g").as("qid"),
          shiftright(col("id"), numPlanes).as("cid"),
          col("id").bitwiseAND(lit((1L << numPlanes) - 1)).as("bucket"),
          unNeg(col("key")).as("cosine"), col("rank"))
  }

  /** IVF-style ANN: `k` deterministic coarse centroids (the first k
    * vectors — one-iteration IVF; production would Lloyd-iterate via
    * [[kmeansRound]]), every vector assigned to its nearest centroid,
    * queries probe the `probeLists` nearest lists, exact cosine re-rank
    * inside the probed lists only. Size `k` so the average list
    * (corpus / k) fits one task comfortably — at 10^9 vectors that means
    * k in the tens of thousands (centroids stay broadcastable: k × dim
    * floats is ~10 MB at 40k × 64), and raise `probeLists` for recall at
    * a linear scan-cost multiplier.
    */
  def annIvf(s: SparkSession, dir: String, k: Int = 16,
      probeLists: Int = 2): DataFrame = {
      val e = Tables(s, dir).embeddings
      val K = k
      // exact decimal L2² against every centroid; argmin with id tie-break
      val cents = broadcast(e.filter(col("vec_id") < K)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
      // probe lists are top-`probeLists` smallest — the probe selection
      // needs ALL k distances per query (not just the argmin), so the
      // per-centroid crossJoin stays here, QUERY-bounded (QueryCount × K
      // rows at any corpus size): sort the k-element struct array, slice.
      val probes = e.filter(col("vec_id") < QueryCount)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(cents)
        .withColumn("d2r", round(dist2Col("embedding", "cemb"), 6))
        .groupBy(col("vec_id").as("qid"))
        .agg(slice(array_sort(collect_list(
          struct(col("d2r"), col("centroid_id")))), 1, probeLists).as("top"))
        .select(col("qid"), explode(col("top.centroid_id")).as("centroid_id"))
      // corpus-wide assignment is ROW-LOCAL (rowArgminPk — same pack/tie
      // rules as packedArgmin): the corpus-keyed argmin exchange and the
      // corpus-sized assignment re-attach join are gone; each vector
      // carries its list id out of the scan's own map stage
      val corpus = withNorm(
        e.select(col("vec_id").as("cid"), col("embedding").as("ce")), "ce", "cn")
        .crossJoin(centroidArray(cents))
        .withColumn("centroid_id",
          rowArgminId(rowArgminPk(col("ce"), col("cs"))))
        .drop("cs")
      val qs = withNorm(
        e.filter(col("vec_id") < QueryCount)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), "qe", "qn")
      val scored = corpus
        .join(broadcast(probes), "centroid_id")
        .join(broadcast(qs), "qid")
        .filter(col("qid") =!= col("cid"))
        .withColumn("cosine",
          round(dotCol("qe", "ce") / (col("qn") * col("cn")), 6))
      // bounded top-k aggregation over the probed lists (topKAsc) — the
      // candidate stream is a corpus fraction (probes/k), still far too
      // large for a per-query window sort at 10^9 vectors
      topKAsc(scored, col("qid"), unNeg(col("cosine")), col("cid"), 3)
        .select(col("g").as("qid"), col("id").as("cid"),
          unNeg(col("key")).as("cosine"), col("rank"))
  }

  /** On-disk location of the persisted IVF index — under the PID-namespaced
    * warehouse so concurrent Bench/Verify sessions can't clobber each other.
    */
  private def ivfIndexPath(s: SparkSession, dir: String): String =
    java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath +
      "/ivf_index_" + dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Test-visible index locations: specs assert against the SAME path rule
    * the operators write to, never a re-derived inline copy (drift in the
    * private helper would otherwise silently point assertions at a stale
    * or missing directory).
    */
  private[graft] def s7IndexPath(s: SparkSession, dir: String): String =
    ivfIndexPath(s, dir)
  private[graft] def s12IndexPath(s: SparkSession, dir: String): String =
    ivfIndexPath(s, dir) + "_s12"

  /** PERSISTED IVF index — the q22 layout/query split applied to vector
    * search. The build assigns every vector to its nearest centroid (same
    * exact-decimal rule as [[annIvf]]) and writes the corpus
    * `partitionBy(centroid_id)`: the directory layout IS the inverted
    * file, and the per-vector norm is precomputed into it. Amortization is
    * the point: s3 re-derives assignments on every run (fine for one
    * query set, wrong for a serving corpus); here the corpus-wide
    * assignment job runs once and each query set afterwards touches only
    * its probed partitions.
    */
  def s7Layout(s: SparkSession, dir: String, k: Int = 16): Unit = {
    val e = Tables(s, dir).embeddings
    val cents = broadcast(e.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
    ivfWrite(e, cents, ivfIndexPath(s, dir), "overwrite")
  }

  /** Assign `part`'s vectors to their nearest frozen centroid and write them
    * into the partitioned index at `path` (the shared build step behind
    * [[s7Layout]]'s full build and s12's incremental append). Row-local
    * packed-argmin assignment ([[rowArgminPk]] — same pack and tie rules as
    * the packedArgmin agg it replaced): each vector keeps its embedding and
    * gains its list id inside one map stage, so nothing corpus-sized ever
    * aggregates, shuffles or re-joins on the way to the writer. With
    * `mode = "append"` the job's cost is O(|part| × k): only the arriving
    * rows are assigned and written — the existing index bytes are never
    * read or rewritten.
    */
  /** The frame [[ivfWrite]] writes — split out so the plan-shape evidence
    * (plans/r20) can explain the WRITE JOB's plan, which a returned query
    * frame never shows.
    */
  private[graft] def ivfWriteFrame(part: DataFrame,
      cents: DataFrame): DataFrame = {
    // row-local packed argmin (rowArgminPk — same pack/tie rules as the
    // packedArgmin agg this replaces): the build is now MAP-ONLY — scan →
    // assign → partitioned write — where the old form paid a corpus-keyed
    // argmin exchange plus a corpus-sized re-attach shuffle join per build
    val assigned = part
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .crossJoin(centroidArray(cents))
      .withColumn("centroid_id",
        rowArgminId(rowArgminPk(col("ce"), col("cs"))))
      .drop("cs")
    withNorm(assigned, "ce", "cn")
  }

  private def ivfWrite(part: DataFrame, cents: DataFrame, path: String,
      mode: String): Unit =
    ivfWriteFrame(part, cents)
      .write.mode(mode).partitionBy("centroid_id")
      .parquet(path)

  /** Probe the persisted index with DYNAMIC PARTITION PRUNING: the probe
    * list (2 centroids per query) broadcasts, and its values become a
    * runtime partition filter on the index scan — the plan reads only the
    * probed centroid directories, never the whole corpus
    * (`PartitionFilters: [... dynamicpruning ...]`, guarded in
    * PlanShapeSpec). At corpus scale K grows with sqrt(n), so a query set
    * touches probes/K of the data; the scan cost follows the PROBES, not
    * the corpus.
    */
  def s7Query(s: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val e = Tables(s, dir).embeddings
    val cents = broadcast(e.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
    ivfProbe(s, e, cents, ivfIndexPath(s, dir))
  }

  /** Probe a persisted partitioned IVF index with the standard query set —
    * the shared serve step behind [[s7Query]] and s12. Probe selection
    * re-derives only the QUERY vectors' centroid ranks (QueryCount × K
    * rows, query-set-bounded at any corpus size) via a bounded top-k
    * aggregation (topKAsc — d2r ASC, centroid_id tie-break matches the
    * `ORDER BY d2r, centroid_id` rank); the probe list broadcasts and its
    * values become a runtime partition filter on the index scan (DPP).
    */
  private def ivfProbe(s: SparkSession, e: DataFrame, cents: DataFrame,
      path: String, k: Int = 3): DataFrame =
    ivfProbeFor(s,
      e.filter(col("vec_id") < QueryCount)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      cents, path, k)

  /** [[ivfProbe]] over an EXPLICIT query frame `(qid, qe)` — the shape a
    * serving request stream produces (t21 serves micro-batches of query
    * ids through this exact plan; the standard query set above is just
    * one such frame).
    */
  private def ivfProbeFor(s: SparkSession, queries: DataFrame,
      cents: DataFrame, path: String, k: Int = 3): DataFrame = {
    val idx = s.read.parquet(path)
    val probeCand = queries
      .crossJoin(cents)
      .withColumn("d2r", round(dist2Col("qe", "cemb"), 6))
    val probes = topKAsc(probeCand, col("qid"), col("d2r"),
        col("centroid_id"), 2)
      .select(col("g").as("qid"), col("id").as("centroid_id"))
    val qs = withNorm(queries, "qe", "qn")
    val scored = idx.join(broadcast(probes), "centroid_id")
      .join(broadcast(qs), "qid")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine",
        round(dotCol("qe", "ce") / (col("qn") * col("cn")), 6))
    // bounded top-k over the pruned index scan — see annIvf
    topKAsc(scored, col("qid"), unNeg(col("cosine")), col("cid"), k)
      .select(col("g").as("qid"), col("id").as("cid"),
        unNeg(col("key")).as("cosine"), col("rank"))
  }

  /** s13_mmr_indexed's SERVE path given an existing s7 layout: top-MmrPool
    * off the DPP-probed index, then the result-bounded MMR re-rank — the
    * recurring cost of the RAG retrieve-then-re-rank composition (the
    * layout build is s7's one-time job, priced separately in Bench).
    */
  private[graft] def s13IndexedServe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val cents = broadcast(e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
    mmrRerank(e, ivfProbe(s, e, cents, ivfIndexPath(s, dir), k = MmrPool))
  }

  /** The standard query-set size (t21's stream writes exactly these ids). */
  private[graft] def standardQueryCount: Int = QueryCount

  /** [[s13IndexedServe]] for an EXPLICIT query-id frame (`qid` LONG) —
    * the per-micro-batch serve t21 runs at ingest: query vectors join
    * from the static embeddings table (the feature-store lookup a serving
    * request makes), the pool comes off the DPP-probed persisted index,
    * and the MMR re-rank is per-qid independent — which is WHY serving a
    * partition of the queries equals the batch serve restricted to it
    * (the t21 streaming ≡ batch law's structural premise).
    */
  private[graft] def s13ServeQueryIds(s: SparkSession, dir: String,
      queryIds: DataFrame,
      inspect: DataFrame => Unit = _ => ()): DataFrame = {
    val e = Tables(s, dir).embeddings
    val cents = broadcast(e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
    val queries = e.join(queryIds.select(col("qid")).hint("broadcast"),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qe"))
    mmrRerank(e,
      ivfProbeFor(s, queries, cents, ivfIndexPath(s, dir), k = MmrPool),
      sever = true, inspect = inspect)
  }

  /** s12's arriving-batch membership: a stable ~10% slice of the corpus
    * standing in for "today's ingest". Modulo on the id (not a hash) so the
    * DuckDB oracle states it literally.
    */
  private def s12BatchPred = pmod(col("vec_id"), lit(10L)) === lit(7L)

  /** s12's FROZEN centroids: the 16 lowest base (non-batch) vec_ids —
    * vec_id ≤ 16 minus the one batch member (7). Incremental maintenance
    * means the arriving batch is assigned against the centroids the index
    * was BUILT with; retraining them would move every existing vector's
    * assignment and force a rebuild.
    */
  private def s12Cents(e: DataFrame): DataFrame =
    broadcast(e.filter(col("vec_id") <= 16 && !s12BatchPred)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))

  /** INCREMENTAL index maintenance — s7's missing half. s7 amortizes the
    * corpus-wide assignment into a one-time layout; this closes the loop
    * for a GROWING corpus: a new batch is assigned against the index's
    * frozen centroids and APPENDED into the partitioned layout — the
    * upsert job costs O(batch × k) and writes only batch-sized files into
    * the centroid directories; the existing index bytes are never read or
    * rewritten. At 100 TB this is the difference between a nightly
    * full-rebuild (re-shuffling the whole corpus) and a per-batch append
    * that scales with the INGEST rate. The law the oracle pins: probing
    * the upserted index ≡ an IVF built from scratch over the full corpus
    * with the same frozen centroids — the append is invisible to the serve
    * path (same DPP probe shape as s7, PlanShapeSpec-guarded).
    */
  def s12UpsertQuery(s: SparkSession, dir: String): DataFrame = {
    s12Base(s, dir)
    s12Upsert(s, dir)
    s12Probe(s, dir)
  }

  /** The standing index: everything that isn't today's batch (setup — at
    * serve time this already exists on disk).
    */
  def s12Base(s: SparkSession, dir: String): Unit = {
    val e = Tables(s, dir).embeddings
    ivfWrite(e.filter(!s12BatchPred), s12Cents(e),
      ivfIndexPath(s, dir) + "_s12", "overwrite")
  }

  /** The incremental upsert — the op's recurring cost: assign ONLY the
    * arriving batch against the frozen centroids and append.
    */
  def s12Upsert(s: SparkSession, dir: String): Unit = {
    val e = Tables(s, dir).embeddings
    ivfWrite(e.filter(s12BatchPred), s12Cents(e),
      ivfIndexPath(s, dir) + "_s12", "append")
  }

  /** DPP probe over the upserted index (the s7 serve shape). */
  def s12Probe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    ivfProbe(s, e, s12Cents(e), ivfIndexPath(s, dir) + "_s12")
  }

  /** s14's takedown slice: a stable ~10% of the corpus (a departed
    * tenant's vectors / a revoked-consent batch). ONE (mod, residue)
    * definition feeds the forget rewrite (on cid), the serve predicate
    * (on vec_id), and the oracle's memberPred string — the three slices
    * must agree or takedown silently leaks (ADVICE r12).
    */
  private val S14ForgetMod = 10L
  private val S14ForgetResidue = 3L
  private def s14SlicePred(c: Column): Column =
    pmod(c, lit(S14ForgetMod)) === lit(S14ForgetResidue)
  private[analytics] def s14SliceSql(col: String): String =
    s"$col % $S14ForgetMod <> $S14ForgetResidue"
  private def s14ForgetPred = s14SlicePred(col("vec_id"))

  private[graft] def s14IndexPath(s: SparkSession, dir: String): String =
    ivfIndexPath(s, dir) + "_s14"

  /** s14 takedown rewrite — the ANN side of d17's forget (the index
    * lifecycle's last op on this family: build s7, upsert s12, probe
    * s7/s13/t21, compact n/a — one file per partition by construction —
    * and now FORGET). Deleting vectors from the persisted IVF index is a
    * partition-layout-preserving rewrite WITHOUT the forgotten ids:
    * O(index bytes), the corpus-wide assignment job never re-runs
    * (centroids are frozen parameters, not index members — d17's rule).
    * The alternative is s7Layout's full rebuild, which pays the n×k
    * assignment again. localCheckpoint severs lineage before the
    * same-path overwrite (the d14Forget swap discipline).
    */
  private[graft] def s14Forget(s: SparkSession, path: String): Unit = {
    val kept = s.read.parquet(path)
      .filter(!s14SlicePred(col("cid")))
      .localCheckpoint(true)
    kept.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
  }

  /** build (setup) → forget → DPP serve; the serve result must equal a
    * from-scratch index built without the forgotten vectors (the s12
    * upsert ≡ rebuild discipline, takedown direction). Forgotten query
    * ids stop being served — a departed tenant neither appears in
    * results NOR queries the index.
    */
  def s14ForgetQuery(s: SparkSession, dir: String): DataFrame = {
    s14Setup(s, dir)
    s14Forget(s, s14IndexPath(s, dir))
    s14Serve(s, dir)
  }

  /** The standing full index at s14's path (setup — at takedown time this
    * already exists on disk; Bench prices it under s7_layout's class). */
  private[graft] def s14Setup(s: SparkSession, dir: String): Unit = {
    val e = Tables(s, dir).embeddings
    val cents = broadcast(e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
    ivfWrite(e, cents, s14IndexPath(s, dir), "overwrite")
  }

  /** The recurring DPP serve over the post-forget index; forgotten query
    * ids are no longer served. */
  private[graft] def s14Serve(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val cents = broadcast(e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
    ivfProbeFor(s,
      e.filter(col("vec_id") < QueryCount && !s14ForgetPred)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      cents, s14IndexPath(s, dir))
  }

  /** ANN index census — the observability op the index lifecycle needs
    * in production (build s7 → upsert s12 → probe s7/s13/t21 → compact /
    * forget d16-style → and now WATCH): per-centroid member count and
    * load factor (members × K / total; 1.0 = perfectly balanced). A
    * skewed centroid is a hot partition for every DPP probe that lands
    * on it — the serve latency tail — and sustained load factors ≫ 1 are
    * the re-seed signal (the data drifted away from the frozen
    * centroids; s11 watches the embedding distribution, s15 watches what
    * that drift did to the LAYOUT). At 10^9 vectors the census must
    * never touch the corpus: this plan scans only the persisted index,
    * and only its PARTITION column — the scan's ReadSchema is empty
    * (law-pinned in PlanShapeSpec), so the job reads directory metadata
    * plus row counts, not vector bytes. K stays the seeding contract
    * (16), so a centroid that won zero members still reads as absent
    * rather than silently renormalizing the factor.
    */
  def s15Stats(s: SparkSession, dir: String): DataFrame = {
    val counts = s.read.parquet(ivfIndexPath(s, dir))
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("members"))
    val tot = counts.agg(sum(col("members")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("members"),
        (round(col("members") * lit(16.0) / col("tot"), 6) + lit(0.0))
          .as("load"))
  }

  /** build (one-time, s7's priced job) → census. */
  def s15StatsQuery(s: SparkSession, dir: String): DataFrame = {
    s7Layout(s, dir)
    s15Stats(s, dir)
  }

  /** Embedding-cosine near-dup over the FULL corpus: LSH buckets
    * (`numPlanes` planes + hamming-1 multi-probe) generate candidate
    * pairs, exact cosine keeps pairs >= 0.35. The whole-corpus pair join
    * only ever touches bucket collisions — never O(n²) — and the bucket
    * join itself is block-decomposed (`pairBlocks`,
    * [[graft.ops.Salting.blockedPairJoin]]): real embeddings CLUSTER, so
    * one hot bucket would otherwise put its whole k² pair product on one
    * shuffle partition. Grow `numPlanes` with log2(corpus) (same law as
    * [[annLsh]]) and `pairBlocks` with the expected hot-bucket size.
    */
  def embedNearDup(s: SparkSession, dir: String, numPlanes: Int = 6,
      pairBlocks: Int = 4): DataFrame = {
      val spark = s
      import spark.implicits._
      val e = Tables(s, dir).embeddings
      val nPlanes = numPlanes
      val ex = e.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d0", "v")))
        .select(col("vec_id"), (col("d0") + 1).as("d"),
          col("v").cast("double").as("v"))
      val planes = (0 until nPlanes).toDF("p")
        .crossJoin((1 to 64).toDF("d"))
        .withColumn("w", planeComponent(col("p"), col("d")))
      val buckets = ex.join(broadcast(planes), "d")
        .groupBy("vec_id", "p")
        .agg(sum((col("v") * col("w")).cast("decimal(30,15)")).as("dotp"))
        .withColumn("bit", when(col("dotp") > 0, 1L).otherwise(0L))
        .groupBy("vec_id")
        .agg(expr("sum(shiftleft(bit, cast(p as int)))").as("bucket"))
      val masks = (0L +: (0 until nPlanes).map(1L << _).toSeq).toDF("m")
      // a pair matches exactly one mask (m = bucket_a XOR bucket_b), and
      // the bucket equi-join is block-decomposed against hot buckets
      val probes = buckets
        .select(col("vec_id").as("vec_a"), col("bucket").as("ab"))
        .crossJoin(broadcast(masks))
        .withColumn("bucket", col("ab").bitwiseXOR(col("m")))
        .select(col("vec_a"), col("bucket"))
      val bside = buckets.select(col("vec_id").as("vec_b"), col("bucket"))
      val cand = graft.ops.Salting
        .blockedPairJoin(probes, bside, "bucket", pairBlocks)
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
      // re-attach vectors with shuffle joins keyed on vec_id: at corpus
      // scale the vector table cannot broadcast, and a hash-partitioned
      // join on the pair key scales linearly (hinted so AQE's
      // auto-broadcast of the locally-tiny side never hides that shape)
      val withVec = withNorm(
        e.select(col("vec_id"), col("embedding")), "embedding", "nrm")
      val paired = cand
        .join(withVec.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea"), col("nrm").as("na"))
          .hint("shuffle_hash"), "vec_a")
        .join(withVec.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb"), col("nrm").as("nb"))
          .hint("shuffle_hash"), "vec_b")
      // cheap double prefilter with a wide margin (float error ≪ the margin),
      // then the exact decimal cosine only for the handful of survivors —
      // the result set is identical, the BigDecimal work drops ~1000×.
      // The guard is a CONDITIONAL, not a separate filter: two stacked
      // filters become one AND-conjunction when Catalyst pushes them into
      // the pair join, and conjunct evaluation order is not guaranteed —
      // at sf1 the optimizer flipped it and ran the decimal dot product on
      // every candidate pair (5× the whole query). `when` keeps the
      // short-circuit structural wherever the predicate lands
      // (PlanShapeSpec pins the shape).
      val scored = paired
        .withColumn("cosine",
          when(approxDotCol("ea", "eb") / (col("na") * col("nb")) >=
              DupThreshold - DupPrefilterMargin,
            round(dotCol("ea", "eb") / (col("na") * col("nb")), 6)))
      scored.filter(col("cosine") >= DupThreshold)
        .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** A `def` (not val): referenced from `queries`' initializer above. */
  /** Hybrid retrieval (s8): lexical + dense rankings fused with reciprocal-
    * rank fusion (Cormack et al. 2009, k=60) — "more-like-this" over the
    * documents×embeddings universe, queries = the first [[HybridQueries]]
    * ids, top-3 fused results per query.
    *
    * Lexical side: integer-scaled idf weights w(t) = (N·1000) div df(t),
    * score(q,d) = Σ_t qtf·tf·w — the score stays in ℤ so the DuckDB oracle
    * replays it bit-for-bit (a float BM25 idf would drift in the last ulp
    * across engines; after rank fusion only the ORDER carries anyway).
    * Dense side: the exact decimal cosine (same rule as s1).
    *
    * 100 TB shapes: postings are term-keyed and corpus-sized (p2's
    * never-broadcast law) while the query-term table is query-bounded and
    * broadcast onto them; per-(query, doc) partial sums collapse map-side
    * into a (qid, doc)-keyed hash agg; each side's top-N uses
    * [[graft.functions.TopKAggregator]] — an O(k)-state ObjectHashAggregate
    * with map-side partials — instead of a corpus-wide row_number window,
    * which would sort-shuffle every candidate into ≤|queries| tasks
    * (PlanShapeSpec pins the no-window law); fusion then full-outer-joins
    * two 20-row-per-query lists and ranks the ≤2N survivors.
    */
  def hybridSearch(s: SparkSession, dir: String,
      sideN: Int = HybridSideN): DataFrame = {
    val docs = Tables(s, dir).documents
    val e = Tables(s, dir).embeddings
    // candidate universe: docs carrying an embedding — both sides corpus-
    // sized, so the id intersection shuffles
    val toks = docs.join(
        e.select(col("vec_id").as("doc_id")).hint("shuffle_hash"), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val nTot = tf.select("doc_id").distinct().agg(count(lit(1)).as("ntot"))
    val w = dfT.crossJoin(nTot)
      .select(col("t"), expr("(ntot * 1000) div df").as("w"))
    // query terms are query-bounded: broadcast them INTO the corpus-sized
    // weight table, then broadcast the (still query-bounded) weighted form
    // onto the postings scan
    val qt = tf.filter(col("doc_id") < HybridQueries)
      .select(col("doc_id").as("qid"), col("t"), col("tf").as("qtf"))
    val qw = w.join(broadcast(qt), "t")
    val lex = tf.join(broadcast(qw), "t")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("qtf") * col("tf") * col("w")).as("lex"))
    val lexTop = lex.groupBy("qid")
      .agg(graft.functions.TopKAggregator
        .topKLong(sideN, -col("lex"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "x")))
      .select(col("qid"), col("x._2").as("doc_id"),
        (col("i") + 1).cast("long").as("lex_rank"))
    val uni = withNorm(e.join(docs.select(col("doc_id").as("vec_id"))
        .hint("shuffle_hash"), "vec_id"), "embedding", "nrm")
    val qs = uni.filter(col("vec_id") < HybridQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val vec = uni.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("nrm").as("cn"))
      .crossJoin(broadcast(qs))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine",
        round(dotCol("qe", "ce") / (col("qn") * col("cn")), 6))
    // key 0-cosine+0 (not -cosine): normalizes IEEE -0.0 so a -0.0/+0.0
    // cosine pair can't order differently from the oracle's SQL DESC
    val vecTop = vec.groupBy("qid")
      .agg(graft.functions.TopKAggregator
        .topKDouble(sideN, lit(0d) - col("cosine") + lit(0d), col("cid"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "x")))
      .select(col("qid"), col("x._2").as("doc_id"),
        (col("i") + 1).cast("long").as("vec_rank"))
    val fused = lexTop.join(vecTop, Seq("qid", "doc_id"), "full_outer")
      // rrf from the RAW nullable ranks (an absent side contributes 0),
      // THEN default the ranks to 0 for output
      .withColumn("rrf",
        coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + vec_rank)"), lit(0L)))
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L)))
    // ≤ 2·sideN rows per query survive fusion — this window ranks a
    // bounded list, never the corpus
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        col("rrf"), col("rank"))
  }

  private def moreQueries: Map[String, Relational.Q] = Map(
    // Hybrid lexical+dense retrieval (doc above).
    "s8_hybrid_search" -> { (s, dir) => hybridSearch(s, dir) },

    // Persisted-IVF serve path: build the partitioned index once, then
    // probe it with dynamic partition pruning. Result-identical to s3
    // (same assignment + scoring rules), so the oracle replays s3's SQL —
    // what the split changes is who pays for the corpus-wide assignment.
    "s7_ann_ivf_indexed" -> { (s, dir) =>
      s7Layout(s, dir)
      s7Query(s, dir)
    },

    // Incremental index upsert (doc at [[s12UpsertQuery]]): base build +
    // batch append against frozen centroids, probed like s7. The oracle is
    // the from-scratch IVF over the full corpus with the same centroids —
    // proving the append is indistinguishable from a rebuild.
    "s12_ann_index_upsert" -> { (s, dir) => s12UpsertQuery(s, dir) },
    "s14_index_forget" -> { (s, dir) => s14ForgetQuery(s, dir) },

    // Index census (doc at [[s15Stats]]): per-centroid member counts +
    // load factor off the persisted layout alone — the oracle replays the
    // assignment from the corpus, the operator reads only the index's
    // partition column; equality IS the layout-matches-assignment law.
    "s15_index_stats" -> { (s, dir) => s15StatsQuery(s, dir) },

    // Clustering-quality evaluation — the third leg of the evaluator trio
    // (s6 measures ANN recall, d11 measures the LSH S-curve, c4 measures
    // the clustering itself): per cluster, member count, inertia (Σ of the
    // winning squared distances — THE k-selection curve: run c4 across k
    // and look for the elbow), mean within-cluster scatter, squared
    // distance to the nearest other centroid, and their ratio (a
    // Davies-Bouldin-style dispersion/separation diagnostic — ratios near
    // or above 1 mark clusters that bleed into a neighbor). Shapes at
    // 100 TB: the packed-long argmin ALREADY carries the winning distance
    // in its high bits, so the per-vector (centroid, d2) decode is free —
    // one broadcast-centroid corpus pass, one k-keyed map-side-combined
    // agg; the centroid-pair separation table is k²-bounded (k × k, never
    // corpus-anything) and joins broadcast.
    // One-pass k-SELECTION (elbow) curve — c4 generalized across k: the
    // inertia curve for k ∈ {4, 8, 16} from ONE corpus scan. First-k
    // seeding makes the candidate centroid sets nest, so the union of all
    // three sets is 28 broadcast rows tagged by k; the scan cross-joins
    // once and the packed argmin keys by (k, vec) — three clusterings
    // priced as one corpus pass + one map-side-combined keyed agg, versus
    // one full scan per k in the naive sweep. At 100 TB the elbow sweep is
    // usually skipped because each k re-reads the corpus; this shape makes
    // the whole curve cost one read. Output: one row per k — THE input a
    // pipeline plots to pick k before committing to a c2 training run.
    "c5_kmeans_elbow" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val cents = broadcast(e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
      // first-k seeding nests the candidate sets, so per k the row-local
      // argmin folds over the `centroid_id < k` SLICE of the one
      // 16-centroid array — three clusterings still read the corpus once
      // (the explode is 3 rows per vector, done in the same map stage),
      // and the per-(k, vec) argmin exchange is gone entirely; the only
      // exchange left is the k-keyed elbow agg
      val win = e.select(col("embedding"))
        .crossJoin(centroidArray(cents))
        .select(col("embedding"), col("cs"),
          explode(array(lit(4L), lit(8L), lit(16L))).as("k"))
        .withColumn("pk", rowArgminPk(col("embedding"),
          filter(col("cs"), c => c.getField("centroid_id") < col("k"))))
        .select(col("k"), rowArgminId(col("pk")).as("centroid_id"),
          rowArgminKey(col("pk")).as("d2r"))
      win.groupBy("k").agg(
          count(lit(1)).as("n_vecs"),
          countDistinct(col("centroid_id")).as("used_centroids"),
          sum(col("d2r").cast("decimal(30,15)")).as("idec"))
        .select(col("k"), col("n_vecs"), col("used_centroids"),
          round(col("idec").cast("double"), 6).as("inertia"),
          round(col("idec").cast("double") / col("n_vecs"), 6).as("avg_d2"))
    },

    "c4_cluster_quality" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val K = 16
      val cents = broadcast(e.filter(col("vec_id") < K)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
      // row-local packed argmin (rowArgminPk): the winning d2r decodes
      // from the packed long's high bits exactly as packedArgminKeyed's —
      // the oracle holds the same 6-dp double — and no corpus-keyed
      // aggregation/exchange runs at all; the only exchange left is the
      // k-keyed within agg below
      val win = e.select(col("embedding"))
        .crossJoin(centroidArray(cents))
        .withColumn("pk", rowArgminPk(col("embedding"), col("cs")))
        .select(rowArgminId(col("pk")).as("centroid_id"),
          rowArgminKey(col("pk")).as("d2r"))
      val within = win.groupBy("centroid_id").agg(
          count(lit(1)).as("n_members"),
          sum(col("d2r").cast("decimal(30,15)")).as("idec"))
        .select(col("centroid_id"), col("n_members"),
          round(col("idec").cast("double"), 6).as("inertia"),
          round(col("idec").cast("double") / col("n_members"), 6).as("avg_d2"))
      val sep = cents
        .crossJoin(cents.select(col("centroid_id").as("oid"),
          col("cemb").as("oemb")))
        .filter(col("centroid_id") =!= col("oid"))
        .withColumn("d2o", round(dist2Col("cemb", "oemb"), 6))
        .groupBy("centroid_id").agg(min(col("d2o")).as("min_sep_d2"))
      // nullif guard: two near-identical centroids round min_sep_d2 to 0.0
      // (d2 < 5e-7), and Infinity/NaN serialize differently across engines
      // — NULL is the declared degenerate-centroid value on both sides
      within.join(broadcast(sep), "centroid_id")
        .withColumn("dispersion_ratio",
          round(col("avg_d2") / nullif(col("min_sep_d2"), lit(0.0)), 6))
    },
    // ANN recall evaluation — "measure, don't guess" applied to the ANN
    // family itself: brute-force top-3 is ground truth, [[annLsh]]'s top-3
    // is the system under test, output is hits + recall@3 per query. Both
    // compare inputs are RESULT-bounded (QueryCount × 3 rows), so the
    // compare join broadcasts at any corpus size; the expensive parts are
    // the two ANN runs, each keeping its own 100 TB shape (broadcast-query
    // corpus scan / bucketed candidate join). This is the query a pipeline
    // runs on a sampled query set to pick `numPlanes` before committing to
    // an index build.
    "s6_ann_recall" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      // ground-truth top-3 via the shared brute scan (bruteTopK — the
      // O(corpus) work is deliberate, the window sort is not)
      val truth = bruteTopK(e,
          e.select(col("vec_id").as("cid"), col("embedding").as("ce")), 3)
        .select(col("qid"), col("cid"))
      val approx = annLsh(s, dir)
        .select(col("qid"), col("cid"), lit(1L).as("hit"))
      truth.join(broadcast(approx), Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall_at_3", round(col("n_hit") / 3.0, 6))
    },

    // Distributed k-means, one Lloyd round (K = 16, seeded by the first K
    // vectors): assign every vector to its nearest centroid, recompute each
    // centroid as the decimal-exact per-dimension mean of its members, and
    // report cluster sizes plus how far each centroid moved. The shapes are
    // the 100 TB ones: assignment is a map over a broadcast centroid table,
    // the mean is ONE hash-agg keyed by (centroid, dim) — per iteration the
    // corpus is scanned once and shuffled once by a 16×64-key aggregation
    // (map-side combine collapses it); iterating = re-running with the
    // emitted centroids. No driver-side math beyond the loop decision.
    "c1_kmeans" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val K = 16
      val cents = broadcast(e.filter(col("vec_id") < K)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
      // row-local packed argmin (rowArgminPk — never a window rank, and no
      // corpus-keyed agg/exchange at all): assignment and the exploded dims
      // leave the scan in ONE map stage; the only exchange is the
      // (centroid, dim)-keyed mean agg below (kmeansRound's shape)
      val assigned = e.select(col("embedding"))
        .crossJoin(centroidArray(cents))
        .select(rowArgminId(rowArgminPk(col("embedding"), col("cs")))
          .as("centroid_id"), col("embedding"))
      val means = assigned
        .select(col("centroid_id"),
          posexplode(col("embedding")).as(Seq("d0", "v")))
        .select(col("centroid_id"), (col("d0") + 1).as("d"),
          col("v").cast("double").as("v"))
        .groupBy("centroid_id", "d")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(30,15)")).as("sv"))
        .withColumn("mean", col("sv").cast("double") / col("n"))
      val old = cents
        .select(col("centroid_id"), posexplode(col("cemb")).as(Seq("d0", "ov")))
        .select(col("centroid_id"), (col("d0") + 1).as("d"),
          col("ov").cast("double").as("ov"))
      means.join(old, Seq("centroid_id", "d"))
        .groupBy("centroid_id")
        .agg(max(col("n")).as("n_members"),
          round(sum(((col("mean") - col("ov")) * (col("mean") - col("ov")))
            .cast("decimal(30,15)")).cast("double"), 6).as("shift"))
    },

    // Iterated Lloyd k-means: THREE rounds of [[kmeansRound]], the loop
    // being the only driver-side action. Each round's k-row centroid table
    // is localCheckpoint'ed (a distributed materialization, not a collect)
    // so every round re-enters the identical plan instead of nesting
    // lineage three deep — at 10^9 vectors each round is one corpus scan +
    // two map-side-combined aggs, and the checkpoint is k × dim floats.
    // Output: final round's (centroid_id, n_members, shift).
    "c2_kmeans_lloyd" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      // the seed is checkpointed like every inter-round table, so ALL
      // rounds enter the same plan shape (PlanShapeSpec pins the equality)
      var cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb"))
        .localCheckpoint()
      var out: DataFrame = null
      for (i <- 1 to 3) {
        out = kmeansRound(e, cents)
        // the LAST round stays lazy (it is the returned plan); only the
        // inter-round centroid tables materialize
        if (i < 3)
          cents = out.select(col("centroid_id"), col("cemb")).localCheckpoint()
      }
      out.select(col("centroid_id"), col("n_members"), col("shift"))
    },

    // MINI-BATCH k-means (the batch-deterministic form of Sculley 2010):
    // each round assigns only a ~20% HASH-SAMPLE of the corpus (content-
    // stable md5 of the vec id, salted per round so successive rounds see
    // different slices) and moves each centroid to its sample-members'
    // mean; a centroid with no sample members KEEPS its position — centers
    // are never dropped, unlike pure Lloyd where an emptied centroid exits.
    // This is the 100 TB training path: the dominant per-round cost is
    // k×dim distance flops per vector plus the assignment/mean shuffles,
    // and the sample cuts ALL of that to 20% per round (the scan itself
    // stays full here — a production deployment additionally prunes IO by
    // partitioning on a persisted sample bucket, the s7 layout trick,
    // which changes no shape below). Same
    // per-round machinery as c2 (packed argmin, map-side-combined mean agg,
    // k-row localCheckpoints keeping every round's plan identical); the
    // oracle replays the identical salted samples, so determinism is pinned
    // cross-engine. Output: all k centroids with the final round's sample
    // member count and shift (0 for untouched centers).
    "c6_kmeans_minibatch" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      var cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb"))
        .localCheckpoint()
      var out: DataFrame = null
      for (i <- 1 to 3) {
        val ro = kmeansRound(minibatchSample(e, i), cents)
        if (i < 3)
          cents = minibatchCarry(cents, ro).localCheckpoint()
        else
          out = minibatchStats(cents, ro)
      }
      out
    },

    // Greedy farthest-point seeding (the deterministic k-center variant of
    // k-means++ — Gonzalez 1985; completes the k-means story: c3 seeds,
    // c1 runs a round, c2 iterates). Seed 1 is vector 0; each next seed is
    // the vector MAXIMIZING its min distance to the chosen set (ties:
    // smallest vec_id). The state is one corpus-sized (vec_id, embedding,
    // dmin) table: per round the single picked embedding broadcasts onto
    // it and dmin updates via `least` — a MAP-ONLY pass, zero shuffles,
    // localCheckpoint'ed so round plans stay constant (the c2 law). The
    // argmax needs exactly two scalar collects per round (the max and the
    // tie-broken id) — O(k) driver traffic total, and the ids ARE the
    // algorithm's output. At 10^9 vectors each round costs one corpus
    // map + one agg; k-means|| would batch several picks per pass without
    // changing any shape here.
    "c3_kmeans_seed" -> { (s, dir) =>
      val spark = s
      import spark.implicits._
      val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val K = 8
      var chosen = Seq(0L)
      var picks = Seq((1L, 0L, 0d))
      // each round replaces the corpus-sized state checkpoint; the PREVIOUS
      // round's blocks are released explicitly (via the internal RDD — the
      // cache-manager lookup path never finds localCheckpoint blocks, see
      // Dedup.checkpointSevered) so the loop holds ONE corpus copy, not k
      def ckRdd(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      var state = e.crossJoin(broadcast(e.filter(col("vec_id") === 0L)
          .select(col("embedding").as("cemb"))))
        .withColumn("dmin", round(dist2Col("embedding", "cemb"), 6))
        .drop("cemb")
        .localCheckpoint()
      for (r <- 2 to K) {
        val cands = state.filter(!col("vec_id").isin(chosen: _*))
        // ONE scalar collect per round (r20, guide §2.4's "one keyed agg"
        // rule applied to the driver loop): the lexicographic max over
        // (dmin, −vec_id) IS (max dmin, then min vec_id) — the two
        // actions this replaces each paid a full pass over the
        // checkpointed state, so the argmax phase halves
        val m = cands
          .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))))
          .head().getStruct(0)
        val mx = m.getDouble(0)
        val nextId = -m.getLong(1)
        chosen = chosen :+ nextId
        picks = picks :+ ((r.toLong, nextId, mx))
        if (r < K) {
          val prev = state
          state = state.crossJoin(broadcast(
              e.filter(col("vec_id") === nextId)
                .select(col("embedding").as("cemb"))))
            .withColumn("dmin", least(col("dmin"),
              round(dist2Col("embedding", "cemb"), 6)))
            .drop("cemb")
            .localCheckpoint() // materializes BEFORE prev is released
          ckRdd(prev).foreach(_.unpersist(blocking = false))
        }
      }
      ckRdd(state).foreach(_.unpersist(blocking = false))
      picks.toDF("seed_rank", "vec_id", "dmin")
    },

    // Scalar-quantized ANN (int8): per-vector symmetric quantization
    // q_i = round(v_i * 127 / max|v|), integer dot products select the
    // top-20 candidates per query, exact decimal cosine re-ranks only
    // those. The 100 TB story is MEMORY: the int8 corpus is 4× smaller
    // than float32 (64 B/vec here), the candidate scan is pure integer
    // arithmetic (exact in any order — Spark's array lambdas and the
    // oracle's exploded joins agree bit-for-bit), and the expensive
    // decimal path touches 20 rows per query.
    "s4_ann_sq8" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val Cand = 20
      val quant = e.select(col("vec_id"), col("embedding"))
        .withColumn("mabs", expr(
          "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"))
        // an all-zero vector has no quantization scale (0/0 = NaN would
        // diverge between engines) — exclude it on both sides
        .filter(col("mabs") > 0.0)
        .withColumn("q", expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mabs) AS BIGINT))"))
        .withColumn("qn", sqrt(expr(
          "aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)")))
      val corpus = quant.select(col("vec_id").as("cid"), col("q").as("cq"),
        col("qn").as("cn"))
      val qs = quant.filter(col("vec_id") < QueryCount)
        .select(col("vec_id").as("qid"), col("q").as("qq"), col("qn").as("nn"))
      val approx = corpus.crossJoin(broadcast(qs))
        .filter(col("qid") =!= col("cid"))
        .withColumn("idot", expr(
          "aggregate(zip_with(qq, cq, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .withColumn("approx", col("idot").cast("double") / (col("nn") * col("cn")))
      // candidate selection over the CORPUS-sized int8 scan as a bounded
      // top-k aggregation (topKAsc) — this stream is the whole corpus per
      // query, the exact shape a row_number window cannot carry at scale
      val cand = topKAsc(approx, col("qid"), unNeg(col("approx")),
          col("cid"), Cand)
        .select(col("g").as("qid"), col("id").as("cid"))
      // exact decimal cosine only for the quantization survivors; the
      // candidate set is bounded by the query set (20 per query), so IT is
      // the broadcast side — the corpus vector table joins by streaming
      // past it, never the other way around
      val withVec = withNorm(
        e.select(col("vec_id"), col("embedding")), "embedding", "nrm")
      val scored = withVec.select(col("vec_id").as("cid"),
          col("embedding").as("ce"), col("nrm").as("cn0"))
        .join(broadcast(cand
          .join(broadcast(withVec.filter(col("vec_id") < QueryCount)
            .select(col("vec_id").as("qid"),
              col("embedding").as("qe"), col("nrm").as("qn0"))), "qid")), "cid")
        .withColumn("cosine",
          round(dotCol("qe", "ce") / (col("qn0") * col("cn0")), 6))
      // rerank of the bounded candidate set — topKAsc keeps s4 window-free
      topKAsc(scored, col("qid"), unNeg(col("cosine")), col("cid"), 3)
        .select(col("g").as("qid"), col("id").as("cid"),
          unNeg(col("key")).as("cosine"), col("rank"))
    },

    // Product-quantized ANN (Jégou et al. 2011): split each vector into
    // M=8 subspaces of 8 dims, code each subvector as its nearest of 16
    // per-subspace centroids (codebook seeded from the first 16 vectors,
    // like the IVF path), then scan with asymmetric distance — the query's
    // 8×16 lookup table of exact subspace distances joined against the
    // corpus CODES, never the corpus vectors. The 100 TB story is extreme
    // compression: 8 bytes per coded vector (32× smaller than float32),
    // the LUT is bounded by the query set and broadcasts, and the exact
    // rerank touches only the top-50 ADC candidates per query. Random
    // embeddings are PQ's worst case (~63% top-3 candidate recall at a 10%
    // scan here); clustered real data and a Lloyd-trained codebook tighten
    // it without changing any plan shape.
    "s5_ann_pq" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val Cand = 50
      // one row per (vector, subspace) holding the 8-dim SUBVECTOR — the
      // codegen'd decimal dist2 then prices each (vec, subspace, code) pair
      // in one tight loop instead of an exploded per-dim aggregation
      val subs = e.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), j -> struct(CAST(j AS BIGINT) AS j, slice(embedding, j*8+1, 8) AS sv))"))
        .as("s"))
        .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
      // 16-entry-per-subspace codebook — fixed size, broadcastable by design
      val cents = broadcast(subs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("j"), col("sv").as("csv")))
      // the ENCODER is a ROW-LOCAL packed argmin (r20, same pack/grid/tie
      // rules as the packedArgmin agg it replaced — see rowArgminPk): each
      // (vector, subspace) row scans ITS subspace's 16-entry slice of the
      // one-row codebook array (element_at — no per-row filter), so the
      // corpus×8-keyed argmin exchange is gone — codes leave the scan's
      // own map stage. (The row_number window two forms ago sort-shuffled
      // corpus × 8 subspace partitions, VERDICT r8 #2; the agg form still
      // exchanged corpus×8 rows.)
      val codes = subs
        .crossJoin(codebookArray(cents))
        .withColumn("pk", rowArgminPk(col("sv"),
          element_at(col("cbs"), (col("j") + 1).cast("int"))))
        .select(col("vec_id").as("cid"), col("j"),
          rowArgminId(col("pk")).as("code"))
      // exact decimal subspace distances per (QUERY, subspace, code) — the
      // LUT is query-bounded, so the per-code crossJoin stays here
      val lut = broadcast(subs.filter(col("vec_id") < QueryCount)
        .join(cents, Seq("j"))
        .select(col("vec_id").as("qid"), col("j"), col("code"),
          round(dist2Col("sv", "csv"), 6).as("d2")))
      // ADC scan: corpus codes × broadcast LUT, one 8-term sum per (q, c)
      val adc = codes.join(lut, Seq("j", "code"))
        .filter(col("qid") =!= col("cid"))
        .groupBy("qid", "cid")
        .agg(sum(col("d2").cast("decimal(30,15)")).cast("double").as("approx"))
      // candidate selection over the corpus-sized ADC output as a bounded
      // top-k aggregation — approx is a distance, so the ASCENDING key is
      // used directly (`ORDER BY approx, cid`)
      val cand = topKAsc(adc, col("qid"), col("approx"), col("cid"), Cand)
        .select(col("g").as("qid"), col("id").as("cid"))
      // exact decimal rerank of the bounded candidate set (broadcast side),
      // corpus vectors stream past it — same shape as s4
      val withVec = withNorm(
        e.select(col("vec_id"), col("embedding")), "embedding", "nrm")
      val scored = withVec.select(col("vec_id").as("cid"),
          col("embedding").as("ce"), col("nrm").as("cn0"))
        .join(broadcast(cand
          .join(broadcast(withVec.filter(col("vec_id") < QueryCount)
            .select(col("vec_id").as("qid"),
              col("embedding").as("qe"), col("nrm").as("qn0"))), "qid")), "cid")
        .withColumn("cosine",
          round(dotCol("qe", "ce") / (col("qn0") * col("cn0")), 6))
      // rerank of the bounded candidate set — topKAsc keeps s5 window-free
      topKAsc(scored, col("qid"), unNeg(col("cosine")), col("cid"), 3)
        .select(col("g").as("qid"), col("id").as("cid"),
          unNeg(col("key")).as("cosine"), col("rank"))
    },

    // IVF+PQ composite (the FAISS IVFPQ layout, by_residual=false): s3's
    // coarse inverted lists select WHICH vectors are scanned, s5's PQ codes
    // decide HOW CHEAPLY — the ADC scan touches only codes in the probed
    // lists, so the two compressions multiply: probes/k of the corpus ×
    // 8 bytes/vector. This is the production serving layout at 10^9
    // vectors (IVF bounds I/O, PQ bounds memory); s3/s5 each prove one
    // half, s9 proves the composition end-to-end against the oracle.
    // Plan shapes (r20): both assignments are ROW-LOCAL packed-argmin
    // folds (rowArgminPk) computed in the corpus scan's own map stage —
    // list id and codes leave the scan together, so nothing vector-keyed
    // ever aggregates, shuffles or re-joins; the probe list broadcasts
    // onto the code stream, the LUT is query-bounded and broadcasts,
    // every rank is a bounded top-k aggregation — no Window anywhere
    // (PlanShapeSpec law).
    "s9_ann_ivfpq" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val Cand = 50
      // ---- IVF half: coarse lists + 2-probe per query (s3's rules) ----
      val ivfCents = broadcast(e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
      // probe selection needs ALL k distances per query — the per-centroid
      // crossJoin stays here, QUERY-bounded at any corpus size
      val probes = topKAsc(e.filter(col("vec_id") < QueryCount)
          .select(col("vec_id"), col("embedding"))
          .crossJoin(ivfCents)
          .withColumn("d2r", round(dist2Col("embedding", "cemb"), 6))
          .select(col("vec_id").as("qid"), col("d2r"), col("centroid_id")),
          col("qid"), col("d2r"), col("centroid_id"), 2)
        .select(col("g").as("qid"), col("id").as("centroid_id"))
      // ---- PQ half: per-subspace codes + query LUT (s5's rules) ----
      val subs = e.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), j -> struct(CAST(j AS BIGINT) AS j, slice(embedding, j*8+1, 8) AS sv))"))
        .as("s"))
        .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
      val pqCents = broadcast(subs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("j"), col("sv").as("csv")))
      val lut = broadcast(subs.filter(col("vec_id") < QueryCount)
        .join(pqCents, Seq("j"))
        .select(col("vec_id").as("qid"), col("j"), col("code"),
          round(dist2Col("sv", "csv"), 6).as("d2")))
      // ---- fused corpus pass (r20): the IVF list id rides ROW-LOCALLY
      // out of the scan (rowArgminPk — s3's rule) and each subspace row
      // folds its code from the codebook array slice (s5's rule), so the
      // corpus-keyed argmin exchanges AND the corpus-sized codes⋈lists
      // shuffle join are all gone — the plan is map-only from the scan to
      // the ADC aggregation
      val codes = e.select(col("vec_id"), col("embedding"))
        .crossJoin(centroidArray(ivfCents))
        .withColumn("centroid_id",
          rowArgminId(rowArgminPk(col("embedding"), col("cs"))))
        .select(col("vec_id"), col("centroid_id"), explode(expr(
          "transform(sequence(0, 7), j -> struct(CAST(j AS BIGINT) AS j, slice(embedding, j*8+1, 8) AS sv))"))
          .as("s"))
        .select(col("vec_id"), col("centroid_id"),
          col("s.j").as("j"), col("s.sv").as("sv"))
        .crossJoin(codebookArray(pqCents))
        .withColumn("pk", rowArgminPk(col("sv"),
          element_at(col("cbs"), (col("j") + 1).cast("int"))))
        .select(col("vec_id").as("cid"), col("centroid_id"), col("j"),
          rowArgminId(col("pk")).as("code"))
      // ---- composition: ADC only inside the probed lists ----
      // the 2×|queries|-row probe table broadcasts onto the code stream,
      // and only surviving (probed) code rows meet the LUT
      val adc = codes
        .join(broadcast(probes), "centroid_id")
        .join(lut, Seq("qid", "j", "code"))
        .filter(col("qid") =!= col("cid"))
        .groupBy("qid", "cid")
        .agg(sum(col("d2").cast("decimal(30,15)")).cast("double").as("approx"))
      val cand = topKAsc(adc, col("qid"), col("approx"), col("cid"), Cand)
        .select(col("g").as("qid"), col("id").as("cid"))
      // exact decimal rerank of the bounded candidate set — s4/s5's shape
      val withVec = withNorm(
        e.select(col("vec_id"), col("embedding")), "embedding", "nrm")
      val scored = withVec.select(col("vec_id").as("cid"),
          col("embedding").as("ce"), col("nrm").as("cn0"))
        .join(broadcast(cand
          .join(broadcast(withVec.filter(col("vec_id") < QueryCount)
            .select(col("vec_id").as("qid"),
              col("embedding").as("qe"), col("nrm").as("qn0"))), "qid")), "cid")
        .withColumn("cosine",
          round(dotCol("qe", "ce") / (col("qn0") * col("cn0")), 6))
      topKAsc(scored, col("qid"), unNeg(col("cosine")), col("cid"), 3)
        .select(col("g").as("qid"), col("id").as("cid"),
          unNeg(col("key")).as("cosine"), col("rank"))
    },

    // Metadata-filtered vector search — the "WHERE lang = 'en' AND
    // n_chars >= 200" top-k every RAG / curation stack serves. The scalar
    // predicate lives on the documents table, the vectors on embeddings;
    // eligibility must be decided BEFORE scoring (pre-filtering), not by
    // post-filtering an unfiltered top-k: post-filter recall@k is
    // best-effort (a k-list can drain to fewer than k eligible rows)
    // while the pre-filtered scan is exact under the predicate and scores
    // only eligible vectors. Shapes: the predicate reaches the documents
    // parquet scan as pushed filters (PlanShapeSpec pins PushedFilters —
    // at 100 TB this is the difference between reading two column chunks
    // with stats-pruned row groups and reading the corpus); the eligible
    // ids semi-join onto the vector table with a shuffle hint (eligible
    // sets are corpus-sized at scale — AQE would broadcast the locally
    // tiny set and hide the shape); scoring keeps s1's broadcast-query
    // corpus scan and the bounded top-k aggregation.
    "s10_filtered_knn" -> { (s, dir) =>
      val t = Tables(s, dir)
      val e = t.embeddings
      val eligible = t.documents
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id").as("cid"))
      // eligibility attaches BEFORE the norm computation, so the exact
      // decimal self-dot prices only surviving vectors — with a selective
      // predicate that is most of the scan's cost at 100 TB
      val corpus = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .join(eligible.hint("shuffle_hash"), Seq("cid"), "left_semi")
      bruteTopK(e, corpus, TopK)
    },

    // Embedding-distribution drift monitor — the data-quality gate a
    // production pipeline runs on every incoming batch BEFORE admitting
    // its vectors (an upstream encoder change, silent re-normalization, or
    // corrupted modality shows up as per-dimension drift long before any
    // downstream metric moves). Batch = src0-src4 (the d10/p18 split);
    // per dimension: reference mean/std and batch mean via decimal-exact
    // sums, drift as the standardized mean difference
    // (batch_mean − ref_mean) / ref_std. Shapes at 100 TB: one corpus
    // explode, the batch tag attached by a SHUFFLED left join (the id set
    // is corpus-fraction-sized), then ONE 64-key aggregation with
    // map-side partials — the whole monitor is a single pass, no windows,
    // output is dimension-bounded.
    "s11_embed_drift" -> { (s, dir) =>
      val t = Tables(s, dir)
      val batchIds = t.documents
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("doc_id").as("vec_id"))
      val ex = t.embeddings.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("d0", "v")))
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("d"),
          col("v").cast("double").as("v"))
      val tagged = ex
        .join(batchIds.withColumn("isb", lit(1L)).hint("shuffle_hash"),
          Seq("vec_id"), "left")
        .withColumn("isb", coalesce(col("isb"), lit(0L)))
      val dec = "decimal(30,15)"
      tagged.groupBy("d").agg(
          sum(when(col("isb") === 0, col("v")).cast(dec)).as("rs"),
          sum(when(col("isb") === 0, col("v") * col("v")).cast(dec)).as("rs2"),
          count(when(col("isb") === 0, lit(1))).as("rn"),
          sum(when(col("isb") === 1, col("v")).cast(dec)).as("bs"),
          count(when(col("isb") === 1, lit(1))).as("bn"))
        .select(col("d"),
          (col("rs").cast("double") / col("rn")).as("ref_mean0"),
          sqrt((col("rs2").cast("double") -
            col("rs").cast("double") * col("rs").cast("double") / col("rn")) /
            col("rn")).as("ref_std0"),
          (col("bs").cast("double") / col("bn")).as("batch_mean0"))
        .select(col("d"), round(col("ref_mean0"), 6).as("ref_mean"),
          round(col("ref_std0"), 6).as("ref_std"),
          round(col("batch_mean0"), 6).as("batch_mean"),
          round((col("batch_mean0") - col("ref_mean0")) / col("ref_std0"), 6)
            .as("drift_smd"))
    })

  /** c6's salted ~20% hash-sample for round r — content-stable md5 of the
    * vec id so the oracle replays it; shared with t29's ingest waves (at
    * ingest, the arriving wave IS the mini-batch).
    */
  private[analytics] def minibatchSample(e: DataFrame, r: Int): DataFrame =
    e.filter(
      conv(substring(md5(concat(lit(s"mb$r:"),
        col("vec_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 5 === 0)

  /** Mini-batch carry-forward: a centroid with no sample members KEEPS its
    * position — centers are never dropped (Sculley's rule; shared by c6
    * and t29).
    */
  private[analytics] def minibatchCarry(cents: DataFrame,
      ro: DataFrame): DataFrame =
    cents.select(col("centroid_id"), col("cemb").as("prev"))
      .join(ro.select(col("centroid_id"), col("cemb").as("newc")),
        Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("newc"), col("prev")).as("cemb"))

  /** The round's reportable stats over ALL k slots — untouched centers
    * report zero movement (they ARE the answer for their slot this round,
    * not absentees; shared by c6 and t29).
    */
  private[analytics] def minibatchStats(cents: DataFrame,
      ro: DataFrame): DataFrame =
    cents.select(col("centroid_id"))
      .join(ro, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("shift"), lit(0.0)).as("shift"))

  /** One Lloyd round (the iterating form of c1, VERDICT r8 #6): given float
    * centroids (centroid_id, cemb), assign every vector to its nearest
    * centroid via the packed-long argmin aggregation, recompute each
    * centroid as the per-dimension mean of its members, and report the
    * round's stats. The new components are FLOAT-quantized
    * (`CAST(mean AS FLOAT)`) so successive rounds keep the codegen'd
    * ARRAY<FLOAT> distance path AND the DuckDB oracle replays the identical
    * IEEE double→float rounding — and a float32 centroid table is what a
    * production index stores anyway. Per round: one corpus scan whose map
    * stage assigns AND explodes (rowArgminPk — row-local, nothing
    * corpus-sized ever shuffles), then the (centroid, dim)-keyed mean agg
    * — k×dim keys, map-side-combined; an emptied centroid drops out
    * naturally. Returns (centroid_id, cemb, n_members, shift).
    */
  def kmeansRound(e: DataFrame, cents: DataFrame): DataFrame = {
    val bc = broadcast(cents.select(col("centroid_id"), col("cemb")))
    // assignment is ROW-LOCAL (rowArgminPk over the one-row centroid
    // array): the old form paid a corpus-keyed argmin exchange PLUS a
    // corpus×dim posexplode⋈assignment shuffle_hash join per round; here
    // the assignment and the exploded dims leave the scan in ONE map
    // stage and the round's only exchange is the (centroid, dim)-keyed
    // mean agg — k×dim keys, map-side combined (guide §2.4). Assignments
    // are bit-identical (same pack, grid, tie rule, decimal distance).
    // the argmin fold gets its OWN projection BELOW the explode: mixed
    // into the posexplode select it would land in the projection above
    // Generate and re-evaluate once per exploded dim
    val assigned = e.select(col("embedding"))
      .crossJoin(centroidArray(bc))
      .select(rowArgminId(rowArgminPk(col("embedding"), col("cs")))
        .as("centroid_id"), col("embedding"))
    val ex = assigned
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("d0", "v")))
      .select(col("centroid_id"), (col("d0") + 1).as("d"),
        col("v").cast("double").as("v"))
    val means = ex.groupBy("centroid_id", "d")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(30,15)")).as("sv"))
      .withColumn("mean", col("sv").cast("double") / col("n"))
    val newc = means.groupBy("centroid_id")
      .agg(max(col("n")).as("n_members"),
        expr("transform(array_sort(collect_list(struct(d, mean)))," +
          " x -> CAST(x.mean AS FLOAT))").as("cemb"))
    newc.join(bc.select(col("centroid_id"), col("cemb").as("prev")),
        Seq("centroid_id"))
      .withColumn("shift", round(dist2Col("cemb", "prev"), 6))
      .select(col("centroid_id"), col("cemb"), col("n_members"), col("shift"))
  }

  /** SemDeDup (Abbas et al. 2023): cluster the embedding space coarsely,
    * then dedup WITHIN each cluster by exact pairwise cosine — the pair
    * join is an equi-join on the cluster id, so the quadratic term is
    * sum(cluster_size²), never corpus². Size `k` so the average cluster
    * (corpus / k) keeps per-cluster pair work bounded — at 10^9 vectors
    * that is k in the tens of thousands (Abbas et al. used 50k on LAION) —
    * and the intra-cluster join is block-decomposed (`pairBlocks`,
    * [[graft.ops.Salting.blockedPairJoin]]) because real clusters are
    * Zipf-ish: one hot cluster would otherwise serialize the whole stage.
    * Keeper = lowest vec_id of each near-dup neighborhood; each dropped
    * doc reports which keeper it duplicated and the cosine that sealed it.
    */
  def semDeDup(s: SparkSession, dir: String, k: Int = 16,
      pairBlocks: Int = 4): DataFrame = {
      val e = Tables(s, dir).embeddings
      val K = k
      val cents = broadcast(e.filter(col("vec_id") < K)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb")))
      // packed-long argmin assignment (packedArgmin), never a window rank
      val lists = packedArgmin(
        e.select(col("vec_id"), col("embedding"))
          .crossJoin(cents)
          .withColumn("d2r", round(dist2Col("embedding", "cemb"), 6)),
        Seq(col("vec_id")), col("d2r"), col("centroid_id"), "centroid_id")
      // all joins below pair corpus-sized sides — shuffle-hinted so AQE's
      // local broadcast conversion can't hide the only shape that exists at
      // 100 TB (hash-partitioned on cluster/doc keys)
      val withVec = withNorm(
        e.select(col("vec_id"), col("embedding")), "embedding", "nrm")
        .join(lists.hint("shuffle_hash"), "vec_id")
      // intra-cluster candidate pairs via the block-decomposed equi-join
      // (hot clusters split across pairBlocks² shuffle keys); cheap
      // codegen'd double prefilter (wide margin) gates the exact decimal
      // cosine, as in d5
      val aSide = withVec.select(col("centroid_id"),
        col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val bSide = withVec.select(col("centroid_id"),
        col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      val scored = graft.ops.Salting
        .blockedPairJoin(aSide, bSide, "centroid_id", pairBlocks)
        .filter(col("vec_a") < col("vec_b"))
        .withColumnRenamed("centroid_id", "cluster_id")
        // conditional guard, not a stacked filter — see embedNearDup for
        // the conjunct-reorder trap this avoids
        .withColumn("cosine",
          when(approxDotCol("ea", "eb") / (col("na") * col("nb")) >=
              DupThreshold - DupPrefilterMargin,
            round(dotCol("ea", "eb") / (col("na") * col("nb")), 6)))
        .filter(col("cosine") >= DupThreshold)
        .select(col("cluster_id"), col("vec_a"), col("vec_b"), col("cosine"))
      // a doc is dropped if any lower-id cluster-mate is near enough;
      // report the lowest such keeper and the cosine against it
      val dropped = scored.groupBy(col("vec_b").as("vec_id"))
        .agg(min(col("cluster_id")).as("cluster_id"),
          min(col("vec_a")).as("dup_of"))
      dropped.join(
        scored.select(col("vec_b").as("vec_id"), col("vec_a").as("dup_of"),
          col("cosine")).hint("shuffle_hash"),
        Seq("vec_id", "dup_of"))
        .select(col("vec_id"), col("cluster_id"), col("dup_of"), col("cosine"))
  }

  /** Shared oracle CTEs: exploded dims, norms. */
  private val explodedSql =
    """ex AS (SELECT vec_id, g.i AS d, CAST(embedding[g.i] AS DOUBLE) AS v
      |       FROM embeddings, (SELECT unnest(range(1, 256)) AS i) g
      |       WHERE g.i <= len(embedding)),
      |norms AS (SELECT vec_id,
      |            sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
      |          FROM ex GROUP BY vec_id)""".stripMargin

  /** d5's full candidate+cosine pipeline as a CTE chain ending at `cos`
    * (vec_a, vec_b, cosine) — shared by the d5 pair listing and d8's
    * clustering oracle.
    */
  private def embedPairsCte: String =
    s"""$explodedSql,
       |planes AS (SELECT p.p, d.d,
       |             ((CAST(('0x'||substr(md5('plane_'||p.p||'_'||d.d),1,15)) AS BIGINT)
       |               % 2001) - 1000) / 1000.0 AS w
       |           FROM (SELECT unnest(range(0, 6)) AS p) p,
       |                (SELECT unnest(range(1, 65)) AS d) d),
       |bits AS (SELECT vec_id, p,
       |           CASE WHEN SUM(CAST(v * w AS DECIMAL(30,15))) > 0
       |                THEN 1 ELSE 0 END AS bit
       |         FROM ex JOIN planes ON ex.d = planes.d
       |         GROUP BY vec_id, p),
       |buckets AS (SELECT vec_id,
       |              CAST(SUM(bit * (1 << p)) AS BIGINT) AS bucket
       |            FROM bits GROUP BY vec_id),
       |masks(m) AS (VALUES (0), (1), (2), (4), (8), (16), (32)),
       |cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM buckets a
       |         JOIN masks ON true
       |         JOIN buckets b ON b.bucket = xor(a.bucket, masks.m)
       |           AND a.vec_id < b.vec_id),
       |dots AS (SELECT vec_a, vec_b,
       |           CAST(SUM(CAST(a.v * b.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
       |         FROM cand
       |         JOIN ex a ON vec_a = a.vec_id
       |         JOIN ex b ON vec_b = b.vec_id AND a.d = b.d
       |         GROUP BY 1, 2),
       |cos AS (SELECT vec_a, vec_b,
       |          ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
       |        FROM dots
       |        JOIN norms na ON vec_a = na.vec_id
       |        JOIN norms nb ON vec_b = nb.vec_id)""".stripMargin

  /** One unrolled Lloyd round for the c2 oracle: assignment argmin against
    * `$inCents`, per-(centroid, dim) means, float-quantized next centroids —
    * the SQL twin of [[kmeansRound]].
    */
  private def lloydRoundCte(i: Int): String = {
    val next = i + 1
    s"""d2_$i AS (SELECT e.vec_id, c.centroid_id,
       |           ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
       |             AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
       |         FROM ex e JOIN cents_$i c ON e.d = c.d
       |         GROUP BY 1, 2),
       |l_$i AS (SELECT vec_id, centroid_id FROM (
       |          SELECT vec_id, centroid_id,
       |            ROW_NUMBER() OVER (PARTITION BY vec_id
       |              ORDER BY d2r, centroid_id) AS r
       |          FROM d2_$i) WHERE r = 1),
       |m_$i AS (SELECT l.centroid_id, e.d, COUNT(*) AS n,
       |           CAST(SUM(CAST(e.v AS DECIMAL(30,15))) AS DOUBLE) AS sv
       |         FROM ex e JOIN l_$i l ON e.vec_id = l.vec_id
       |         GROUP BY 1, 2),
       |cents_$next AS (SELECT centroid_id, d,
       |           CAST(CAST(sv / n AS FLOAT) AS DOUBLE) AS v FROM m_$i)""".stripMargin
  }

  /** c6's oracle round: [[lloydRoundCte]] restricted to the round's salted
    * hash-sample, with the centroid table carried by LEFT JOIN + COALESCE
    * (a center with no sample members keeps its position — mini-batch
    * never drops centers).
    */
  private def minibatchRoundCte(i: Int): String = {
    val next = i + 1
    s"""s_$i AS (SELECT * FROM ex
       |         WHERE CAST(('0x'||substr(md5('mb$i:'||vec_id),1,15)) AS BIGINT)
       |               % 5 = 0),
       |d2_$i AS (SELECT e.vec_id, c.centroid_id,
       |           ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
       |             AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
       |         FROM s_$i e JOIN cents_$i c ON e.d = c.d
       |         GROUP BY 1, 2),
       |l_$i AS (SELECT vec_id, centroid_id FROM (
       |          SELECT vec_id, centroid_id,
       |            ROW_NUMBER() OVER (PARTITION BY vec_id
       |              ORDER BY d2r, centroid_id) AS r
       |          FROM d2_$i) WHERE r = 1),
       |m_$i AS (SELECT l.centroid_id, e.d, COUNT(*) AS n,
       |           CAST(SUM(CAST(e.v AS DECIMAL(30,15))) AS DOUBLE) AS sv
       |         FROM s_$i e JOIN l_$i l ON e.vec_id = l.vec_id
       |         GROUP BY 1, 2),
       |cents_$next AS (SELECT c.centroid_id, c.d,
       |           COALESCE(CAST(CAST(m.sv / m.n AS FLOAT) AS DOUBLE), c.v) AS v
       |         FROM cents_$i c LEFT JOIN m_$i m
       |           ON c.centroid_id = m.centroid_id AND c.d = m.d)""".stripMargin
  }

  /** c3's oracle: the farthest-point seeding unrolled — dm{r} carries each
    * vector's min distance to the first r seeds, m{r}/p{r} pick round r's
    * max and its tie-broken id, excluding everything already chosen.
    */
  private def kppOracleSql(k: Int): String = {
    // every per-round CTE is MATERIALIZED: plain CTEs inline at each
    // reference, and the p-chain's exclusion subqueries reference every
    // earlier round — un-materialized, the expansion is O(k³) parquet
    // scans and DuckDB runs out of file handles
    val sb = new StringBuilder
    sb.append(s"WITH $explodedSql,\n")
    sb.append(
      "dm1 AS MATERIALIZED (SELECT e.vec_id," +
        " ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)" +
        " AS DECIMAL(30,15))) AS DOUBLE), 6) AS dmin\n" +
        "        FROM ex e JOIN ex c ON c.vec_id = 0 AND e.d = c.d GROUP BY 1)")
    for (r <- 2 to k) {
      val excl = (Seq("0") ++ (2 until r).map(i => s"(SELECT id FROM p$i)"))
        .map(x => s"vec_id <> $x").mkString(" AND ")
      sb.append(s",\nm$r AS MATERIALIZED (SELECT MAX(dmin) AS mx" +
        s" FROM dm${r - 1} WHERE $excl)")
      sb.append(s",\np$r AS MATERIALIZED (SELECT MIN(vec_id) AS id" +
        s" FROM dm${r - 1}, m$r WHERE dmin = mx AND $excl)")
      if (r < k) {
        sb.append(s",\ndn$r AS MATERIALIZED (SELECT e.vec_id," +
          " ROUND(CAST(SUM(CAST((e.v - c.v)" +
          " * (e.v - c.v) AS DECIMAL(30,15))) AS DOUBLE), 6) AS d\n" +
          s"         FROM ex e JOIN ex c ON c.vec_id = (SELECT id FROM p$r)" +
          " AND e.d = c.d GROUP BY 1)")
        sb.append(s",\ndm$r AS MATERIALIZED (SELECT a.vec_id," +
          " LEAST(a.dmin, b.d) AS dmin" +
          s" FROM dm${r - 1} a JOIN dn$r b USING (vec_id))")
      }
    }
    sb.append("\nSELECT CAST(1 AS BIGINT) AS seed_rank," +
      " CAST(0 AS BIGINT) AS vec_id, 0.0 AS dmin")
    for (r <- 2 to k)
      sb.append(s"\nUNION ALL SELECT CAST($r AS BIGINT)," +
        s" (SELECT id FROM p$r), (SELECT mx FROM m$r)")
    sb.toString
  }

  /** IVF probe semantics shared by s3 (inline assignment) and s7 (persisted
    * index): 16 seed centroids, nearest-1 lists, 2-probe queries, exact
    * decimal scoring, top-3 per query.
    */
  private def ivfOracleSql: String = ivfOracleSql("vec_id < 16")

  /** The IVF replay with the centroid-set predicate as the only knob —
    * s3/s7 seed from the 16 lowest ids; s12 freezes the 16 lowest BASE
    * (non-batch) ids and the rest of the replay is identical: result
    * equivalence between the upserted index and a from-scratch build IS
    * the operator's law.
    */
  private def ivfOracleSql(centsPred: String,
      memberPred: String = "TRUE"): String =
    s"""WITH $explodedSql,
       |${ivfScoredCtes(centsPred, memberPred)},
       |ranked AS (SELECT qid, cid, cosine,
       |             ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY cosine DESC, cid) AS rank
       |           FROM scored)
       |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 3""".stripMargin

  /** The IVF assignment replay up to a `lists(cid, centroid_id)` CTE —
    * expects `ex` in scope; shared by the probe replay below and
    * s15_index_stats' census (which needs the membership, not the
    * scoring).
    */
  private def ivfListsCtes(centsPred: String,
      memberPred: String = "TRUE"): String =
    s"""cents AS (SELECT vec_id AS centroid_id, d, v FROM ex
       |          WHERE $centsPred),
       |d2 AS (SELECT e.vec_id, c.centroid_id,
       |         ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
       |           AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
       |       FROM ex e JOIN cents c ON e.d = c.d
       |       GROUP BY 1, 2),
       |ra AS (SELECT vec_id, centroid_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id
       |           ORDER BY d2r, centroid_id) AS cr
       |       FROM d2),
       |lists AS (SELECT vec_id AS cid, centroid_id FROM ra
       |          WHERE cr = 1 AND ($memberPred))""".stripMargin

  /** The IVF probe replay up to a `scored(qid, cid, cosine)` CTE —
    * expects `ex`/`norms` in scope; shared by the s3/s7/s12 oracles and
    * s13_mmr_indexed's pool stage.
    */
  private def ivfScoredCtes(centsPred: String,
      memberPred: String = "TRUE"): String =
    s"""${ivfListsCtes(centsPred, memberPred)},
       |probes AS (SELECT vec_id AS qid, centroid_id FROM ra
       |           WHERE vec_id < $QueryCount AND cr <= 2
       |             AND ($memberPred)),
       |dots AS (SELECT p.qid, l.cid,
       |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
       |         FROM probes p
       |         JOIN lists l ON p.centroid_id = l.centroid_id
       |         JOIN ex q ON q.vec_id = p.qid
       |         JOIN ex c ON c.vec_id = l.cid AND q.d = c.d
       |         WHERE p.qid <> l.cid
       |         GROUP BY 1, 2),
       |scored AS (SELECT qid, cid,
       |             ROUND(dot / (nq.nrm * nc.nrm), 6) + 0 AS cosine
       |           FROM dots
       |           JOIN norms nq ON qid = nq.vec_id
       |           JOIN norms nc ON cid = nc.vec_id)""".stripMargin

  /** The MMR replay from a `pool(qid, cid, cosine)` CTE down to the final
    * three-round selection — expects `ex`/`norms`/`pool` in scope; shared
    * by s13_mmr_rerank (bruteTopK pool) and s13_mmr_indexed (IVF pool).
    */
  private def mmrTailSql: String =
    s"""pd AS (SELECT x.qid, x.cid AS ca, y.cid AS cb,
       |         CAST(SUM(CAST(a.v * b.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
       |       FROM pool x JOIN pool y ON x.qid = y.qid AND x.cid <> y.cid
       |       JOIN ex a ON a.vec_id = x.cid
       |       JOIN ex b ON b.vec_id = y.cid AND a.d = b.d
       |       GROUP BY 1, 2, 3),
       |psim AS (SELECT qid, ca, cb,
       |           ROUND(dot / (na.nrm * nb.nrm), 6) + 0 AS sim
       |         FROM pd
       |         JOIN norms na ON ca = na.vec_id
       |         JOIN norms nb ON cb = nb.vec_id),
       |p1 AS (SELECT qid, cid, cosine, cosine AS score FROM (
       |         SELECT qid, cid, cosine, ROW_NUMBER() OVER (
       |           PARTITION BY qid ORDER BY cosine DESC, cid) AS r
       |         FROM pool) WHERE r = 1),
       |m2 AS (SELECT t.qid, t.cid, t.cosine,
       |         t.cosine - 0.5 * s.sim AS score
       |       FROM pool t
       |       JOIN p1 ON t.qid = p1.qid AND t.cid <> p1.cid
       |       JOIN psim s ON s.qid = t.qid AND s.ca = t.cid
       |         AND s.cb = p1.cid),
       |p2 AS (SELECT qid, cid, cosine, score FROM (
       |         SELECT qid, cid, cosine, score, ROW_NUMBER() OVER (
       |           PARTITION BY qid ORDER BY score DESC, cid) AS r
       |         FROM m2) WHERE r = 1),
       |m3 AS (SELECT t.qid, t.cid, t.cosine,
       |         t.cosine - 0.5 * MAX(s.sim) AS score
       |       FROM pool t
       |       JOIN p1 ON t.qid = p1.qid AND t.cid <> p1.cid
       |       JOIN p2 ON t.qid = p2.qid AND t.cid <> p2.cid
       |       JOIN psim s ON s.qid = t.qid AND s.ca = t.cid
       |         AND (s.cb = p1.cid OR s.cb = p2.cid)
       |       GROUP BY t.qid, t.cid, t.cosine),
       |p3 AS (SELECT qid, cid, cosine, score FROM (
       |         SELECT qid, cid, cosine, score, ROW_NUMBER() OVER (
       |           PARTITION BY qid ORDER BY score DESC, cid) AS r
       |         FROM m3) WHERE r = 1)
       |SELECT qid, cid, cosine, ROUND(score, 6) AS mmr_score,
       |  CAST(1 AS BIGINT) AS mmr_rank FROM p1
       |UNION ALL SELECT qid, cid, cosine, ROUND(score, 6),
       |  CAST(2 AS BIGINT) FROM p2
       |UNION ALL SELECT qid, cid, cosine, ROUND(score, 6),
       |  CAST(3 AS BIGINT) FROM p3""".stripMargin

  val oracles: Map[String, String] = Map(
    "s8_hybrid_search" ->
      s"""WITH uni AS (SELECT d.doc_id, d.text, e.embedding
         |             FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM uni),
         |toks2 AS (SELECT doc_id, t FROM toks WHERE length(t) > 0),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks2 GROUP BY 1, 2),
         |dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
         |nt AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ntot FROM tf),
         |w AS (SELECT t, (ntot * 1000) // df AS w FROM dft CROSS JOIN nt),
         |qt AS (SELECT doc_id AS qid, t, tf AS qtf FROM tf
         |       WHERE doc_id < $HybridQueries),
         |lex AS (SELECT qt.qid, tf.doc_id,
         |          CAST(SUM(qt.qtf * tf.tf * w.w) AS BIGINT) AS lex
         |        FROM tf JOIN qt ON tf.t = qt.t JOIN w ON tf.t = w.t
         |        WHERE tf.doc_id <> qt.qid GROUP BY 1, 2),
         |lexr AS (SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY lex DESC, doc_id) AS lex_rank
         |         FROM lex),
         |lext AS (SELECT qid, doc_id, lex_rank FROM lexr
         |         WHERE lex_rank <= $HybridSideN),
         |exu AS (SELECT u.doc_id AS vec_id, g.i AS d,
         |          CAST(u.embedding[g.i] AS DOUBLE) AS v
         |        FROM uni u, (SELECT unnest(range(1, 256)) AS i) g
         |        WHERE g.i <= len(u.embedding)),
         |normu AS (SELECT vec_id,
         |            sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
         |          FROM exu GROUP BY vec_id),
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM exu q JOIN exu c ON q.d = c.d
         |         WHERE q.vec_id < $HybridQueries AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2),
         |vecs AS (SELECT qid, cid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine
         |         FROM dots JOIN normu nq ON qid = nq.vec_id
         |         JOIN normu nc ON cid = nc.vec_id),
         |vecr AS (SELECT qid, cid AS doc_id, ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY cosine DESC, cid) AS vec_rank
         |         FROM vecs),
         |vect AS (SELECT qid, doc_id, vec_rank FROM vecr
         |         WHERE vec_rank <= $HybridSideN),
         |fused AS (SELECT COALESCE(l.qid, v.qid) AS qid,
         |            COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |            COALESCE(l.lex_rank, 0) AS lex_rank,
         |            COALESCE(v.vec_rank, 0) AS vec_rank,
         |            COALESCE(1000000000 // (60 + l.lex_rank), 0)
         |              + COALESCE(1000000000 // (60 + v.vec_rank), 0) AS rrf
         |          FROM lext l FULL OUTER JOIN vect v
         |            ON l.qid = v.qid AND l.doc_id = v.doc_id),
         |ranked AS (SELECT qid, doc_id, lex_rank, vec_rank, rrf,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY rrf DESC, doc_id) AS rank
         |           FROM fused)
         |SELECT qid, doc_id, lex_rank, vec_rank, rrf, rank
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "s1_knn_brute" ->
      s"""WITH $explodedSql,
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM ex q JOIN ex c ON q.d = c.d
         |         WHERE q.vec_id < $QueryCount AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2),
         |scored AS (SELECT qid, cid,
         |             ROUND(dot / (nq.nrm * nc.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms nq ON qid = nq.vec_id
         |           JOIN norms nc ON cid = nc.vec_id),
         |ranked AS (SELECT qid, cid, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cosine DESC, cid) AS rank
         |           FROM scored)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= $TopK""".stripMargin,
    // s1's pool CTEs + result-bounded pairwise sims + the three greedy
    // rounds unrolled (p1/m2/p2/m3/p3 in mmrTailSql) — same single-op
    // double arithmetic as the Spark side, ties by cid
    "s13_mmr_rerank" ->
      s"""WITH $explodedSql,
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM ex q JOIN ex c ON q.d = c.d
         |         WHERE q.vec_id < $QueryCount AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2),
         |scored AS (SELECT qid, cid,
         |             ROUND(dot / (nq.nrm * nc.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms nq ON qid = nq.vec_id
         |           JOIN norms nc ON cid = nc.vec_id),
         |pool AS (SELECT qid, cid, cosine FROM (
         |           SELECT qid, cid, cosine, ROW_NUMBER() OVER (
         |             PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |           FROM scored) WHERE rank <= $MmrPool),
         |$mmrTailSql""".stripMargin,
    // the serving composition: the IVF probe replay feeds the pool, then
    // the identical MMR tail — retrieve-from-index, re-rank
    "s13_mmr_indexed" ->
      s"""WITH $explodedSql,
         |${ivfScoredCtes("vec_id < 16")},
         |pool AS (SELECT qid, cid, cosine FROM (
         |           SELECT qid, cid, cosine, ROW_NUMBER() OVER (
         |             PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |           FROM scored) WHERE rank <= $MmrPool),
         |$mmrTailSql""".stripMargin,
    "s2_ann_lsh" ->
      s"""WITH $explodedSql,
         |planes AS (SELECT p.p, d.d,
         |             ((CAST(('0x'||substr(md5('plane_'||p.p||'_'||d.d),1,15)) AS BIGINT)
         |               % 2001) - 1000) / 1000.0 AS w
         |           FROM (SELECT unnest(range(0, $NumPlanes)) AS p) p,
         |                (SELECT unnest(range(1, 65)) AS d) d),
         |bits AS (SELECT vec_id, p,
         |           CASE WHEN SUM(CAST(v * w AS DECIMAL(30,15))) > 0
         |                THEN 1 ELSE 0 END AS bit
         |         FROM ex JOIN planes ON ex.d = planes.d
         |         GROUP BY vec_id, p),
         |buckets AS (SELECT vec_id,
         |              CAST(SUM(bit * (1 << p)) AS BIGINT) AS bucket
         |            FROM bits GROUP BY vec_id),
         |masks(m) AS (VALUES ${(0L +: (0 until NumPlanes).map(1L << _).toSeq)
                                 .map(m => s"($m)").mkString(", ")}),
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, bc.bucket,
         |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM ex q
         |         JOIN buckets bq ON q.vec_id = bq.vec_id
         |         JOIN masks ON true
         |         JOIN buckets bc ON bc.bucket = xor(bq.bucket, masks.m)
         |         JOIN ex c ON c.vec_id = bc.vec_id AND q.d = c.d
         |         WHERE q.vec_id < $QueryCount AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2, 3),
         |scored AS (SELECT qid, cid, bucket,
         |             ROUND(dot / (nq.nrm * nc.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms nq ON qid = nq.vec_id
         |           JOIN norms nc ON cid = nc.vec_id),
         |ranked AS (SELECT qid, cid, bucket, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cosine DESC, cid) AS rank
         |           FROM scored)
         |SELECT qid, cid, bucket, cosine, rank FROM ranked WHERE rank <= 3""".stripMargin,
    "s3_ann_ivf" -> ivfOracleSql,
    // the persisted index changes WHERE the assignment cost lands (one-time
    // layout vs every run), not the result — identical SQL is the point
    "s7_ann_ivf_indexed" -> ivfOracleSql,
    // incremental upsert ≡ from-scratch rebuild with the same frozen
    // centroids (the 16 lowest base ids — batch rows vec_id % 10 = 7 are
    // excluded from seeding, exactly as the Spark side freezes them)
    "s12_ann_index_upsert" ->
      ivfOracleSql("vec_id <= 16 AND vec_id % 10 <> 7"),
    // forget ≡ rebuild-without: same frozen 16 seeds, members and served
    // queries exclude the takedown slice
    "s14_index_forget" ->
      ivfOracleSql("vec_id < 16", s14SliceSql("vec_id")),
    // the census read off the persisted layout must equal the assignment
    // replayed from the corpus — members × 16 / total through exact
    // double division (both factors < 2^53) then the house 6-dp round
    "s15_index_stats" ->
      s"""WITH $explodedSql,
         |${ivfListsCtes("vec_id < 16")},
         |counts AS (SELECT centroid_id, COUNT(*) AS members
         |           FROM lists GROUP BY 1),
         |tot AS (SELECT CAST(SUM(members) AS DOUBLE) AS tot FROM counts)
         |SELECT c.centroid_id, CAST(c.members AS BIGINT) AS members,
         |       ROUND(c.members * 16.0 / t.tot, 6) + 0 AS load
         |FROM counts c, tot t""".stripMargin,
    // the argmin assignment replayed with its winning distance; inertia =
    // decimal sum of the 6-dp d2r; separation from the k² centroid pairs
    "c5_kmeans_elbow" -> {
      val ks = Seq(4, 8, 16)
      val perK = ks.map { k =>
        s"""cents$k AS (SELECT vec_id AS centroid_id, d, v FROM ex
           |             WHERE vec_id < $k),
           |d2$k AS (SELECT e.vec_id, c.centroid_id,
           |           ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
           |             AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
           |         FROM ex e JOIN cents$k c ON e.d = c.d
           |         GROUP BY 1, 2),
           |ra$k AS (SELECT vec_id, centroid_id, d2r,
           |           ROW_NUMBER() OVER (PARTITION BY vec_id
           |             ORDER BY d2r, centroid_id) AS cr
           |         FROM d2$k),
           |win$k AS (SELECT vec_id, centroid_id, d2r FROM ra$k WHERE cr = 1),
           |agg$k AS (SELECT CAST($k AS BIGINT) AS k,
           |            CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |            CAST(COUNT(DISTINCT centroid_id) AS BIGINT)
           |              AS used_centroids,
           |            SUM(CAST(d2r AS DECIMAL(30,15))) AS idec
           |          FROM win$k)""".stripMargin
      }.mkString(",\n")
      val unions = ks.map(k => s"SELECT * FROM agg$k").mkString(" UNION ALL ")
      s"""WITH $explodedSql,
         |$perK
         |SELECT k, n_vecs, used_centroids,
         |  ROUND(CAST(idec AS DOUBLE), 6) AS inertia,
         |  ROUND(CAST(idec AS DOUBLE) / n_vecs, 6) AS avg_d2
         |FROM ($unions)""".stripMargin
    },
    "c4_cluster_quality" ->
      s"""WITH $explodedSql,
         |cents AS (SELECT vec_id AS centroid_id, d, v FROM ex WHERE vec_id < 16),
         |d2 AS (SELECT e.vec_id, c.centroid_id,
         |         ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
         |           AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
         |       FROM ex e JOIN cents c ON e.d = c.d
         |       GROUP BY 1, 2),
         |ra AS (SELECT vec_id, centroid_id, d2r,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id
         |           ORDER BY d2r, centroid_id) AS cr
         |       FROM d2),
         |win AS (SELECT vec_id, centroid_id, d2r FROM ra WHERE cr = 1),
         |within AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         |             SUM(CAST(d2r AS DECIMAL(30,15))) AS idec
         |           FROM win GROUP BY centroid_id),
         |w2 AS (SELECT centroid_id, n_members,
         |         ROUND(CAST(idec AS DOUBLE), 6) AS inertia,
         |         ROUND(CAST(idec AS DOUBLE) / n_members, 6) AS avg_d2
         |       FROM within),
         |cd AS (SELECT a.centroid_id, b.centroid_id AS oid,
         |         ROUND(CAST(SUM(CAST((a.v - b.v) * (a.v - b.v)
         |           AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2o
         |       FROM cents a JOIN cents b
         |         ON a.d = b.d AND a.centroid_id <> b.centroid_id
         |       GROUP BY 1, 2),
         |sep AS (SELECT centroid_id, MIN(d2o) AS min_sep_d2 FROM cd
         |        GROUP BY centroid_id)
         |SELECT w2.centroid_id, w2.n_members, w2.inertia, w2.avg_d2,
         |  sep.min_sep_d2,
         |  ROUND(w2.avg_d2 / NULLIF(sep.min_sep_d2, 0), 6) AS dispersion_ratio
         |FROM w2 JOIN sep ON w2.centroid_id = sep.centroid_id""".stripMargin,
    "d5_embed_cosine_dup" ->
      s"""WITH $embedPairsCte
         |SELECT vec_a, vec_b, cosine FROM cos WHERE cosine >= $DupThreshold""".stripMargin,
    // transitive closure over the d5 near-dup graph; cluster = min
    // reachable vec_id (mirror of d6's clustering, embedding space)
    "d8_embed_clusters" ->
      s"""WITH RECURSIVE $embedPairsCte,
         |near AS (SELECT vec_a, vec_b FROM cos WHERE cosine >= $DupThreshold),
         |edges AS (SELECT vec_a AS a, vec_b AS b FROM near
         |          UNION ALL SELECT vec_b, vec_a FROM near),
         |reach(doc, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.doc = e.a)
         |SELECT doc AS vec_id, MIN(lbl) AS cluster_id,
         |  doc = MIN(lbl) AS keeper
         |FROM reach GROUP BY doc""".stripMargin,
    "c1_kmeans" ->
      s"""WITH $explodedSql,
         |cents AS (SELECT vec_id AS centroid_id, d, v FROM ex WHERE vec_id < 16),
         |d2 AS (SELECT e.vec_id, c.centroid_id,
         |         ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
         |           AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
         |       FROM ex e JOIN cents c ON e.d = c.d
         |       GROUP BY 1, 2),
         |ra AS (SELECT vec_id, centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id
         |           ORDER BY d2r, centroid_id) AS cr
         |       FROM d2),
         |lists AS (SELECT vec_id, centroid_id FROM ra WHERE cr = 1),
         |means AS (SELECT l.centroid_id, e.d, COUNT(*) AS n,
         |            CAST(SUM(CAST(e.v AS DECIMAL(30,15))) AS DOUBLE) AS sv
         |          FROM ex e JOIN lists l ON e.vec_id = l.vec_id
         |          GROUP BY 1, 2),
         |m2 AS (SELECT centroid_id, d, n, sv / n AS mean FROM means)
         |SELECT m.centroid_id, CAST(MAX(m.n) AS BIGINT) AS n_members,
         |  ROUND(CAST(SUM(CAST((m.mean - c.v) * (m.mean - c.v)
         |    AS DECIMAL(30,15))) AS DOUBLE), 6) AS shift
         |FROM m2 m JOIN cents c ON m.centroid_id = c.centroid_id AND m.d = c.d
         |GROUP BY m.centroid_id""".stripMargin,
    // farthest-point seeding unrolled to 8 rounds
    "c3_kmeans_seed" -> kppOracleSql(8),
    // three unrolled Lloyd rounds — float-quantized centroids between
    // rounds replay Spark's CAST(mean AS FLOAT) bit-for-bit
    "c6_kmeans_minibatch" ->
      s"""WITH $explodedSql,
         |cents_1 AS (SELECT vec_id AS centroid_id, d, v FROM ex WHERE vec_id < 16),
         |${minibatchRoundCte(1)},
         |${minibatchRoundCte(2)},
         |${minibatchRoundCte(3)}
         |SELECT o.centroid_id,
         |  CAST(COALESCE(MAX(m.n), 0) AS BIGINT) AS n_members,
         |  ROUND(CAST(SUM(CAST((n.v - o.v) * (n.v - o.v)
         |    AS DECIMAL(30,15))) AS DOUBLE), 6) AS shift
         |FROM cents_3 o
         |JOIN cents_4 n ON o.centroid_id = n.centroid_id AND o.d = n.d
         |LEFT JOIN m_3 m ON o.centroid_id = m.centroid_id AND o.d = m.d
         |GROUP BY o.centroid_id""".stripMargin,
    "c2_kmeans_lloyd" ->
      s"""WITH $explodedSql,
         |cents_1 AS (SELECT vec_id AS centroid_id, d, v FROM ex WHERE vec_id < 16),
         |${lloydRoundCte(1)},
         |${lloydRoundCte(2)},
         |${lloydRoundCte(3)}
         |SELECT m.centroid_id, CAST(MAX(m.n) AS BIGINT) AS n_members,
         |  ROUND(CAST(SUM(CAST((n.v - o.v) * (n.v - o.v)
         |    AS DECIMAL(30,15))) AS DOUBLE), 6) AS shift
         |FROM m_3 m
         |JOIN cents_4 n ON m.centroid_id = n.centroid_id AND m.d = n.d
         |JOIN cents_3 o ON m.centroid_id = o.centroid_id AND m.d = o.d
         |GROUP BY m.centroid_id""".stripMargin,
    "s5_ann_pq" ->
      s"""WITH $explodedSql,
         |sub AS (SELECT vec_id, CAST((d - 1) // 8 AS BIGINT) AS j, d, v FROM ex),
         |cents AS (SELECT vec_id AS code, j, d, v FROM sub WHERE vec_id < 16),
         |dist AS (SELECT s.vec_id, s.j, c.code,
         |           ROUND(CAST(SUM(CAST((s.v - c.v) * (s.v - c.v)
         |             AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2
         |         FROM sub s JOIN cents c ON s.j = c.j AND s.d = c.d
         |         GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id AS cid, j, code FROM (
         |            SELECT vec_id, j, code,
         |              ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |                ORDER BY d2, code) AS r
         |            FROM dist) WHERE r = 1),
         |adc AS (SELECT q.vec_id AS qid, c.cid,
         |          CAST(SUM(CAST(q.d2 AS DECIMAL(30,15))) AS DOUBLE) AS approx
         |        FROM codes c
         |        JOIN dist q ON q.j = c.j AND q.code = c.code
         |        WHERE q.vec_id < $QueryCount AND q.vec_id <> c.cid
         |        GROUP BY 1, 2),
         |cand AS (SELECT qid, cid FROM (
         |           SELECT qid, cid,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY approx, cid) AS cr
         |           FROM adc) WHERE cr <= 50),
         |dots AS (SELECT qid, cid,
         |           CAST(SUM(CAST(a.v * b.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM cand
         |         JOIN ex a ON qid = a.vec_id
         |         JOIN ex b ON cid = b.vec_id AND a.d = b.d
         |         GROUP BY 1, 2),
         |scored AS (SELECT qid, cid,
         |             ROUND(dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms na ON qid = na.vec_id
         |           JOIN norms nb ON cid = nb.vec_id),
         |ranked AS (SELECT qid, cid, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cosine DESC, cid) AS rank
         |           FROM scored)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 3""".stripMargin,
    // IVF probe selection (s3's CTEs) composed with PQ coding/ADC (s5's
    // CTEs) — the ADC join additionally passes through the probed lists
    "s9_ann_ivfpq" ->
      s"""WITH $explodedSql,
         |ivfc AS (SELECT vec_id AS centroid_id, d, v FROM ex WHERE vec_id < 16),
         |ivfd2 AS (SELECT e.vec_id, c.centroid_id,
         |            ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
         |              AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
         |          FROM ex e JOIN ivfc c ON e.d = c.d
         |          GROUP BY 1, 2),
         |ivfra AS (SELECT vec_id, centroid_id,
         |            ROW_NUMBER() OVER (PARTITION BY vec_id
         |              ORDER BY d2r, centroid_id) AS cr
         |          FROM ivfd2),
         |lists AS (SELECT vec_id AS cid, centroid_id FROM ivfra WHERE cr = 1),
         |probes AS (SELECT vec_id AS qid, centroid_id FROM ivfra
         |           WHERE vec_id < $QueryCount AND cr <= 2),
         |sub AS (SELECT vec_id, CAST((d - 1) // 8 AS BIGINT) AS j, d, v FROM ex),
         |pqc AS (SELECT vec_id AS code, j, d, v FROM sub WHERE vec_id < 16),
         |dist AS (SELECT s.vec_id, s.j, c.code,
         |           ROUND(CAST(SUM(CAST((s.v - c.v) * (s.v - c.v)
         |             AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2
         |         FROM sub s JOIN pqc c ON s.j = c.j AND s.d = c.d
         |         GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id AS cid, j, code FROM (
         |            SELECT vec_id, j, code,
         |              ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |                ORDER BY d2, code) AS r
         |            FROM dist) WHERE r = 1),
         |adc AS (SELECT q.vec_id AS qid, c.cid,
         |          CAST(SUM(CAST(q.d2 AS DECIMAL(30,15))) AS DOUBLE) AS approx
         |        FROM codes c
         |        JOIN lists l ON c.cid = l.cid
         |        JOIN probes p ON p.centroid_id = l.centroid_id
         |        JOIN dist q ON q.vec_id = p.qid AND q.j = c.j
         |          AND q.code = c.code
         |        WHERE p.qid <> c.cid
         |        GROUP BY 1, 2),
         |cand AS (SELECT qid, cid FROM (
         |           SELECT qid, cid,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY approx, cid) AS cr
         |           FROM adc) WHERE cr <= 50),
         |dots AS (SELECT qid, cid,
         |           CAST(SUM(CAST(a.v * b.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM cand
         |         JOIN ex a ON qid = a.vec_id
         |         JOIN ex b ON cid = b.vec_id AND a.d = b.d
         |         GROUP BY 1, 2),
         |scored AS (SELECT qid, cid,
         |             ROUND(dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms na ON qid = na.vec_id
         |           JOIN norms nb ON cid = nb.vec_id),
         |ranked AS (SELECT qid, cid, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cosine DESC, cid) AS rank
         |           FROM scored)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 3""".stripMargin,
    // per-dimension decimal-sum stats split by the batch membership tag
    "s11_embed_drift" ->
      s"""WITH $explodedSql,
         |b AS (SELECT doc_id FROM documents
         |      WHERE source IN ('src0','src1','src2','src3','src4')),
         |t AS (SELECT ex.d, ex.v,
         |        CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isb
         |      FROM ex LEFT JOIN b ON ex.vec_id = b.doc_id),
         |a AS (SELECT d,
         |        CAST(SUM(CASE WHEN isb = 0
         |          THEN CAST(v AS DECIMAL(30,15)) END) AS DOUBLE) AS rs,
         |        CAST(SUM(CASE WHEN isb = 0
         |          THEN CAST(v * v AS DECIMAL(30,15)) END) AS DOUBLE) AS rs2,
         |        COUNT(CASE WHEN isb = 0 THEN 1 END) AS rn,
         |        CAST(SUM(CASE WHEN isb = 1
         |          THEN CAST(v AS DECIMAL(30,15)) END) AS DOUBLE) AS bs,
         |        COUNT(CASE WHEN isb = 1 THEN 1 END) AS bn
         |      FROM t GROUP BY d),
         |m AS (SELECT d, rs / rn AS ref_mean0,
         |        sqrt((rs2 - rs * rs / rn) / rn) AS ref_std0,
         |        bs / bn AS batch_mean0
         |      FROM a)
         |SELECT d, ROUND(ref_mean0, 6) AS ref_mean,
         |  ROUND(ref_std0, 6) AS ref_std,
         |  ROUND(batch_mean0, 6) AS batch_mean,
         |  ROUND((batch_mean0 - ref_mean0) / ref_std0, 6) AS drift_smd
         |FROM m""".stripMargin,
    // s1's brute-force scan restricted to the predicate-eligible corpus
    "s10_filtered_knn" ->
      s"""WITH $explodedSql,
         |keep AS (SELECT doc_id FROM documents
         |         WHERE lang = 'en' AND n_chars >= 200),
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM ex q JOIN ex c ON q.d = c.d
         |         JOIN keep k ON c.vec_id = k.doc_id
         |         WHERE q.vec_id < $QueryCount AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2),
         |scored AS (SELECT qid, cid,
         |             ROUND(dot / (nq.nrm * nc.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms nq ON qid = nq.vec_id
         |           JOIN norms nc ON cid = nc.vec_id),
         |ranked AS (SELECT qid, cid, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cosine DESC, cid) AS rank
         |           FROM scored)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= $TopK""".stripMargin,
    "s4_ann_sq8" ->
      s"""WITH $explodedSql,
         |scales AS (SELECT vec_id, MAX(abs(v)) AS mabs FROM ex GROUP BY vec_id
         |           HAVING MAX(abs(v)) > 0),
         |qex AS (SELECT e.vec_id, e.d,
         |          CAST(round(e.v * 127.0 / s.mabs) AS BIGINT) AS q
         |        FROM ex e JOIN scales s USING (vec_id)),
         |qnorms AS (SELECT vec_id, sqrt(CAST(SUM(q * q) AS DOUBLE)) AS qn
         |           FROM qex GROUP BY vec_id),
         |idots AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
         |            CAST(SUM(a.q * b.q) AS BIGINT) AS idot
         |          FROM qex a JOIN qex b ON a.d = b.d
         |          WHERE a.vec_id < $QueryCount AND a.vec_id <> b.vec_id
         |          GROUP BY 1, 2),
         |approx AS (SELECT qid, cid,
         |             CAST(idot AS DOUBLE) / (na.qn * nb.qn) AS approx
         |           FROM idots
         |           JOIN qnorms na ON qid = na.vec_id
         |           JOIN qnorms nb ON cid = nb.vec_id),
         |cand AS (SELECT qid, cid FROM (
         |           SELECT qid, cid,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY approx DESC, cid) AS crank
         |           FROM approx)
         |         WHERE crank <= 20),
         |dots AS (SELECT qid, cid,
         |           CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM cand
         |         JOIN ex q ON qid = q.vec_id
         |         JOIN ex c ON cid = c.vec_id AND q.d = c.d
         |         GROUP BY 1, 2),
         |scored AS (SELECT qid, cid,
         |             ROUND(dot / (nq.nrm * nc.nrm), 6) + 0 AS cosine
         |           FROM dots
         |           JOIN norms nq ON qid = nq.vec_id
         |           JOIN norms nc ON cid = nc.vec_id),
         |ranked AS (SELECT qid, cid, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cosine DESC, cid) AS rank
         |           FROM scored)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 3""".stripMargin,
    // s1's brute top-3 (truth) LEFT JOIN s2's LSH top-3 (candidate) —
    // recall@3 per query; both CTE chains are the pinned s1/s2 forms
    "s6_ann_recall" ->
      s"""WITH $explodedSql,
         |planes AS (SELECT p.p, d.d,
         |             ((CAST(('0x'||substr(md5('plane_'||p.p||'_'||d.d),1,15)) AS BIGINT)
         |               % 2001) - 1000) / 1000.0 AS w
         |           FROM (SELECT unnest(range(0, $NumPlanes)) AS p) p,
         |                (SELECT unnest(range(1, 65)) AS d) d),
         |bits AS (SELECT vec_id, p,
         |           CASE WHEN SUM(CAST(v * w AS DECIMAL(30,15))) > 0
         |                THEN 1 ELSE 0 END AS bit
         |         FROM ex JOIN planes ON ex.d = planes.d
         |         GROUP BY vec_id, p),
         |buckets AS (SELECT vec_id,
         |              CAST(SUM(bit * (1 << p)) AS BIGINT) AS bucket
         |            FROM bits GROUP BY vec_id),
         |masks(m) AS (VALUES ${(0L +: (0 until NumPlanes).map(1L << _).toSeq)
                                 .map(m => s"($m)").mkString(", ")}),
         |bdots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |            CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |          FROM ex q JOIN ex c ON q.d = c.d
         |          WHERE q.vec_id < $QueryCount AND q.vec_id <> c.vec_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT qid, cid FROM (
         |            SELECT qid, cid,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
         |                ROUND(dot / (nq.nrm * nc.nrm), 6) DESC, cid) AS rank
         |            FROM bdots
         |            JOIN norms nq ON qid = nq.vec_id
         |            JOIN norms nc ON cid = nc.vec_id) WHERE rank <= 3),
         |ldots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |            CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |          FROM ex q
         |          JOIN buckets bq ON q.vec_id = bq.vec_id
         |          JOIN masks ON true
         |          JOIN buckets bc ON bc.bucket = xor(bq.bucket, masks.m)
         |          JOIN ex c ON c.vec_id = bc.vec_id AND q.d = c.d
         |          WHERE q.vec_id < $QueryCount AND q.vec_id <> c.vec_id
         |          GROUP BY 1, 2),
         |lsh AS (SELECT qid, cid FROM (
         |          SELECT qid, cid,
         |            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
         |              ROUND(dot / (nq.nrm * nc.nrm), 6) DESC, cid) AS rank
         |          FROM ldots
         |          JOIN norms nq ON qid = nq.vec_id
         |          JOIN norms nc ON cid = nc.vec_id) WHERE rank <= 3)
         |SELECT t.qid,
         |  CAST(SUM(CASE WHEN l.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  ROUND(SUM(CASE WHEN l.cid IS NOT NULL THEN 1 ELSE 0 END) / 3.0, 6)
         |    AS recall_at_3
         |FROM truth t
         |LEFT JOIN lsh l ON t.qid = l.qid AND t.cid = l.cid
         |GROUP BY t.qid""".stripMargin,
    "d7_semdedup" ->
      s"""WITH $explodedSql,
         |cents AS (SELECT vec_id AS centroid_id, d, v FROM ex WHERE vec_id < 16),
         |d2 AS (SELECT e.vec_id, c.centroid_id,
         |         ROUND(CAST(SUM(CAST((e.v - c.v) * (e.v - c.v)
         |           AS DECIMAL(30,15))) AS DOUBLE), 6) AS d2r
         |       FROM ex e JOIN cents c ON e.d = c.d
         |       GROUP BY 1, 2),
         |ra AS (SELECT vec_id, centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id
         |           ORDER BY d2r, centroid_id) AS cr
         |       FROM d2),
         |lists AS (SELECT vec_id, centroid_id FROM ra WHERE cr = 1),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |            a.centroid_id AS cluster_id
         |          FROM lists a JOIN lists b ON a.centroid_id = b.centroid_id
         |            AND a.vec_id < b.vec_id),
         |dots AS (SELECT vec_a, vec_b, MIN(cluster_id) AS cluster_id,
         |           CAST(SUM(CAST(x.v * y.v AS DECIMAL(30,15))) AS DOUBLE) AS dot
         |         FROM pairs
         |         JOIN ex x ON vec_a = x.vec_id
         |         JOIN ex y ON vec_b = y.vec_id AND x.d = y.d
         |         GROUP BY 1, 2),
         |scored AS (SELECT cluster_id, vec_a, vec_b,
         |             ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
         |           FROM dots
         |           JOIN norms na ON vec_a = na.vec_id
         |           JOIN norms nb ON vec_b = nb.vec_id
         |           WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= $DupThreshold),
         |dropped AS (SELECT vec_b AS vec_id, MIN(cluster_id) AS cluster_id,
         |              MIN(vec_a) AS dup_of
         |            FROM scored GROUP BY vec_b)
         |SELECT d.vec_id, d.cluster_id, d.dup_of, s.cosine
         |FROM dropped d
         |JOIN scored s ON d.vec_id = s.vec_b AND d.dup_of = s.vec_a""".stripMargin)
}
