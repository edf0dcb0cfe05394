package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transport-path queries: drive the `.ss` DataSource end-to-end inside the
  * correctness gate. Each query replays the `events` table through the
  * envelope (write → read → decode payload → aggregate) so the DuckDB oracle
  * on the raw parquet checks the whole codec + source/sink path.
  */
object Transport {

  private[analytics] def scratch(dir: String, tag: String): String =
    s"/tmp/graft/${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** events → envelope rows (key = event_type, shard = user_id % 4,
    * seq = event_id, payload = JSON of (event_id, value)).
    */
  private[analytics] val eventTypes =
    Seq("click", "view", "purchase", "signup", "error")

  private[analytics] def envelopeOf(t: Tables): DataFrame =
    t.events.select(
      col("event_type").as("stream_key"),
      pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
      col("event_id").as("sequence"),
      col("ts").as("timestamp"),
      to_json(struct(col("event_id"), col("value"))).cast("binary").as("payload"))

  /** Near-dup dedup AT INGEST: MinHash-LSH (d3's signature scheme) as a
    * stateful stream — every band bucket keeps the min doc_id it has ever
    * seen, later colliders are emitted as duplicates, survivors feed the
    * corpus. This is the production shape for training-data ingestion: the
    * corpus-scale near-dup join (d3) runs ONCE to seed state; from then on
    * each new document costs only its own signature rows against keyed
    * state. The keeper law is ARRIVAL-ORDER-INDEPENDENT: a bucket's keeper
    * is the min doc_id ever seen; a batch emits its ids above the merged
    * min, plus the previous keeper if the batch dethroned it. Every id is
    * emitted at most once per bucket (a doc signs each band once and
    * arrives once; the dethroned keeper was never emitted before), so the
    * final dup set — everything but each bucket's global min — is the same
    * under any sharding, interleaving, or batch split. The ingest log is
    * therefore written across `shards` shards in scrambled order, and the
    * LSH-bucket state itself is hash-partitioned across executors, which
    * is where the scale lives.
    *
    * Signatures are computed per-ROW (Spark allows one stateful op per
    * stream, so no pre-state aggregation) by the same kernels as d3's
    * signature table — `sea_minhash(sea_word_shingles(text))` — so the
    * DuckDB oracle replays them bit-for-bit. Documents under 3 tokens sign
    * nothing (null minima explode to no rows) and always survive.
    *
    * @return distinct doc_ids flagged as duplicates (keepers absent)
    */
  private[analytics] def streamLshDupIds(docs: org.apache.spark.sql.DataFrame,
      out: String, cap: Long, sinkName: String,
      shards: Int = 4): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    // sharded ingest in scrambled (hash) order — the keeper law above makes
    // the outcome independent of how the log interleaves or splits
    docs.select(
      lit("doc").as("stream_key"),
      pmod(col("doc_id"), lit(shards.toLong)).as("shard_id"),
      col("doc_id").as("sequence"),
      expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
      to_json(struct(col("doc_id"), col("text"))).cast("binary").as("payload"))
      .orderBy(xxhash64(col("doc_id")))
      .write.format("ss").mode("overwrite").save(out)
    val k = graft.functions.DedupKernels
    val sigRows = s.readStream.format("ss")
      .option("maxMessagesPerTrigger", cap.toString)
      .load(out)
      .withColumn("j", from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING")))
      .select(col("j.doc_id").as("doc_id"),
        posexplode(k.minhash(k.wordShingles(col("j.text"))))
          .as(Seq("band", "mh")))
      .as[(Long, Int, Long)]
    val dups = sigRows.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OM.Append(), GroupStateTimeout.NoTimeout())(
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
            state: GroupState[Long]) => {
          // order-free keeper law: keeper = min id ever seen; emit the
          // batch's ids above the merged min, plus the old keeper if this
          // batch dethroned it (it was never emitted while it reigned)
          val ids = rows.map(_._1).toArray
          val prev = state.getOption
          val m = math.min(prev.getOrElse(Long.MaxValue), ids.min)
          state.update(m)
          (ids.iterator.filter(_ > m) ++
            prev.iterator.filter(_ > m)).map(Tuple1(_))
        })
    val q = dups.toDF("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sinkName).select("doc_id").distinct()
  }

  /** `distinct` is batch-only in streaming aggs, so it's optional here. */
  private[analytics] def aggregate(envelope: DataFrame, withDistinct: Boolean): DataFrame = {
    val base = envelope
      .withColumn("j",
        from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL("event_id LONG, value DOUBLE")))
      .groupBy("stream_key")
    val common = Seq(
      count(lit(1)).as("n"),
      sum(col("j.value").cast("decimal(18,2)")).cast("double").as("sum_value"),
      max(col("j.event_id")).as("max_event_id"))
    val aggs =
      if (withDistinct) common :+ countDistinct(col("shard_id")).as("n_shards")
      else common
    base.agg(aggs.head, aggs.tail: _*)
  }

  private[analytics] def aggregateOracle(withDistinct: Boolean) = {
    val distinctCol =
      if (withDistinct) ",\n  CAST(COUNT(DISTINCT user_id % 4) AS BIGINT) AS n_shards"
      else ""
    s"""SELECT event_type AS stream_key, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       |  MAX(event_id) AS max_event_id$distinctCol
       |FROM events GROUP BY event_type""".stripMargin
  }

  /** t20's streaming half (the index must already exist — `Dedup.d14Build`
    * or an append-grown layout): near-dup admission AT INGEST against the
    * PERSISTED dedup index.
    *
    * Per arriving doc the 8 permutation minima are computed STATELESSLY by
    * the signature table's kernels and banded by [[Dedup.d14BandKeys]] at
    * the stored index's own r (the meta table [[Dedup.d14Rebuild]]
    * maintains) — the one band-key rule, so the stream's keys are the
    * stored table's keys by construction. They are thinned by a bloom
    * built over the STORED band keys (index-sized, no false negatives — a
    * key the bloom rejects is definitively absent from the index) and
    * joined stream-static against the bucketed band table through
    * [[Dedup.bandCandJoin]]: the static side reads its bucket layout with
    * NO exchange (PlanShapeSpec law — only the stream side repartitions,
    * into the bucket count). The streaming stage carries ZERO state
    * (stateless projection + join, append mode): a doc is one message, so
    * its collision rows are final within its own micro-batch, and every
    * sink row is a bounded-width candidate pair (doc_id, ref_id), never
    * payload-derived data (the sf10 lesson: shipping shingle arrays
    * through the sink is a driver-heap bomb).
    *
    * The verify + verdict finish runs batch-side and is d14Query's own
    * ([[Dedup.matchVerdict]]): the candidate docs' signature rows are
    * computed from the log restricted to the sliver (the bytes are at
    * rest; an object-store re-read of the hit sliver is what a production
    * admission gate does) and merged against the index's stored signature
    * table, and the spine is every doc of the log. The result must equal
    * d14Query bit-for-bit: the oracle is d14_dedup_index's SQL verbatim
    * (the t15–t18 streaming ≡ batch discipline).
    */
  private[graft] def t20IndexDedupStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    val out = scratch(dir, "t20idx")
    val t = Tables(s, dir)
    val batchDocs = t.documents.filter(col("source")
      .isin("src0", "src1", "src2", "src3", "src4"))
    batchDocs.select(
        col("source").as("stream_key"),
        pmod(col("doc_id"), lit(4L)).as("shard_id"),
        col("doc_id").as("sequence"),
        expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
        to_json(struct(col("doc_id"), col("source"), col("text")))
          .cast("binary").as("payload"))
      .write.format("ss").mode("overwrite").save(out)
    val bandsTable = Dedup.d14Table("d14_ref_bands", dir)
    val idxR = Dedup.d14IndexR(s, dir)
    // bloom over the STORED band keys — one aggregation over the bucket
    // layout (index-sized, not corpus-sized); the blob rides the stream
    // plan as a literal (t18's pattern; a cluster run would broadcast it)
    val nBands = s.table(bandsTable).count()
    val blob = s.table(bandsTable)
      .agg(graft.functions.BloomFunctions
        .bloomAgg(xxhash64(col("bk")), nBands, nBands * 8L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // ~4 micro-batches at any scale (the t15–t19 no-floor discipline)
    val cap = math.max(1L, batchDocs.count() / 4)
    val k = graft.functions.DedupKernels
    def parsed(log: DataFrame) = log
      .select(from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, source STRING, text STRING")).as("j"))
      .select(col("j.doc_id").as("doc_id"), col("j.source").as("source"),
        col("j.text").as("text"))
    // the signature table's minima, per row; an empty doc signs nothing
    // (null minima → null band keys, dropped before the probe)
    val sig = parsed(s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out))
      .select(col("doc_id"), k.minhash(k.wordShingles(col("text"))).as("mh"))
      .select(col("doc_id") +: Dedup.MinhashParams.indices
        .map(i => col("mh")(i).as(s"mh$i")): _*)
    val probed = Dedup.d14BandKeys(sig, "doc_id", idxR)
      .filter(col("bk").isNotNull && graft.functions.BloomFunctions
        .mightContain(lit(blob), xxhash64(col("bk"))))
    val cand = Dedup.bandCandJoin(probed, s.table(bandsTable).hint("merge"),
        idxR)
      .select(col("doc_id"), col("ref_id"))
    val q = cand.writeStream.outputMode("append")
      .format("memory").queryName("t20_idx_sink").start()
    try { q.processAllAvailable(); inspect(q) } finally q.stop()
    // batch-side finish: localCheckpoint severs the finished stream's
    // MemoryPlan out of the lineage — the pairs are read by TWO branches
    // (the sliver filter and the verify) that re-join on doc_id, and
    // MemoryPlan is not self-join-deduplicable the way table relations
    // are (conflicting-reference analysis failure)
    val pairs = s.table("t20_idx_sink").localCheckpoint(true).distinct()
    val log = parsed(s.read.format("ss").load(out))
    // the sliver docs' signatures, straight from the log bytes (shuffled
    // semi-join — the sliver is batch-fraction-sized but corpus-unbounded)
    val sigC = Dedup.signatures(log.join(
      pairs.select("doc_id").distinct().hint("shuffle_hash"),
      Seq("doc_id"), "left_semi"))
    Dedup.matchVerdict(log, pairs, sigC, Dedup.refSignatures(s, dir))
  }

  /** t21 — streaming ANN SERVE against the persisted IVF index: t20 is
    * the ingest half of a production vector system (admit documents
    * against the stored index), this is the QUERY half — serve requests
    * arrive as a stream and each micro-batch runs EXACTLY
    * s13_mmr_indexed's retrieve-then-re-rank plan (`foreachBatch`, so the
    * per-batch plan is a BATCH plan and the DPP partition pruning on the
    * index scan applies — a stream-static join could not prune). The
    * request carries the query id; the vector joins from the static
    * embeddings table (the feature-store lookup a serving request makes).
    * MMR is per-qid independent, so serving a PARTITION of the queries
    * equals the batch serve restricted to it — after end-of-log the
    * accumulated results must equal [[Similarity.s13IndexedServe]]
    * bit-for-bit: the oracle is s13_mmr_indexed's SQL verbatim (the
    * t15–t20 streaming ≡ batch discipline). The streaming stage carries
    * ZERO state; per-batch work is (batch × probes/K of the corpus) +
    * result-bounded re-rank — the serve cost tracks the REQUEST rate,
    * never the corpus.
    */
  private[graft] def t21QueryServeStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => (),
      inspectServe: org.apache.spark.sql.DataFrame => Unit = _ => ())
      : org.apache.spark.sql.DataFrame = {
    // the s7 layout must ALREADY exist (the registry entry and Bench
    // build it untimed) — rebuilding here would charge the corpus-sized
    // one-time build to every serve receipt
    val out = scratch(dir, "t21serve")
    val results = scratch(dir, "t21served")
    val n = Similarity.standardQueryCount.toLong
    s.range(n).select(
        lit("queries").as("stream_key"), lit(0L).as("shard_id"),
        col("id").as("sequence"),
        expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
        to_json(struct(col("id").as("qid"))).cast("binary").as("payload"))
      .write.format("ss").mode("overwrite").save(out)
    // small query set, still ≥2 genuine micro-batch boundaries (the
    // t15–t20 no-floor discipline scaled to a request stream)
    val cap = math.max(1L, n / 4)
    val src = s.readStream.format("ss")
      .option("maxMessagesPerTrigger", cap.toString)
      .load(out)
      .select(from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL("qid LONG")).as("j"))
      .select(col("j.qid"))
    // a stale results dir from a prior run must not leak into the append
    val fs = new org.apache.hadoop.fs.Path(results)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(results), true)
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: java.lang.Long) =>
        if (!b.isEmpty) {
          // inspectServe sees the LAZY serve plan (the DPP law hook);
          // the returned frame is already materialized + pool-freed
          val served = Similarity.s13ServeQueryIds(s, dir, b, inspectServe)
          served.write.mode("append").parquet(results)
        }
      }.start()
    try { q.processAllAvailable(); inspect(q) } finally q.stop()
    s.read.parquet(results)
  }

  /** t22 — the full streaming INGEST loop over the persisted dedup index:
    * t20 admits arriving documents against the stored index but never
    * grows it; production ingest does both — each micro-batch's verdicts
    * are computed against the CURRENT index and its accepted (novel)
    * documents are appended ([[Dedup.d14Append]], O(accepted)), so later
    * batches dedup against earlier batches' survivors. `foreachBatch`
    * makes each trigger a batch plan (the t21 pattern): the admission
    * cascade is [[Dedup.d14QueryFrame]] — index side exchange-free off
    * its buckets, batch side one batch-sized shuffle — and the verdict is
    * checkpoint-severed BEFORE the append so the lazy plan can never
    * observe its own wave's writes.
    *
    * The two waves arrive as real arrival-time micro-batches (wave 2 is
    * appended to the live-tailed log after wave 1's trigger completes),
    * so after end-of-log the accumulated verdicts must equal the batch
    * two-wave cascade recomputed from scratch — d14_upsert's law at
    * ingest; the oracle extends that SQL to emit BOTH waves' verdicts.
    */
  private[graft] def t22IndexGrowStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    val out = scratch(dir, "t22grow")
    val results = scratch(dir, "t22grown")
    val t = Tables(s, dir)
    def wave(sources: Seq[String]) = t.documents
      .filter(col("source").isin(sources: _*))
      .select(
        lit("ingest").as("stream_key"),
        pmod(col("doc_id"), lit(4L)).as("shard_id"),
        col("doc_id").as("sequence"),
        expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
        to_json(struct(col("doc_id"), col("source"), col("text")))
          .cast("binary").as("payload"))
    wave(Seq("src0", "src1")).write.format("ss")
      .mode("overwrite").save(out)
    val fs = new org.apache.hadoop.fs.Path(results)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(results), true)
    val src = s.readStream.format("ss").load(out)
      .select(from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, source STRING, text STRING")).as("j"))
      .select(col("j.doc_id"), col("j.source"), col("j.text"))
    // the loop MUTATES the index, so an epoch replay after a crash would
    // re-append wave survivors (duplicated index rows) — the marker
    // ledger skips every COMPLETED epoch on replay (at-least-once with
    // idempotent skip: a crash in the window between the verdict/append
    // writes and the marker rename re-runs the body once, the residual
    // window ExactlyOnce's contract documents; the kafka transactional
    // producer closes even that window by making the marker and the
    // writes one atomic commit — see KafkaTxnProducer)
    val ledger = scratch(dir, "t22ledger")
    val fs2 = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs2.delete(new org.apache.hadoop.fs.Path(ledger), true)
    val body: (DataFrame, Long) => Unit = (b, _) =>
      if (!b.isEmpty) {
        // admission against the index AS OF this trigger; d14QueryFrame
        // returns the verdict already materialized + lineage-severed, so
        // the append below can never be observed by the plan that read
        // the pre-append tables
        val verdict = Dedup.d14QueryFrame(s, dir, b)
        // the results write commits STRICTLY BEFORE the index append
        // (ADVICE r19 — the r19 overlap of these two jobs widened the
        // at-least-once window into a WRONG-ROWS window: if the append
        // fully committed while the results write did not, the epoch
        // replay recomputes verdicts against the already-grown index and
        // the wave's docs self-match, so the results parquet gets
        // novel=false/match_id=self rows instead of the sequential form's
        // duplicate-but-correct rows). Results-first restores the only
        // residual window to replay-after-results-committed, whose rerun
        // appends the identical survivor set — duplicate index files,
        // correct rows, ExactlyOnce's documented contract. The append's
        // three table writes still overlap internally (d14Append §2.6).
        verdict.write.mode("append").parquet(results)
        Dedup.d14Append(s, dir,
          verdict.filter(col("novel")).select("doc_id"))
      }
    val wrapped = graft.ops.ExactlyOnce.epochOnce(ledger)(body)
    // one checkpointed query RUN per wave, published while no query is
    // polling (t29's fix, applied here for the same reason): the `.ss`
    // publish renames part files sequentially, so a continuously-running
    // trigger could admit a PREFIX of a mid-publish wave as its own
    // micro-batch — splitting one wave's admission into two index-growth
    // steps and diverging from the two-wave oracle. The checkpoint
    // carries committed offsets (and batch ids, which key the ledger)
    // across the restarts, so each run's single trigger is exactly the
    // newly-published wave.
    val ckpt = scratch(dir, "t22ckpt")
    val fsC = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsC.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    def drainWave(): Unit = {
      val q = src.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: java.lang.Long) =>
          wrapped(b.toDF(), id)
        }.start()
      try { q.processAllAvailable(); inspect(q) } finally q.stop()
    }
    drainWave() // run 1 = wave 1 (the log's content now)
    wave(Seq("src2", "src3", "src4")).write.format("ss")
      .mode("append").save(out)
    drainWave() // run 2 = wave 2 (the appended tail)
    s.read.parquet(results)
  }

  /** t30 — p26's n-gram eval-decontamination VERDICT gate at ingest (see
    * the registry entry's doc): eval windows + bloom build batch-side,
    * arriving docs window themselves statelessly, bloom survivors confirm
    * against the static window set, per-doc hit counts accumulate in
    * update mode (state O(contaminated sliver)), and the shared
    * [[Pipeline.decontamVerdict]] runs batch-side over a spine re-read
    * from the log bytes (t20's pattern). Verdicts ≡ p26 after end-of-log.
    */
  private[graft] def t30DecontamStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    val t = Tables(s, dir)
    val out = scratch(dir, "t30decon")
    val docs = t.documents
    val winExpr = "transform(sequence(0, least(size(tok)-8, 1022)), " +
      "i -> concat_ws(' ', slice(tok, i+1, 8)))"
    val bench = docs
      .filter(pmod(col("doc_id"), lit(Pipeline.DecontamEvalMod)) === 0L)
      .select(split(col("text"), " ").as("tok"))
      .filter(size(col("tok")) >= 8)
      .select(explode(expr(winExpr)).as("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = math.max(1L, bench.count())
    val blob = bench.agg(graft.functions.BloomFunctions
      .bloomAgg(xxhash64(col("s")), nBench, nBench * 8L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val streamed = docs
      .filter(pmod(col("doc_id"), lit(Pipeline.DecontamEvalMod)) =!= 0L)
    streamed.select(
        col("source").as("stream_key"),
        pmod(col("doc_id"), lit(4L)).as("shard_id"),
        col("doc_id").as("sequence"),
        expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
        to_json(struct(col("doc_id"), col("source"), col("text")))
          .cast("binary").as("payload"))
      .write.format("ss").mode("overwrite").save(out)
    val cap = math.max(1L, streamed.count() / 4)
    val payloadSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, source STRING, text STRING")
    val hits = s.readStream.format("ss")
      .option("maxMessagesPerTrigger", cap.toString)
      .load(out)
      .select(from_json(col("payload").cast("string"), payloadSchema)
        .as("j"))
      .select(col("j.doc_id").as("doc_id"),
        split(col("j.text"), " ").as("tok"))
      .filter(size(col("tok")) >= 8)
      .select(col("doc_id"),
        explode(array_distinct(expr(winExpr))).as("s"))
      .filter(graft.functions.BloomFunctions
        .mightContain(lit(blob), xxhash64(col("s"))))
      .join(bench.hint("shuffle_hash"), Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
    val q = hits.writeStream.outputMode("update")
      .format("memory").queryName("t30_decon_sink").start()
    try { q.processAllAvailable(); inspect(q) } finally q.stop()
    // the eval window set's last consumer is the stream's confirm join —
    // free it here (the batch finish below reads only the sink + log);
    // leaving one cached eval frame per ingest run is the leak class
    // ADVICE r12 flagged on d14QueryFrame
    bench.unpersist()
    // batch-side finish: each group's final cumulative count = its max
    // emission; the spine + per-doc DISTINCT window count re-derive
    // from the log bytes in one stateless pass
    val sink = s.table("t30_decon_sink")
      .groupBy("doc_id").agg(max(col("n_contam")).as("n_contam"))
    val spine = s.read.format("ss").load(out)
      .select(from_json(col("payload").cast("string"), payloadSchema)
        .as("j"))
      .select(col("j.doc_id").as("doc_id"), col("j.source").as("source"),
        split(col("j.text"), " ").as("tok"))
      .withColumn("n_windows",
        when(size(col("tok")) >= 8,
          size(array_distinct(expr(winExpr))).cast("long"))
          .otherwise(lit(0L)))
      .select("doc_id", "source", "n_windows")
    Pipeline.decontamVerdict(spine, sink)
  }

  /** t29 — c6's mini-batch k-means with the MODEL UPDATE maintained at
    * ingest (the training-at-ingest ladder complete: t19 runs INFERENCE
    * at ingest against frozen centroids, t22 grows an INDEX at ingest,
    * t29 trains the MODEL itself): each arriving wave IS the mini-batch —
    * Sculley's online form is exactly "update centers on each arriving
    * batch" — so the three salted samples c6 draws by hash arrive as
    * three real arrival-time micro-batches. Per trigger the body runs
    * EXACTLY [[Similarity.kmeansRound]] (batch ids join their vectors
    * from the static corpus — t21's feature-store lookup), carries
    * untouched centers forward by [[Similarity.minibatchCarry]], and the
    * model lives across triggers as a k-row localCheckpoint: state is
    * O(K×dims) at ANY corpus size, and every trigger's plan is the
    * constant c2/c6 round shape. After end-of-log the model stats must
    * equal the batch mini-batch run bit-for-bit — the oracle is
    * c6_kmeans_minibatch's SQL VERBATIM (the t15–t28 streaming ≡ batch
    * discipline applied to training itself).
    */
  private[graft] def t29KmeansStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => (),
      inspectModel: DataFrame => Unit = _ => ()): DataFrame = {
    val out = scratch(dir, "t29km")
    val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    // wave r carries only the arriving vec ids; sequence is offset per
    // wave so the live-tailed log stays append-monotone even when a
    // vector recurs in a later sample
    def wave(r: Int) = Similarity.minibatchSample(e, r).select(
      lit("train").as("stream_key"),
      pmod(col("vec_id"), lit(4L)).as("shard_id"),
      (lit(r * 1000000000L) + col("vec_id")).as("sequence"),
      expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
      to_json(struct(col("vec_id"))).cast("binary").as("payload"))
    wave(1).write.format("ss").mode("overwrite").save(out)
    var cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb"))
      .localCheckpoint()
    var lastOut: DataFrame = null
    val src = s.readStream.format("ss").load(out)
      .select(from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL("vec_id LONG")).as("j"))
      .select(col("j.vec_id"))
    // one checkpointed query RUN per wave (publish while no query is
    // polling): the `.ss` publish renames part files sequentially, so a
    // continuously-running trigger could admit a PREFIX of a mid-publish
    // wave as its own micro-batch — splitting one mini-batch into two
    // model updates and diverging from c6. The checkpoint carries the
    // committed offset across restarts, so each run's single trigger is
    // exactly the newly-published wave.
    val ckpt = scratch(dir, "t29ckpt")
    val fsC = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsC.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    def drainWave(): Unit = {
      var fired = false
      val q = src.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: java.lang.Long) =>
          if (!b.isEmpty) {
            fired = true
            val batch = b.join(e, "vec_id")
            // ONE eager k-row checkpoint runs the heavy round lineage
            // once; stats and carry both derive from it (k-row joins)
            val ro = Similarity.kmeansRound(batch, cents)
              .localCheckpoint(true)
            // the round's stats against the PRE-update model — c6's
            // output contract for its final round
            lastOut = Similarity.minibatchStats(cents, ro)
            inspectModel(cents)
            cents = Similarity.minibatchCarry(cents, ro).localCheckpoint(true)
          }
        }.start()
      try { q.processAllAvailable(); inspect(q) } finally q.stop()
      // an empty wave is still a ROUND to c6: every center untouched,
      // zero members, zero shift (minibatchStats' coalesce on an empty
      // round) — mirror that so stream ≡ batch holds on any corpus
      if (!fired)
        lastOut = cents.select(col("centroid_id"),
          lit(0L).as("n_members"), lit(0.0).as("shift"))
    }
    drainWave() // run 1 = wave 1 (the log's content now)
    for (r <- 2 to 3) {
      wave(r).write.format("ss").mode("append").save(out)
      drainWave() // run r = wave r (the appended tail)
    }
    lastOut
  }

  /** t23 — p23's quality gate AT INGEST: the classifier trains batch-side
    * over the seed sources and its artifacts persist (the vocabulary
    * table as parquet — the "ship the model to the gate" step; the 3-long
    * stats row as literals), then arriving documents score per
    * micro-batch through EXACTLY [[Pipeline.p23Score]]'s expression
    * (`foreachBatch`, so each trigger is a batch plan and the
    * vocabulary join is a plain shuffled equi-join against the stored
    * model). Zero streaming state — a document's tokens arrive inside
    * its own payload row, so the per-doc aggregation never crosses a
    * trigger boundary. After end-of-log the accumulated scores must
    * equal the batch classifier bit-for-bit: the oracle is p23's SQL
    * VERBATIM (the t15–t22 streaming ≡ batch discipline).
    */
  private[graft] def t23QualityGateStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    val out = scratch(dir, "t23gate")
    val results = scratch(dir, "t23scored")
    val model = scratch(dir, "t23model")
    // train once, persist the model artifact (vocabulary-sized — a table,
    // never a literal; the stats row IS 3 longs, the legitimate literal)
    val (vocab, stats) = Pipeline.p23Train(s, dir)
    vocab.write.mode("overwrite").parquet(model)
    val statsRow = stats.head()
    val statsLit = s.range(1).select(
      lit(statsRow.getLong(0)).as("np"),
      lit(statsRow.getLong(1)).as("nn"),
      lit(statsRow.getLong(2)).as("v"))
    val t = Tables(s, dir)
    t.documents.filter(!col("source").isin(Pipeline.P23Seeds: _*))
      .select(
        lit("ingest").as("stream_key"),
        pmod(col("doc_id"), lit(4L)).as("shard_id"),
        col("doc_id").as("sequence"),
        expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
        to_json(struct(col("doc_id"), col("source"), col("text")))
          .cast("binary").as("payload"))
      .write.format("ss").mode("overwrite").save(out)
    val fs = new org.apache.hadoop.fs.Path(results)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(results), true)
    // ~4 genuine micro-batches at any scale (the t-family no-floor rule)
    val cap = math.max(1L,
      t.documents.filter(!col("source").isin(Pipeline.P23Seeds: _*))
        .count() / 4)
    val src = s.readStream.format("ss")
      .option("maxMessagesPerTrigger", cap.toString)
      .load(out)
      .select(from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, source STRING, text STRING")).as("j"))
      .select(col("j.doc_id"), col("j.source"), col("j.text"))
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: java.lang.Long) =>
        if (!b.isEmpty) {
          val toks = Pipeline.p23Tokens(b.toDF())
          Pipeline.p23Score(toks, s.read.parquet(model), statsLit)
            .write.mode("append").parquet(results)
        }
      }.start()
    try { q.processAllAvailable(); inspect(q) } finally q.stop()
    s.read.parquet(results)
  }

  /** t24 — multimodal ingest: m1's decode-and-validate pass maintained at
    * arrival time, completing the streaming ≡ batch matrix across every
    * family (text t13–t18, index t20/t22, quality t23, media here). The
    * envelope's BINARY payload column is the natural home for opaque
    * media — the PNG/WAV bytes ride the stream as-is, and each
    * micro-batch decodes them with the SAME real codecs as the batch op
    * ([[Multimodal.decodeBatch]], mapPartitions byte-level work — the one
    * sanctioned mapPartitions class). Zero streaming state; per-record
    * metadata appends to the results table and the end-of-log aggregate
    * must equal m1's bit-for-bit (oracle = m1's SQL verbatim). This is
    * the production media-ingest gate: corrupt objects fail the decode
    * loudly AT INGEST, before they poison a training shard.
    */
  private[graft] def t24MediaIngestStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    import s.implicits._
    val out = scratch(dir, "t24media")
    val results = scratch(dir, "t24meta")
    val docs = Tables(s, dir).documents.select(col("doc_id")).as[Long]
    docs
      .mapPartitions(_.map(id => (
        "media", id % 4, id,
        new java.sql.Timestamp(1767225600000L), Multimodal.synthesize(id))))
      .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
      .write.format("ss").mode("overwrite").save(out)
    val fs = new org.apache.hadoop.fs.Path(results)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(results), true)
    val cap = math.max(1L, docs.count() / 4)
    val src = s.readStream.format("ss")
      .option("maxMessagesPerTrigger", cap.toString)
      .load(out)
      .select(col("sequence").as("doc_id"), col("payload"))
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: java.lang.Long) =>
        if (!b.isEmpty) {
          val media = b.select(col("doc_id"), col("payload"))
            .as[(Long, Array[Byte])]
            .map { case (id, bytes) => Multimodal.MediaRecord(id, bytes) }
          Multimodal.decodeBatch(media).toDF()
            .write.mode("append").parquet(results)
        }
      }.start()
    try { q.processAllAvailable(); inspect(q) } finally q.stop()
    // end-of-log finish: m1's exact aggregate over the accumulated metadata
    s.read.parquet(results)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("channels")).as("sum_channels"),
        sum(col("frames")).as("sum_frames"),
        max(col("sample_rate")).as("max_rate"))
  }

  /** t25 — a7's event-log pseudonymization maintained AT INGEST: the
    * de-identification gate a privacy-conscious pipeline runs before any
    * event ever lands in storage (scrub-on-write, so raw identifiers
    * never persist). Same discipline as t23/t24: the scrub is a7's
    * SHARED map-only expression applied per micro-batch — zero streaming
    * state, cost tracks ingest rate, and the oracle is a7's SQL
    * verbatim (streaming ≡ batch).
    */
  private[graft] def t25PseudonymizeStream(s: SparkSession, dir: String,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    val out = scratch(dir, "t25pii")
    val results = scratch(dir, "t25scrubbed")
    val t = Tables(s, dir)
    t.events.select(
        col("event_type").as("stream_key"),
        pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
        col("event_id").as("sequence"),
        col("ts").as("timestamp"),
        to_json(struct(col("event_id"), col("user_id"), col("props")))
          .cast("binary").as("payload"))
      .write.format("ss").mode("overwrite").save(out)
    val fs = new org.apache.hadoop.fs.Path(results)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(results), true)
    // ~4 genuine micro-batches at any scale (the t-family no-floor rule)
    val cap = math.max(1L, t.events.count() / 4)
    val src = s.readStream.format("ss")
      .option("maxMessagesPerTrigger", cap.toString)
      .load(out)
      .select(from_json(col("payload").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, user_id LONG, props STRING")).as("j"))
      .select(col("j.event_id"), col("j.user_id"), col("j.props"))
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: java.lang.Long) =>
        if (!b.isEmpty)
          TextAnalysis.piiScrub(b.toDF())
            .write.mode("append").parquet(results)
      }.start()
    try { q.processAllAvailable(); inspect(q) } finally q.stop()
    s.read.parquet(results)
  }

  val queries: Map[String, Relational.Q] = Map(
    // Batch path: ss sink (one part per task) → beacon-split ss scan.
    "t1_ss_roundtrip" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssrt")
      envelopeOf(t).write.format("ss").mode("overwrite").save(out)
      aggregate(s.read.format("ss").load(out), withDistinct = true)
    },

    // Streaming path: same data through the MicroBatchStream (frame-exact
    // offsets) into a memory sink, drained synchronously.
    "t2_ss_stream" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssstream")
      envelopeOf(t).write.format("ss").mode("overwrite").save(out)
      val q = aggregate(s.readStream.format("ss").load(out), withDistinct = false)
        .writeStream.outputMode("complete")
        .format("memory").queryName("t2_ss_stream_sink")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table("t2_ss_stream_sink")
    },

    // Fuse merge (batch form): split events into one stream per type, merge
    // back in global (timestamp, key, seq) order, stamp positions. The
    // position stamp is per-partition offset arithmetic over the
    // range-partitioned sort (zipWithIndex = partition-size scan + local
    // index), NOT a row_number over an unpartitioned window — the sort's
    // (ts, key, seq) key is total, so the stamp is deterministic and every
    // partition works in parallel at 100 TB.
    "t3_fuse_merge" -> { (s, dir) =>
      import s.implicits._
      val env = envelopeOf(Tables(s, dir))
      val streams = Seq("click", "view", "purchase", "signup", "error")
        .map(k => env.filter(col("stream_key") === k))
      graft.ops.StreamJoin.merge(streams)
        .select(unix_micros(col("timestamp")).as("ts_us"),
          col("stream_key"), col("sequence"))
        .as[(Long, String, Long)]
        .rdd.zipWithIndex()
        .map { case ((tsUs, key, seq), i) => (i + 1, tsUs, key, seq) }
        .toDF("position", "ts_us", "stream_key", "sequence")
    },

    // Streaming session windows: ss stream → session_window(30 min) in
    // append mode. A far-future sentinel per key pushes the watermark so the
    // last real session closes; sentinel sessions are filtered out.
    "t5_ss_sessions" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val out = scratch(dir, "sssess")
      envelopeOf(t).write.format("ss").mode("overwrite").save(out)
      val sentinelMs = 4100000000000L // far future
      val q = s.readStream.format("ss").load(out)
        .withWatermark("timestamp", "0 seconds")
        .groupBy(session_window(col("timestamp"), "30 minutes"),
          col("stream_key"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("stream_key"),
          unix_millis(col("session_window.start")).as("session_start_ms"),
          col("n_events"))
        .writeStream.outputMode("append")
        .format("memory").queryName("t5_ss_sessions_sink").start()
      try {
        q.processAllAvailable()
        // sentinel batch closes every open session
        Seq("click", "view", "purchase", "signup", "error").zipWithIndex
          .map { case (k, i) =>
            (k, 0L, 10000000L + i, new java.sql.Timestamp(sentinelMs),
              Array.emptyByteArray)
          }
          .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
          .write.format("ss").mode("append").save(out)
        q.processAllAvailable()
      } finally q.stop()
      s.table("t5_ss_sessions_sink")
        .filter(col("session_start_ms") < sentinelMs)
    },

    // Streaming exact dedup: doubled input through dropDuplicates on the
    // message identity, appended to a sink, then counted.
    "t6_stream_dedup" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssdedup")
      val env = envelopeOf(t)
      env.unionByName(env).write.format("ss").mode("overwrite").save(out)
      val q = s.readStream.format("ss").load(out)
        .dropDuplicates("stream_key", "sequence")
        .writeStream.outputMode("append")
        .format("memory").queryName("t6_stream_dedup_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t6_stream_dedup_sink")
        .groupBy("stream_key").agg(count(lit(1)).as("n"))
    },

    // Watermark-bounded streaming dedup: same law as t6 but state is evicted
    // past the watermark — the form that survives unbounded streams.
    "t7_stream_dedup_watermarked" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssdedupwm")
      val env = envelopeOf(t)
      env.unionByName(env).write.format("ss").mode("overwrite").save(out)
      val q = s.readStream.format("ss").load(out)
        .withWatermark("timestamp", "1 hour")
        .dropDuplicatesWithinWatermark("stream_key", "sequence")
        .writeStream.outputMode("append")
        .format("memory").queryName("t7_dedup_wm_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t7_dedup_wm_sink")
        .groupBy("stream_key").agg(count(lit(1)).as("n"))
    },

    // Gated fuse merge as a streaming query: click+view streams through the
    // ss source into StreamJoin.gatedByKey — the alignment gate holds per
    // shard, so the state machine runs shard-parallel (4 independent groups
    // hash-partitioned across tasks) instead of funneling the whole stream
    // through one task. Sentinel messages per (shard, aligned stream) flush
    // the buffers (no EOS in an unbounded stream), then the sink is
    // aggregated minus sentinels.
    "t8_fuse_gated" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val out = scratch(dir, "ssfuse")
      // sentinels ride in the SAME write: gateCore sorts each group's
      // arrivals by (ts, key, seq), so the far-future sentinels flush the
      // buffers whether they arrive in this batch or a later one — one
      // write job and one micro-batch instead of two of each (the
      // incremental multi-batch gating law itself is StreamJoinSpec's)
      val sentinels = (for {
        sh <- 0L until 4L
        (k, i) <- Seq(("click", 0L), ("view", 1L))
      } yield (k, sh, 20000000L + 2 * sh + i,
        new java.sql.Timestamp(4100000000000L), Array.emptyByteArray))
        .toDF("stream_key", "shard_id", "sequence", "timestamp", "payload")
      envelopeOf(t).filter(col("stream_key").isin("click", "view"))
        .unionByName(sentinels)
        .write.format("ss").mode("overwrite").save(out)
      val muxed = s.readStream.format("ss").load(out)
        .as[graft.core.SeaMessage]
      val q = graft.ops.StreamJoin
        .gatedByKey(muxed, Seq("click", "view"), _.shard_id)
        .toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName("t8_fuse_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t8_fuse_sink")
        .filter(col("sequence") < 20000000L)
        .groupBy("stream_key")
        .agg(count(lit(1)).as("n"), max(col("sequence")).as("max_seq"))
    },

    // Streaming SLIDING window (1 h width, 30 min slide): every event lands
    // in exactly two windows; counts per (window start, stream). Complete
    // mode over the ss stream — the §2.8 sliding-window capability t2/t5
    // (tumbling/session) don't cover.
    "t9_sliding_stream" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssslide")
      envelopeOf(t).write.format("ss").mode("overwrite").save(out)
      val q = s.readStream.format("ss").load(out)
        .groupBy(window(col("timestamp"), "1 hour", "30 minutes"),
          col("stream_key"))
        .agg(count(lit(1)).as("n"))
        .select(col("stream_key"),
          unix_millis(col("window.start")).as("win_start_ms"), col("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("t9_sliding_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t9_sliding_sink")
    },

    // Watermarked STREAM-STREAM interval join (§2.8 stateful capability the
    // reference lacks entirely): clicks joined to same-user purchases within
    // the following hour. Both sides carry a 1 h watermark so join state
    // evicts as event time advances — the unbounded-stream shape; inner
    // matches emit as they form, no sentinel needed.
    "t10_stream_interval_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssivj")
      t.events.select(
        col("event_type").as("stream_key"),
        col("user_id").as("shard_id"),
        col("event_id").as("sequence"),
        col("ts").as("timestamp"),
        lit(Array.emptyByteArray).as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      def side(kind: String, user: String, id: String, ts: String) =
        s.readStream.format("ss").load(out)
          .filter(col("stream_key") === kind)
          .withWatermark("timestamp", "1 hour")
          .select(col("shard_id").as(user), col("sequence").as(id),
            col("timestamp").as(ts))
      val joined = side("click", "user_id", "click_id", "click_ts")
        .join(side("purchase", "p_user_id", "purchase_id", "p_ts"),
          expr("""user_id = p_user_id AND
                 |p_ts >= click_ts AND p_ts <= click_ts + interval 1 hour""".stripMargin))
      val q = joined
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_millis(col("p_ts")) - unix_millis(col("click_ts"))).as("gap_ms"))
        .writeStream.outputMode("append")
        .format("memory").queryName("t10_ivj_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t10_ivj_sink")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("gap_ms")).as("min_gap_ms"),
          max(col("purchase_id")).as("max_purchase_id"))
    },

    // Stream-static enrichment: the live event stream joined to a STATIC
    // dimension (customer segments) with an explicit broadcast — the
    // canonical streaming-lookup shape. At 100 TB/day the stream side never
    // shuffles for the join: Spark rebroadcasts the dim per micro-batch and
    // the probe is map-side in every reader task (a shuffle join here would
    // re-key every event); the dim refreshing between batches is exactly the
    // semantics a dimension-table lookup wants.
    "t11_stream_static_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "ssenrich")
      t.events.select(
        col("event_type").as("stream_key"),
        col("user_id").as("shard_id"),
        col("event_id").as("sequence"),
        col("ts").as("timestamp"),
        to_json(struct(col("event_id"), col("value"))).cast("binary")
          .as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      val dim = t.customer.select(col("c_custkey"), col("c_mktsegment"))
      val q = s.readStream.format("ss").load(out)
        .withColumn("j", from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id LONG, value DOUBLE")))
        .join(broadcast(dim), col("shard_id") === col("c_custkey"))
        .groupBy("stream_key", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("j.value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          max(col("j.event_id")).as("max_event_id"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("t11_enrich_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t11_enrich_sink")
    },

    // Stream-static dedup: the live ingest stream anti-joined against the
    // content hashes of everything already in the training set — the
    // "don't re-ingest what you already have" gate every continuously-fed
    // corpus needs. The stream side probes per micro-batch; the seen-set is
    // corpus-sized at scale, so at 100 TB the production form prefixes
    // p13's bloom prefilter before this exact anti-join (false positives
    // re-checked, negatives skip the join entirely) — the anti-join shape
    // itself is what this query pins.
    "t13_stream_static_dedup" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "t13dedup")
      t.documents.select(
        lit("doc").as("stream_key"),
        pmod(col("doc_id"), lit(4L)).as("shard_id"),
        col("doc_id").as("sequence"),
        expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
        to_json(struct(col("doc_id"), col("lang"), col("text")))
          .cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      val seen = t.documents
        .filter(pmod(col("doc_id"), lit(3L)) === 0L)
        .select(md5(col("text")).as("h")).distinct()
      val q = s.readStream.format("ss").load(out)
        .withColumn("j", from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, lang STRING, text STRING")))
        .withColumn("h", md5(col("j.text")))
        .join(seen, Seq("h"), "left_anti")
        .groupBy(col("j.lang").as("lang"))
        .agg(count(lit(1)).as("n_new"), max(col("j.doc_id")).as("max_doc_id"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("t13_dedup_sink").start()
      try q.processAllAvailable() finally q.stop()
      s.table("t13_dedup_sink")
    },

    // Near-dup dedup AT INGEST (see [[streamLshDupIds]] for the mechanism
    // and scale rationale).
    "t14_stream_lsh_dedup" -> { (s, dir) =>
      val t = Tables(s, dir)
      val cap = math.max(1000L, t.documents.count() / 4)
      val dupIds = streamLshDupIds(t.documents, scratch(dir, "t14lsh"),
        cap, "t14_lsh_sink")
      t.documents.join(dupIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), max(col("doc_id")).as("max_doc_id"))
    },

    // Producer-side sharding laws: round-robin (seq % n) and hash sharder
    // (xxhash64 has no DuckDB twin, so assert its invariants instead).
    "t4_sharders" -> { (s, dir) =>
      val env = envelopeOf(Tables(s, dir))
      val rr = graft.ops.Sharders.applyShard(env,
        graft.ops.Sharders.roundRobin(3))
      rr.groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n"), max(col("sequence")).as("max_seq"))
    },

    // Streaming embedding-drift monitor — s11's batch-admission gate moved
    // to WHERE it actually runs in production: at ingest, before any vector
    // is admitted. The ingest log carries each vector's batch tag in the
    // payload (membership is known at produce time); per DIMENSION the
    // state is five numbers — decimal-exact Σv and Σv² for the reference
    // side, Σv for the monitored batch, and the two counts — carried
    // across micro-batches in a GroupState. State size is O(dims), NOT
    // O(rows): the monitor admits an unbounded stream with 64 state
    // entries, and because the per-term DECIMAL(30,15) rounding and exact
    // decimal addition are order-independent, the final stats are
    // bit-identical to the batch monitor under ANY batch split or arrival
    // interleaving — the oracle literally reuses s11's SQL. The final
    // emit per dimension (largest row count) computes the same
    // standardized-mean-difference columns as s11.
    "t15_stream_drift" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
      val t = Tables(s, dir)
      val out = scratch(dir, "t15drift")
      // batch tag attached at produce time (s11's shuffled-join discipline
      // applies BEFORE the log: the id set is corpus-fraction-sized)
      val batchIds = t.documents
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("doc_id").as("vec_id"), lit(1L).as("isb"))
      t.embeddings
        .join(batchIds.hint("shuffle_hash"), Seq("vec_id"), "left")
        .withColumn("isb", coalesce(col("isb"), lit(0L)))
        .select(
          lit("emb").as("stream_key"),
          pmod(col("vec_id"), lit(4L)).as("shard_id"),
          col("vec_id").as("sequence"),
          expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
          // JSON keeps the float roundtrip exact: Float.toString prints the
          // shortest digits that parse back to the same float
          to_json(struct(col("vec_id"), col("isb"), col("embedding")))
            .cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 micro-batches at ANY scale (no floor — the oracle-scale corpus
      // is 500 vectors, and the op's law is "bit-identical under any batch
      // split", which only means something if state genuinely carries
      // across triggers at test scale too; t12's intent)
      val cap = math.max(1L, t.embeddings.count() / 4)
      val dims = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .withColumn("j", from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id LONG, isb LONG, embedding ARRAY<FLOAT>")))
        .select(col("j.isb").as("isb"),
          posexplode(col("j.embedding")).as(Seq("d0", "v")))
        .select((col("d0") + 1).cast("long").as("d"), col("isb"),
          col("v").cast("double").as("v"))
        .as[(Long, Long, Double)]
      // the exact arithmetic of s11's aggregation, one term at a time:
      // cast-to-DECIMAL(30,15) of the double term (valueOf → HALF_UP at
      // scale 15 — Spark's Cast), then exact decimal addition
      def dec15(x: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(x)
          .setScale(15, java.math.RoundingMode.HALF_UP)
      val updates = dims.groupByKey(_._1)
        .flatMapGroupsWithState(OM.Update(), GroupStateTimeout.NoTimeout())(
          (d: Long, rows: Iterator[(Long, Long, Double)],
              state: GroupState[(java.math.BigDecimal, java.math.BigDecimal,
                java.math.BigDecimal, Long, Long)]) => {
            val z = java.math.BigDecimal.ZERO
            var (rs, rs2, bs, rn, bn) =
              state.getOption.getOrElse((z, z, z, 0L, 0L))
            rows.foreach { case (_, isb, v) =>
              if (isb == 0L) {
                rs = rs.add(dec15(v)); rs2 = rs2.add(dec15(v * v)); rn += 1
              } else { bs = bs.add(dec15(v)); bn += 1 }
            }
            state.update((rs, rs2, bs, rn, bn))
            Iterator((d, rs, rs2, bs, rn, bn))
          })
      val q = updates.toDF("d", "rs", "rs2", "bs", "rn", "bn")
        .writeStream.outputMode("update")
        .format("memory").queryName("t15_drift_sink").start()
      try q.processAllAvailable() finally q.stop()
      // final emit per dimension (64 keys — the window is dim-bounded),
      // then s11's exact output arithmetic on the carried sums
      val w = Window.partitionBy("d").orderBy((col("rn") + col("bn")).desc)
      s.table("t15_drift_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
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
    },

    // Streaming eval-holdout carve-out — p20's batch contract maintained
    // AT INGEST (the s11→t15 discipline applied to the p20 pair): a
    // GroupState per source carries the current lowest-k (hash, doc_id)
    // set across micro-batches — O(k) state per source at any corpus
    // size, merged in O(k log k) per arrival. Because membership is
    // content-hash-ranked, after ANY prefix of the stream the state IS
    // the exact holdout of the data seen so far, and at end-of-log it
    // must equal p20's batch answer bit-for-bit — the oracle REUSES
    // p20's SQL, which is the streaming≡batch law. This is how a
    // continuously-ingesting pipeline keeps a valid eval split without
    // ever re-running the batch carve-out.
    "t16_stream_holdout" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
      val t = Tables(s, dir)
      val out = scratch(dir, "t16holdout")
      // p20's null-text filter and content hash, attached at produce time
      val docs = t.documents.filter(col("text").isNotNull)
      docs.select(
          col("source").as("stream_key"),
          pmod(col("doc_id"), lit(4L)).as("shard_id"),
          col("doc_id").as("sequence"),
          expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
          to_json(struct(col("doc_id"),
            conv(substring(md5(concat(lit("holdout:"), col("text"))), 1, 15),
              16, 10).cast("long").as("h"))).cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 micro-batches at any scale (t15's no-floor discipline: the
      // cross-trigger carry must be exercised at oracle scale too)
      val cap = math.max(1L, docs.count() / 4)
      val src = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(col("stream_key").as("source"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id LONG, h LONG")).as("j"))
        .select(col("source"), col("j.h").as("h"), col("j.doc_id").as("doc_id"))
        .as[(String, Long, Long)]
      val k = Pipeline.HoldoutK
      val updates = src.groupByKey(_._1)
        .flatMapGroupsWithState(OM.Update(), GroupStateTimeout.NoTimeout())(
          (source: String, rows: Iterator[(String, Long, Long)],
              state: GroupState[(Long, Seq[(Long, Long)])]) => {
            var (seen, top) = state.getOption
              .getOrElse((0L, Seq.empty[(Long, Long)]))
            rows.foreach { case (_, h, id) =>
              seen += 1
              // tuple order = (h, doc_id) — exactly p20's rank order
              top = ((h, id) +: top).sorted.take(k)
            }
            state.update((seen, top))
            Iterator((source, seen, top))
          })
      val q = updates.toDF("source", "seen", "top")
        .writeStream.outputMode("update")
        .format("memory").queryName("t16_holdout_sink").start()
      try q.processAllAvailable() finally q.stop()
      // final emit per source (largest seen) carries the complete holdout;
      // the window ranks |sources| × batches rows — report-sized
      val w = Window.partitionBy("source").orderBy(col("seen").desc)
      s.table("t16_holdout_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("source"), posexplode(col("top")).as(Seq("i", "x")))
        .select(col("source"), col("x._2").as("doc_id"), col("x._1").as("h"),
          (col("i") + 1).cast("long").as("rank"))
    },

    // Streaming contamination scrub — p13's bloom-prefiltered benchmark
    // check maintained AT INGEST (the p13→t18 pair extends the
    // batch≡streaming family): the bench suite is static by premise, so
    // its shingle set builds ONCE batch-side and its fixed-size bloom
    // blob rides the stream plan as a literal — each arriving document
    // explodes to doc-local-distinct shingles (array_distinct BEFORE the
    // explode: stateless, no streaming DISTINCT), the codegen'd
    // might_contain prefilter drops the overwhelming clean majority with
    // NO shuffle and NO state, and only bloom survivors cross the
    // stream-static confirm semi-join (false positives die there; false
    // negatives don't exist). Streaming disallows chained aggregates, so
    // the per-(lang, doc) running hit count emits in update mode (t16's
    // sink-finish discipline; counts are monotone, so each group's final
    // state is its max emission) and the report-sized lang rollup runs
    // batch-side. State is O(contaminated docs) — the hit sliver, by
    // premise — and the oracle is p13's SQL verbatim: the streaming scrub
    // must equal the batch check bit-for-bit after end-of-log.
    "t18_stream_contamination" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "t18contam")
      val docs = t.documents
      // static side: the bench shingle set + its bloom (p13's two-phase)
      val bench = Dedup.shingles(docs)
        .filter(pmod(col("doc_id"), lit(97L)) === 0L)
        .select(col("s")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val blob = bench.agg(graft.functions.BloomFunctions
        .bloomAgg(xxhash64(col("s")), 50000L, 400000L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val streamed = docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
      streamed.select(
          col("source").as("stream_key"),
          pmod(col("doc_id"), lit(4L)).as("shard_id"),
          col("doc_id").as("sequence"),
          expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
          to_json(struct(col("doc_id"), col("lang"), col("text")))
            .cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 micro-batches at any scale (t15's no-floor discipline)
      val cap = math.max(1L, streamed.count() / 4)
      val hits = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, lang STRING, text STRING")).as("j"))
        // Dedup.shingles' kernel per row: doc-local distinct, so the same
        // (doc_id, s) set without streaming-side state
        .select(col("j.doc_id").as("doc_id"), col("j.lang").as("lang"),
          explode(graft.functions.DedupKernels.wordShingles(col("j.text")))
            .as("s"))
        .filter(graft.functions.BloomFunctions
          .mightContain(lit(blob), xxhash64(col("s"))))
        // exact confirm: stream-static semi-join; the bench side is
        // eval-sized — too big to broadcast by premise (p13's law)
        .join(bench.hint("shuffle_hash"), Seq("s"), "left_semi")
      val q = hits
        .groupBy(col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("n_sh"))
        .writeStream.outputMode("update")
        .format("memory").queryName("t18_contam_sink").start()
      try q.processAllAvailable() finally q.stop()
      // each group's final (cumulative) count = its max emission; the
      // lang rollup ranks hit-doc-sized rows — report-sized
      s.table("t18_contam_sink")
        .groupBy("lang", "doc_id").agg(max(col("n_sh")).as("n_sh"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_contam_docs"),
          sum(col("n_sh")).as("n_shared_shingles"))
    },

    // N-gram eval-DECONTAMINATION at ingest (the p26→t30 pair, closing
    // the contamination family's streaming matrix: t18 streams the
    // 3-gram COUNTING check, this streams the 8-token seen-gram VERDICT
    // — the gate a training pipeline runs before a doc reaches a shard).
    // The eval suite is static by premise: its distinct 8-token window
    // set builds once batch-side and an index-sized bloom rides the
    // stream plan; each arriving doc windows itself doc-locally
    // (array_distinct before explode — stateless), the bloom drops the
    // clean majority with no shuffle, survivors confirm against the
    // static window set (false positives die, false negatives can't
    // exist), and the per-doc hit count accumulates in update mode —
    // state O(contaminated docs), the sliver. The verdict math runs
    // batch-side through the SHARED Pipeline.decontamVerdict over a
    // spine re-derived from the log bytes (t20's re-read pattern; the
    // per-doc window count is a stateless expression). After end-of-log
    // the verdicts must equal p26 bit-for-bit — the oracle is p26's SQL
    // verbatim.
    "t30_stream_decontam" -> { (s, dir) => t30DecontamStream(s, dir) },

    // Streaming k-means assignment — c1's single Lloyd round maintained
    // AT INGEST (the c1→t19 pair): the FROZEN seed centroids are
    // k-bounded, so they ride the stream plan as a 16-struct array
    // literal (a k-row driver collect, c3's O(1)-collect class — never a
    // corpus read) and each arriving vector assigns STATELESSLY via a
    // fold over that literal — same 6-dp-rounded exact-decimal distance
    // (FloatVecDecimal) and same smaller-id tie rule as packedArgmin, no
    // per-row agg, no window. The only streaming state is the
    // (centroid, dim) running count/decimal-sum table — O(K×dims) at any
    // corpus size — emitted in update mode; the k-row means/shift finish
    // runs batch-side (counts are monotone, so max-struct picks each
    // group's last emission). After end-of-log the result must equal
    // c1's batch round bit-for-bit: the oracle IS c1's SQL.
    "t19_stream_assign" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "t19assign")
      val e = t.embeddings
      val centRows = e.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
      val centLit = array(centRows.map { r =>
        struct(lit(r.getLong(0)).as("cid"),
          typedLit(r.getSeq[Float](1)).as("cemb"))
      }: _*)
      e.select(
          lit("emb").as("stream_key"),
          pmod(col("vec_id"), lit(4L)).as("shard_id"),
          col("vec_id").as("sequence"),
          expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
          // JSON keeps the float roundtrip exact (t15's discipline)
          to_json(struct(col("vec_id"), col("embedding")))
            .cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      val cap = math.max(1L, e.count() / 4)
      val assigned = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .withColumn("j", from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id LONG, embedding ARRAY<FLOAT>")))
        .select(col("j.embedding").as("emb"))
        // stateless argmin — the codegen'd row-local packed form (r20):
        // bit-identical to the strict-less interpreted fold it replaces
        // (packedArgmin's (round(d2r,6), id) min, ties to the smaller
        // centroid id — FloatVecArgminSpec pins the equality), but one
        // tight Java loop per row instead of an interpreted lambda
        .withColumn("centroid_id",
          graft.functions.FloatVecArgmin.pkOf(col("emb"), centLit)
            .bitwiseAND(lit((1L <<
              graft.functions.FloatVecArgmin.IdBits) - 1)))
      val q = assigned
        .select(col("centroid_id"), posexplode(col("emb")).as(Seq("d0", "v")))
        .select(col("centroid_id"), (col("d0") + 1).as("d"),
          col("v").cast("double").as("v"))
        .groupBy("centroid_id", "d")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(30,15)")).as("sv"))
        .writeStream.outputMode("update")
        .format("memory").queryName("t19_assign_sink").start()
      try q.processAllAvailable() finally q.stop()
      // batch-side finish (K×dims rows): last emission per group via
      // max-struct on the monotone count, then c1's exact means/shift
      val fin = s.table("t19_assign_sink")
        .groupBy("centroid_id", "d")
        .agg(max(struct(col("n"), col("sv"))).as("m"))
        .select(col("centroid_id"), col("d"), col("m.n").as("n"),
          col("m.sv").as("sv"))
        .withColumn("mean", col("sv").cast("double") / col("n"))
      val oldD = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"),
          posexplode(col("embedding")).as(Seq("d0", "ov")))
        .select(col("centroid_id"), (col("d0") + 1).as("d"),
          col("ov").cast("double").as("ov"))
      fin.join(oldD, Seq("centroid_id", "d"))
        .groupBy("centroid_id")
        .agg(max(col("n")).as("n_members"),
          round(sum(((col("mean") - col("ov")) * (col("mean") - col("ov")))
            .cast("decimal(30,15)")).cast("double"), 6).as("shift"))
    },

    // Near-dup admission AT INGEST against the PERSISTED d14 index — the
    // production gate the d14 family builds toward (t13's stream-static
    // pattern with the stored band table as the static side, bloom-fronted
    // like t18): build the index once, then the arriving crawl stream
    // dedups against it per micro-batch. See [[t20IndexDedupStream]]; the
    // oracle IS d14_dedup_index's SQL verbatim — stream-vs-stored-index ≡
    // the batch recompute, the t15/t16/t17/t18 discipline.
    "t20_stream_index_dedup" -> { (s, dir) =>
      Dedup.d14Build(s, dir)
      t20IndexDedupStream(s, dir)
    },

    // Streaming ANN serve off the persisted IVF index (t20's query-side
    // twin; oracle = s13_mmr_indexed's SQL verbatim).
    "t21_stream_query_serve" -> { (s, dir) =>
      Similarity.s7Layout(s, dir)
      t21QueryServeStream(s, dir)
    },

    // The full ingest loop: admit AND grow the persisted index per
    // micro-batch — d14_upsert's two-wave cascade driven by arrival time
    // (oracle = that cascade's SQL extended to both waves' verdicts).
    "t22_stream_index_grow" -> { (s, dir) =>
      Dedup.d14Build(s, dir)
      t22IndexGrowStream(s, dir)
    },

    // p23's quality classifier maintained at ingest (train batch-side,
    // ship the model to the gate; oracle = p23's SQL verbatim).
    "t23_stream_quality_gate" -> { (s, dir) =>
      t23QualityGateStream(s, dir)
    },

    // m1's media decode-and-validate maintained at ingest (binary media
    // payloads on the envelope; oracle = m1's SQL verbatim).
    "t24_stream_media_ingest" -> { (s, dir) =>
      t24MediaIngestStream(s, dir)
    },

    // a7's event-log pseudonymization maintained at ingest (scrub-on-
    // write; oracle = a7's SQL verbatim).
    "t25_stream_pseudonymize" -> { (s, dir) =>
      t25PseudonymizeStream(s, dir)
    },

    // Streaming DP release — a9 maintained AT INGEST (the a9→t28 pair
    // completes the privacy ladder's streaming mirror: t25 scrubs rows,
    // t26 audits crowds, t28 keeps the RELEASABLE aggregate current as
    // events arrive): a streaming groupBy keeps one running true count
    // per event_type (state O(types)), and a9's SHARED noise finish runs
    // batch-side over the final counts. Seeded noise depends only on the
    // group key, so the release after any stream prefix is the correct
    // DP release OF that prefix — and at end-of-log it equals the batch
    // release bit-for-bit (oracle = a9's SQL verbatim). True counts
    // never leave the streaming state.
    "t28_stream_dp_release" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "t28dp")
      t.events.select(
          col("event_type").as("stream_key"),
          pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
          col("event_id").as("sequence"),
          col("ts").as("timestamp"),
          col("event_type").cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 genuine micro-batches at any scale (the t-family no-floor rule)
      val cap = math.max(1L, t.events.count() / 4)
      val src = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(col("payload").cast("string").as("event_type"))
      val q = src.groupBy("event_type")
        .agg(count(lit(1)).as("n_true"))
        .writeStream.outputMode("update")
        .format("memory").queryName("t28_dp_sink").start()
      try q.processAllAvailable() finally q.stop()
      TextAnalysis.dpRelease(
        s.table("t28_dp_sink")
          .groupBy("event_type").agg(max(col("n_true")).as("n_true")))
    },

    // Streaming mini-batch k-means — the MODEL UPDATE maintained at
    // ingest (doc at [[t29KmeansStream]]): each arriving wave is the
    // mini-batch, per trigger the shared kmeansRound moves the centers,
    // state is the k-row model itself. Oracle = c6's SQL verbatim.
    "t29_stream_kmeans" -> { (s, dir) => t29KmeansStream(s, dir) },

    // Streaming weighted sampler — p25's A-ES draw maintained AT INGEST
    // (the p25→t27 pair; t16's holdout is the unweighted cousin): each
    // arriving document computes its quality and sampling key through the
    // SHARED expressions (a2's formula, p25's aesKey) statelessly, and a
    // per-source GroupState holds only the current top-10 keys — the
    // fixed-size sample of everything seen so far, at any corpus size.
    // A-ES is one-pass by construction (key = ln(u)/w is assigned once
    // per item, the sample is the running top-k), which is exactly what
    // makes the batch draw and the ingest draw the same draw: the oracle
    // is p25's SQL verbatim.
    "t27_stream_sample" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
      val t = Tables(s, dir)
      val out = scratch(dir, "t27sample")
      t.documents.select(
          col("source").as("stream_key"),
          pmod(col("doc_id"), lit(4L)).as("shard_id"),
          col("doc_id").as("sequence"),
          expr("timestamp'2026-01-01 00:00:00'").as("timestamp"),
          to_json(struct(col("doc_id"), col("text")))
            .cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 genuine micro-batches at any scale (the t-family no-floor rule)
      val cap = math.max(1L, t.documents.count() / 4)
      val decoded = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(col("stream_key").as("source"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id LONG, text STRING")).as("j"))
        .select(col("source"), col("j.doc_id").as("doc_id"),
          col("j.text").as("text"))
      // quality + key at ingest, via the SAME shared expressions as the
      // batch draw (stateless projections — streaming-safe)
      val keyed = TextAnalysis.qualityTokens(decoded, "source")
        .select(col("source"), col("doc_id"), col("quality_score"),
          Pipeline.aesKey(col("doc_id"), col("quality_score"))
            .as("sample_key"))
        .as[(String, Long, Double, Double)]
      val updates = keyed.groupByKey(_._1)
        .flatMapGroupsWithState(OM.Update(), GroupStateTimeout.NoTimeout())(
          (source: String, rows: Iterator[(String, Long, Double, Double)],
              state: GroupState[(Long, Seq[(Double, Long, Double)])]) => {
            var (seen, top) = state.getOption
              .getOrElse((0L, Seq.empty[(Double, Long, Double)]))
            rows.foreach { case (_, id, q, key) =>
              seen += 1
              // tuple order = (-key, doc_id): key DESC then id ASC —
              // exactly p25's rank order
              top = ((-key, id, q) +: top).sorted.take(10)
            }
            state.update((seen, top))
            Iterator((source, seen, top))
          })
      val q = updates.toDF("source", "seen", "top")
        .writeStream.outputMode("update")
        .format("memory").queryName("t27_sample_sink").start()
      try q.processAllAvailable() finally q.stop()
      // final emit per source (largest seen) carries the complete sample;
      // the window ranks |sources| × batches rows — report-sized
      val w = Window.partitionBy("source").orderBy(col("seen").desc)
      s.table("t27_sample_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("source"), posexplode(col("top")).as(Seq("i", "x")))
        .select(col("source"), col("x._2").as("doc_id"),
          col("x._3").as("quality_score"), (-col("x._1")).as("sample_key"),
          (col("i") + 1).cast("long").as("rank"))
    },

    // Streaming k-anonymity audit — a8 maintained AT INGEST (the a8→t26
    // pair): the privacy officer's live view of which QI crowds are
    // releasable as events arrive. A streaming groupBy over the
    // (event_type, hour) quasi-identifier keeps ONE running count per
    // group (state O(groups) — the QI grid, never the event count),
    // emitted in update mode (t16/t18's sink-finish discipline: counts
    // are monotone, each group's final state is its max emission); the
    // two-rung generalization lattice is a8's SHARED group-sized batch
    // math over the final counts. After end-of-log the release equals
    // the batch audit bit-for-bit: the oracle is a8's SQL verbatim.
    "t26_stream_k_anonymity" -> { (s, dir) =>
      val t = Tables(s, dir)
      val out = scratch(dir, "t26kanon")
      t.events.select(
          col("event_type").as("stream_key"),
          pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
          col("event_id").as("sequence"),
          col("ts").as("timestamp"),
          to_json(struct(col("event_type"),
            unix_micros(col("ts")).as("us"))).cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 genuine micro-batches at any scale (the t-family no-floor rule)
      val cap = math.max(1L, t.events.count() / 4)
      val src = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_type STRING, us LONG")).as("j"))
        .select(col("j.event_type"),
          timestamp_micros(col("j.us")).as("ts"))
      val q = src
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .format("memory").queryName("t26_kanon_sink").start()
      try q.processAllAvailable() finally q.stop()
      TextAnalysis.kAnonLattice(
        s.table("t26_kanon_sink")
          .groupBy("event_type", "bucket").agg(max(col("n")).as("n")))
    },

    // Streaming latest-per-key compaction — q24's CDC shape maintained AT
    // INGEST (the q24→t17 pair completes the batch≡streaming family with
    // s11→t15 and p20→t16): a GroupState per key holds exactly ONE row —
    // the current latest (ts, id, …) — merged by the same lexicographic
    // (us, event_id) rule as q24's struct MAX, so after any stream prefix
    // the state IS the compacted current-state table of the data seen so
    // far, and at end-of-log it equals the batch compaction bit-for-bit:
    // the oracle REUSES q24's SQL. This is how a CDC consumer keeps a
    // continuously-current dimension without ever re-running the batch
    // compaction; state is O(#keys) regardless of version-history depth.
    "t17_stream_latest" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
      val t = Tables(s, dir)
      val out = scratch(dir, "t17latest")
      t.events.select(
          col("event_type").as("stream_key"),
          pmod(col("user_id"), lit(4)).cast("long").as("shard_id"),
          col("event_id").as("sequence"),
          col("ts").as("timestamp"),
          to_json(struct(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"), col("value")))
            .cast("binary").as("payload"))
        .write.format("ss").mode("overwrite").save(out)
      // ~4 micro-batches at any scale (the t15/t16 no-floor discipline)
      val cap = math.max(1L, t.events.count() / 4)
      val src = s.readStream.format("ss")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "user_id LONG, us LONG, event_id LONG, " +
              "event_type STRING, value DOUBLE")).as("j"))
        .select(col("j.user_id"), col("j.us"), col("j.event_id"),
          col("j.event_type"), col("j.value"))
        // value is NULLABLE in the events schema (q20's null-hardening
        // lesson): decode as Option so a null value survives the json
        // round-trip instead of blowing up the primitive-Double encoder —
        // the reused q24 oracle passes NULLs through, so must the stream
        .as[(Long, Long, Long, String, Option[Double])]
      val updates = src.groupByKey(_._1)
        .flatMapGroupsWithState(OM.Update(), GroupStateTimeout.NoTimeout())(
          (uid: Long, rows: Iterator[(Long, Long, Long, String, Option[Double])],
              state: GroupState[(Long, Long, Long, String, Option[Double])]) => {
            // (seen, us, event_id, event_type, value) — q24's (us, id) rule
            var st = state.getOption
              .getOrElse((0L, Long.MinValue, Long.MinValue, "",
                None: Option[Double]))
            rows.foreach { case (_, us, eid, et, v) =>
              val newer = us > st._2 || (us == st._2 && eid > st._3)
              st =
                if (newer) (st._1 + 1, us, eid, et, v)
                else st.copy(_1 = st._1 + 1)
            }
            state.update(st)
            Iterator((uid, st._1, st._2, st._3, st._4, st._5))
          })
      val q = updates
        .toDF("user_id", "seen", "us", "event_id", "event_type", "value")
        .writeStream.outputMode("update")
        .format("memory").queryName("t17_latest_sink").start()
      try q.processAllAvailable() finally q.stop()
      // final emit per key (largest seen) carries the compacted row; the
      // window ranks |keys| × batches rows — compaction-output-sized
      val w = Window.partitionBy("user_id").orderBy(col("seen").desc)
      s.table("t17_latest_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("us").as("last_us"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"))
    },

    // Custom arbitrary state via flatMapGroupsWithState — the
    // KeyValueGroupedDataset escape hatch SURVEY §2.8 reserves for state
    // shapes the built-in operators can't express. A per-key running
    // (count, exact-decimal sum) survives across micro-batches in a
    // GroupState (one state store entry per key — state size O(#keys), the
    // 100 TB shape); maxMessagesPerTrigger forces the backlog through ~4
    // batches so the state genuinely carries across epochs. Each batch
    // emits the running totals; the final emit per key (max n) must equal
    // the batch aggregate — that is the oracle.
    "t12_stateful_running" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
      val t = Tables(s, dir)
      val out = scratch(dir, "t12")
      envelopeOf(t).write.format("ss").mode("overwrite").save(out)
      val cap = math.max(1000L, t.events.count() / 4)
      val src = s.readStream.format("ss")
        .option("startingOffsets", "earliest")
        .option("maxMessagesPerTrigger", cap.toString)
        .load(out)
        .select(col("stream_key"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "event_id LONG, value DOUBLE")).getField("value")
            .cast("decimal(18,2)").as("v"))
        .as[(String, java.math.BigDecimal)]
      val updates = src.groupByKey(_._1)
        .flatMapGroupsWithState(OM.Update(), GroupStateTimeout.NoTimeout())(
          (key: String, rows: Iterator[(String, java.math.BigDecimal)],
              state: GroupState[(Long, java.math.BigDecimal)]) => {
            var (n, sum) = state.getOption
              .getOrElse((0L, java.math.BigDecimal.ZERO))
            rows.foreach { r => n += 1; sum = sum.add(r._2) }
            state.update((n, sum))
            Iterator((key, n, sum))
          })
      val q = updates.toDF("stream_key", "n", "sum_dec")
        .writeStream.outputMode("update")
        .format("memory").queryName("t12_stateful_sink").start()
      try q.processAllAvailable() finally q.stop()
      // the final (largest-n) emit per key carries the complete totals
      val w = Window.partitionBy("stream_key").orderBy(col("n").desc)
      s.table("t12_stateful_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("stream_key"), col("n"),
          col("sum_dec").cast("double").as("sum_value"))
    })

  val oracles: Map[String, String] = Map(
    // the streaming monitor must equal the batch monitor bit-for-bit —
    // same SQL, different execution model, that identity IS the law
    "t15_stream_drift" -> Similarity.oracles("s11_embed_drift"),
    // the streaming holdout must equal the batch carve-out EXACTLY —
    // same SQL, the streaming ≡ batch law
    "t16_stream_holdout" -> Pipeline.oracles("p20_eval_holdout"),
    // the streaming compaction must equal q24's batch compaction exactly
    "t17_stream_latest" -> Relational.oracles("q24_latest_event"),
    // the streaming scrub must equal p13's batch contamination check —
    // same SQL, the streaming ≡ batch law
    "t18_stream_contamination" -> Pipeline.oracles("p13_bloom_contamination"),
    // the streaming assignment round must equal c1's batch round exactly
    "t19_stream_assign" -> Similarity.oracles("c1_kmeans"),
    // stream-vs-stored-index dedup must equal the batch recurring query
    "t20_stream_index_dedup" -> Dedup.oracles("d14_dedup_index"),
    "t21_stream_query_serve" -> Similarity.oracles("s13_mmr_indexed"),
    "t22_stream_index_grow" -> Dedup.d14TwoWaveOracleSql,
    // decontamination-at-ingest ≡ the batch decontamination pass
    "t30_stream_decontam" -> Pipeline.oracles("p26_ngram_decontam"),
    "t23_stream_quality_gate" -> Pipeline.oracles("p23_quality_classifier"),
    "t24_stream_media_ingest" -> Multimodal.oracles("m1_media_decode"),
    "t25_stream_pseudonymize" -> TextAnalysis.oracles("a7_pseudonymize"),
    "t26_stream_k_anonymity" -> TextAnalysis.oracles("a8_k_anonymity"),
    "t27_stream_sample" -> Pipeline.oracles("p25_weighted_sample"),
    "t28_stream_dp_release" -> TextAnalysis.oracles("a9_dp_release"),
    "t29_stream_kmeans" -> Similarity.oracles("c6_kmeans_minibatch"),
    "t14_stream_lsh_dedup" -> {
      val constRows = Dedup.MinhashParams.zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tok
         |              FROM documents),
         |sh AS (SELECT doc_id, tok[g.i]||' '||tok[g.i+1]||' '||tok[g.i+2] AS s
         |       FROM toks, (SELECT unnest(range(1, 1024)) AS i) g
         |       WHERE g.i + 2 <= len(tok)),
         |consts(i, a, b) AS (VALUES $constRows),
         |hashed AS (SELECT doc_id,
         |    CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % ${Dedup.Prime} AS hm
         |  FROM sh),
         |mh AS (SELECT doc_id, i, MIN((a * hm + b) % ${Dedup.Prime}) AS mh
         |       FROM hashed CROSS JOIN consts GROUP BY doc_id, i),
         |dup AS (SELECT DISTINCT a.doc_id FROM mh a
         |        JOIN mh b ON a.i = b.i AND a.mh = b.mh
         |          AND b.doc_id < a.doc_id)
         |SELECT lang, COUNT(*) AS n_kept, MAX(doc_id) AS max_doc_id
         |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         |GROUP BY lang""".stripMargin
    },
    "t13_stream_static_dedup" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents
        |              WHERE doc_id % 3 = 0)
        |SELECT lang, COUNT(*) AS n_new, MAX(doc_id) AS max_doc_id
        |FROM documents
        |WHERE md5(text) NOT IN (SELECT h FROM seen)
        |GROUP BY lang""".stripMargin,
    "t12_stateful_running" ->
      """SELECT event_type AS stream_key, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "t11_stream_static_join" ->
      """SELECT e.event_type AS stream_key, c.c_mktsegment,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(e.event_id) AS max_event_id
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "t1_ss_roundtrip" -> aggregateOracle(withDistinct = true),
    "t2_ss_stream" -> aggregateOracle(withDistinct = false),
    "t3_fuse_merge" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY epoch_us(date_trunc('microseconds', ts)),
        |                          event_type, event_id) AS position,
        |  epoch_us(date_trunc('microseconds', ts)) AS ts_us,
        |  event_type AS stream_key, event_id AS sequence
        |FROM events""".stripMargin,
    "t4_sharders" ->
      """SELECT event_id % 3 AS shard_id, COUNT(*) AS n,
        |  MAX(event_id) AS max_seq
        |FROM events GROUP BY 1""".stripMargin,
    // Sessions = gaps-and-islands on ms-truncated event time (the .ss
    // envelope stores milliseconds), split when gap >= 30 minutes — exactly
    // session_window's merge law.
    "t5_ss_sessions" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(date_trunc('milliseconds', ts)) AS ms
        |  FROM events),
        |marked AS (
        |  SELECT event_type, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |           OR ms - lag(ms) OVER w >= 30 * 60 * 1000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |sessions AS (
        |  SELECT event_type, ms,
        |    SUM(new_session) OVER (PARTITION BY event_type ORDER BY ms
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT event_type AS stream_key, MIN(ms) AS session_start_ms,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY event_type, sid""".stripMargin,
    // Each event belongs to the two 1 h windows whose 30 min-aligned starts
    // cover it (Spark aligns window starts to the epoch).
    "t9_sliding_stream" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(date_trunc('milliseconds', ts)) AS ms
        |  FROM events),
        |w AS (
        |  SELECT event_type, (ms // 1800000) * 1800000 AS win_start_ms FROM e
        |  UNION ALL
        |  SELECT event_type, (ms // 1800000) * 1800000 - 1800000 FROM e)
        |SELECT event_type AS stream_key, win_start_ms, COUNT(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin,
    // The envelope stores millisecond timestamps, so the oracle joins on
    // ms-truncated event time.
    "t10_stream_interval_join" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_ms(date_trunc('milliseconds', ts)) AS ms
        |  FROM events)
        |SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
        |  CAST(MIN(p.ms - c.ms) AS BIGINT) AS min_gap_ms,
        |  CAST(MAX(p.event_id) AS BIGINT) AS max_purchase_id
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ms >= c.ms AND p.ms <= c.ms + 3600000
        |GROUP BY c.user_id""".stripMargin,
    "t6_stream_dedup" ->
      """SELECT event_type AS stream_key, COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "t7_stream_dedup_watermarked" ->
      """SELECT event_type AS stream_key, COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "t8_fuse_gated" ->
      """SELECT event_type AS stream_key, COUNT(*) AS n,
        |  MAX(event_id) AS max_seq
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY event_type""".stripMargin)
}
