package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: one place for the configs every entrypoint
  * (Verify, Bench, tests) must agree on.
  *
  *   - shuffle.partitions is sized for STREAMING state (stateful operators
  *     snapshot/commit one store per shuffle partition per micro-batch, so
  *     fewer partitions = less per-batch fixed overhead). Batch queries are
  *     unaffected: AQE starts every batch shuffle at
  *     `coalescePartitions.initialPartitionNum` (= cores) and coalesces
  *     down, so batch parallelism stays at core count while streaming state
  *     stays compact. Measured at sf0.1: 4 state partitions cut the
  *     streaming suite from ~31.6 s to ~21.4 s vs 32. On a real cluster
  *     raise SPARK_GRAFT_STREAM_PARTS toward total cores — per-partition
  *     state must fit an executor. NOTE: the knob only takes effect for NEW
  *     streaming checkpoints — a resumed query keeps the state partition
  *     count pinned at its first run.
  *   - State store provider defaults to the HDFS-backed (on-heap) store:
  *     measured head-to-head at sf0.1 it beats RocksDB ~1.5× while state
  *     fits the heap (RocksDB pays JNI per-key puts + sst checkpointing).
  *     When per-executor state outgrows the heap — the 100 TB streaming
  *     shape — flip SPARK_GRAFT_STATE_STORE to RocksDBStateStoreProvider;
  *     changelog checkpointing is pre-wired so only deltas ship per batch.
  *   - Checkpoint file manager pinned to `graft.core.CheckpointFiles`.
  *     Without Hadoop's native IO, Spark's default manager makes every
  *     offset-log, commit-log and state-store write on a `file:` path
  *     start OS processes: `FileContext.rename` →
  *     `RawLocalFileSystem.getFileLinkStatus` → `FileUtil.readLink` runs
  *     `readlink`, and `RawLocalFileSystem.setPermission` runs `chmod` on
  *     every create and mkdir: tens of fork/execs per trigger, most of
  *     the per-trigger floor. Other schemes keep Spark's default manager.
  *   - AQE on: runtime coalescing + skew-join handling is the 100 TB story
  *   - nanosAsLong: events.parquet carries TIMESTAMP(NANOS) which the Spark 4
  *     parquet reader otherwise rejects (normalized in analytics.Tables)
  *   - UTC so the DuckDB oracle agrees on every epoch/date computation
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder = {
    // measured at sf0.1: streaming five at 2 parts ≈ 17.2 s vs 18.8 s at 4
    // (state volume tiny locally; per-partition store commit dominates)
    val streamingStatePartitions = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS",
      scala.util.Try(cpus.toInt).toOption
        .map(n => math.min(2, math.max(1, n)).toString)
        .getOrElse("2"))
    val stateStoreProvider = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", streamingStatePartitions)
      // batch parallelism DEPENDS on AQE coalescing starting from
      // initialPartitionNum — pin coalescing on explicitly so a config drift
      // can't silently run batch shuffles at the streaming partition count
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass", stateStoreProvider)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config(graft.core.CheckpointFiles.ConfKey, classOf[graft.core.CheckpointFiles].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Driver testdata ships naive-micros timestamps (isAdjustedToUTC =
      // false). Read them as TimestampType AT THE SCAN instead of letting
      // them surface as TIMESTAMP_NTZ: the session is pinned UTC so the
      // instant is identical, and keeping the scan output LTZ means range
      // filters on o_orderdate/l_shipdate/ts still reach parquet as
      // PushedFilters — a projection-level NTZ→LTZ cast would sit between
      // the filter and the scan and defeat pushdown (Tables.t keeps that
      // cast only as a fallback for sessions not built here).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // runtime bloom-filter injection OFF: InjectRuntimeFilter embeds a
      // copy of the creation-side plan per injected filter and re-walks
      // size-only stats (BigInt PRODUCTS across join children) over the
      // growing tree — on deep self-join plans (d8's pair graph over the
      // 16-way blocked LSH join) the estimate reaches thousands of digits
      // and the driver spends MINUTES in BigInteger math before the first
      // task launches. This library pins its join shapes explicitly
      // (broadcast()/hint + PlanShapeSpec guards) and builds its own bloom
      // prefilter where one pays (p13), so the rule only adds risk here.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // managed tables (the bucketed-join path) land in /tmp, not a
      // spark-warehouse dir inside the repo working copy. Namespaced per
      // PROCESS: writeBucketed drops + recursively deletes table dirs, so
      // two concurrent sessions (Bench and Verify both running
      // q22_bucketed_join) sharing one warehouse could delete each other's
      // files mid-read.
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft/warehouse-${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
  }

  /** Free every cached artifact a query left behind: SQL-cache entries AND
    * localCheckpoint RDD blocks (the SQL cache manager does not track the
    * latter). Blocking, so the next query/measurement never pays for a
    * predecessor's cleanup.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
