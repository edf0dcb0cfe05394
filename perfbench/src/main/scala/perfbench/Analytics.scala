package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import perfbench.Stats.Checksum

/** `analytics-sf0.1`: a closed loop over a fixed set of the engine's
  * queries on the read-only sf0.1 tables, each result fully materialized
  * and checked against its pinned row count and hash. Like `graft.Bench`,
  * each query is timed on its first execution in the session, after one
  * generic warmup scan: that is what a batch job pays. One pass over the
  * set outlasts the run's measuring time, so a run makes exactly one.
  */
object Analytics {
  /** Catalyst-only relational queries, a shuffle-heavy dedup, an iterative
    * query of many small jobs, exact-decimal arithmetic and two text
    * kernels.
    */
  val Queries = Seq("q3_join_agg", "q16_cube", "q20_percentiles",
    "d3_minhash_lsh", "c2_kmeans_lloyd", "s1_knn_brute", "p15_bpe_tokenize",
    "a4_fingerprint")

  /** Materializes every column of every row of the result, and returns its
    * row count and order-independent hash: one xxhash64 over all columns
    * per row, summed modulo 2^64. The hash needs every column, so no column
    * is pruned, as with `queryExecution.toRdd.count()`.
    */
  def pin(df: DataFrame): Checksum = {
    import df.sparkSession.implicits._
    df.select(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*))
      .as[Long]
      .mapPartitions { it =>
        Iterator(it.foldLeft(Checksum.empty)((c, h) => c.add(h)))
      }
      .collect()
      .foldLeft(Checksum.empty)(_ + _)
  }

  def run(ctx: Ctx, pins: Map[String, Checksum]): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    // the generic warmup graft.Bench makes before its first query
    spark.read.parquet(s"${ctx.sfDir}/lineitem.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()

    Queries.foreach { q =>
      out.attempted += 1
      val got = try Some(ctx.tracer.span(s"analytics.$q", "pass")(
        pin(SparkEntry.queries(q)(spark, ctx.sfDir))))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e"); None
      }
      if (!got.contains(pins(q))) {
        out.failed += 1
        System.err.println(s"[perfbench] $q: got $got, pinned ${pins(q)}")
      }
      GraftSession.releaseCaches(spark)
      System.gc()
    }

    ctx.tracer.drain()
    val secs = Queries.map { q =>
      val s = ctx.tracer.spansNamed(s"analytics.$q").head
      q -> (s.endMs - s.startMs) / 1000.0
    }.toMap
    out.e2e("work_s") = (secs.values.sum, "s")
    out.layer("analytics_s") = (secs.values.sum, "s")
    Queries.foreach { q =>
      out.layer(s"analytics.$q.s") = (secs(q), "s")
      if (ctx.tracer.enabled) {
        val w = ctx.tracer.workFor(s"analytics.$q")
        val s = ctx.tracer.spansNamed(s"analytics.$q").head
        out.layer(s"analytics.$q.jobs") = (w.jobs.toDouble, "count")
        out.layer(s"analytics.$q.task_cpu_s") = (w.cpuNs / 1e9, "s")
        out.layer(s"analytics.$q.shuffle_write_mb") = (w.shuffleWriteBytes / 1e6, "MB")
        out.layer(s"analytics.$q.driver_s") = (Stats.driverMs(s.startMs, s.endMs,
          w.taskIntervals.toSeq) / 1e3, "s")
      }
    }
    out
  }
}
