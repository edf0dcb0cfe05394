package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.kafka.EmbeddedKafka
import graft.redis.EmbeddedRedis
import perfbench.Stats.Checksum

/** What one run hands to its workload. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Int, workDir: File, sfDir: String)

/** A workload's counts and metrics: `e2e` is measured in every run,
  * `layer` is reported by traced runs.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
}

object Files {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Runs one workload once and writes its result as JSON:
  * `--workload W --seed N --seconds S --trace 0|1 --work-dir D --sf-dir T
  *  --pins P --result R`. `--pin` instead prints the analytics pins.
  */
object Main {
  val Workloads = Seq("bulk-transport", "live-tail", "analytics-sf0.1")
  val SetupRounds = 3

  /** Starts everything a workload needs: a local Spark session with one
    * worker thread per core (at most four), one tiny job, and the embedded
    * kafka and redis servers, which are stopped again.
    */
  def setup(workDir: File): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(cpus.toString)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(workDir, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    new EmbeddedKafka().close()
    new EmbeddedRedis().close()
    spark
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def readPins(path: String): Map[String, Checksum] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, rows, hash) = l.split("\t")
      q -> Checksum(rows.toLong, hash.toLong)
    }.toMap
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** Exits explicitly, so that no thread a workload leaves behind can keep
    * the JVM alive: 0 once the result is written, 1 on any failure.
    */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workDir = new File(opt("--work-dir"))
    workDir.mkdirs()

    if (opts.contains("--pin")) {
      val spark = setup(workDir)
      Analytics.Queries.foreach { q =>
        val c = Analytics.pin(graft.SparkEntry.queries(q)(spark, opt("--sf-dir")))
        println(s"$q\t${c.count}\t${c.sum}")
      }
      spark.stop()
      return
    }

    val workload = opt("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"

    val setupS = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      val s = setup(workDir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds) s.stop()
      dt
    }
    val spark = SparkSession.active
    val runId = s"$workload-$seed-${if (trace) "traced" else "plain"}-" +
      ProcessHandle.current().pid()
    val tracer = new Tracer(spark.sparkContext, trace, runId)
    val ctx = Ctx(spark, tracer, seed, seconds, workDir,
      opts.getOrElse("--sf-dir", ""))

    val out = workload match {
      case "bulk-transport" =>
        val o = Bulk.run(ctx)
        if (trace) Probes.run(ctx).foreach { case (k, v) => o.layer(k) = v }
        o
      case "live-tail" => LiveTail.run(ctx)
      case "analytics-sf0.1" => Analytics.run(ctx, readPins(opt("--pins")))
    }
    out.e2e("setup_s") = (Stats.median(setupS), "s")
    out.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    out.layer("failed_ratio") = (out.failed.toDouble / math.max(1L, out.attempted),
      "ratio")
    tracer.stop()
    if (trace) {
      val f = new File(workDir, s"trace-$runId.json")
      java.nio.file.Files.write(f.toPath, tracer.json().getBytes("UTF-8"))
      System.err.println(s"[perfbench] spans written to $f")
    }
    spark.stop()

    val body = s"""{"correct":${out.failed == 0 && out.attempted > 0},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""e2e":${metricsJson(out.e2e)},"layer":${metricsJson(out.layer)}}"""
    java.nio.file.Files.write(new File(opt("--result")).toPath,
      body.getBytes("UTF-8"))
  }
}
