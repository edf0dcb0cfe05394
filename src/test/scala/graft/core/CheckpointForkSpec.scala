package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.TestSession
import graft.ops.StreamJoin
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the per-trigger floor: a checkpointed stateful
  * query on a local path starts no OS process through Hadoop's `Shell`
  * (`readlink` from FileContext's rename, `chmod` from every create).
  * Counted in-process with a JFR recording of `jdk.ProcessStart`.
  */
class CheckpointForkSpec extends AnyFunSuite {

  test("five gatedByKey triggers over a local checkpoint start no Hadoop shell process") {
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    def msgs(trigger: Int): Seq[SeaMessage] =
      for (key <- Seq("a", "b"); shard <- 0L to 1L) yield
        SeaMessage(key, shard, trigger.toLong,
          new java.sql.Timestamp(trigger * 1000L), Array.emptyByteArray)

    val ckpt = Files.createTempDirectory("fork-ckpt")
    val input = MemoryStream[SeaMessage]
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val q = StreamJoin.gatedByKey(input.toDS(), align = Seq("a", "b"), _.shard_id)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt.toString)
      .queryName("fork_free_checkpoint_test").start()
    try {
      for (t <- 1 to 5) {
        input.addData(msgs(t))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      rec.stop()
    }
    val jfr = Files.createTempFile("fork-ckpt", ".jfr")
    try {
      rec.dump(jfr)
      rec.close()
      val shellForks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
      }
      val batches = ckpt.resolve("offsets").toFile.list().count(_.forall(_.isDigit))
      assert(batches >= 5, s"only $batches batches reached the offset log")
      val forks = shellForks.size
      assert(forks == 0, s"$forks Hadoop shell processes over $batches batches, e.g. " +
          shellForks.take(3).map(_.getString("command")).mkString("; "))
    } finally Files.deleteIfExists(jfr)
  }
}
