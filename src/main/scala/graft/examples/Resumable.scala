package graft.examples

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.core.{SeaStreamErr, StreamUrl}
import graft.facade.SeaStreamer
import graft.facade.SeaStreamer.{AutoStreamReset, ConsumerMode, ConsumerOptions}

/** The reference's resumable stream processor (examples/src/bin/
  * resumable.rs; examples/README "can be killed anytime, and will
  * continue from where it left off... at least once processing"): a
  * processor whose consume position lives in the BROKER's group offset
  * store — kafka committed offsets, redis group cursor + XACK — so a
  * fresh invocation resumes exactly where the previous one stopped, with
  * no local state.
  *
  * {{{
  * runMain graft.examples.Resumable \
  *   --input redis://localhost:6379/hello1 --output stdio:///hello2 --take 10
  * }}}
  *
  * `--take N` is the CLI twin of the run matrix's `| head -n 10` kill
  * (examples/README.md "kill it before it can process the entire
  * stream"): process ONE committed slice of at most N messages, then
  * exit. It rides the facade's `batchSize` flow control — the very
  * option resumable.rs sets (`set_batch_size`, resumable.rs:53) — so the
  * slice is a single micro-batch whose group-offset commit IS the resume
  * point. Message-then-commit order matches the reference (send, await
  * receipt, then commit, resumable.rs:70-86): the epoch commits only
  * after the batch's sends complete, so a crash between the two
  * re-delivers — at-least-once, exactly as documented there.
  *
  * Without `--take` the processor runs the reference's endless loop,
  * committing every drained slice. Inputs need a group offset store:
  * kafka/redis/iggy qualify; stdio does not (its line file has no group
  * cursor) and file's Resumable refusal comes from the facade.
  */
object Resumable {

  def main(args: Array[String]): Unit = {
    var input: Option[String] = None
    var output: Option[String] = None
    var group = "resumable"
    var take: Option[Long] = None
    var i = 0
    def usage(): Nothing = {
      System.err.println("usage: resumable --input <url> --output <url> " +
        "[--group G] [--take N]")
      sys.exit(2)
    }
    while (i < args.length) {
      args(i) match {
        case "--input" if i + 1 < args.length =>
          input = Some(args(i + 1)); i += 2
        case "--output" if i + 1 < args.length =>
          output = Some(args(i + 1)); i += 2
        case "--group" if i + 1 < args.length =>
          group = args(i + 1); i += 2
        case "--take" if i + 1 < args.length =>
          take =
            try {
              val n = args(i + 1).toLong
              if (n <= 0) throw new NumberFormatException(args(i + 1))
              Some(n)
            } catch { case _: NumberFormatException =>
              System.err.println(
                s"--take must be a positive number: ${args(i + 1)}")
              usage()
            }
          i += 2
        case _ => usage()
      }
    }
    if (input.isEmpty || output.isEmpty) usage()
    val spark = GraftSession.get()
    // run() itself reports the slice + commit status on stderr (the
    // commit can legitimately not happen on a deadline-aborted batch)
    try run(spark, input.get, output.get, group, take)
    finally spark.stop()
  }

  /** Core, testable seam: messages processed this invocation under
    * `--take`; an endless run blocks until stopped and returns -1.
    */
  def run(spark: SparkSession, input: String, output: String,
      group: String, take: Option[Long]): Long = {
    val in = StreamUrl.parse(input)
    val out = StreamUrl.parse(output)
    val inProto = in.streamer.protocol.getOrElse(
      throw SeaStreamErr.Connect(s"no protocol in '$input'"))
    val src = SeaStreamer.connect(SeaStreamer.connString(in), spark)
    if (!src.hasGroupOffsets)
      throw SeaStreamErr.Unsupported(
        "resumable needs a broker-side group offset store to continue " +
          s"from (kafka/redis/iggy); '$inProto' has none")
    // the slice's durable resume point is the facade's commitConsumed —
    // the reference's explicit commit branches exist for exactly kafka
    // and redis (resumable.rs:70-86); --take depends on it, so other
    // backends refuse rather than silently restarting from scratch
    if (take.isDefined && !src.commitsConsumed)
      throw SeaStreamErr.Unsupported(
        s"--take on '$inProto': the explicit commit surface covers " +
          "kafka/redis (resumable.rs's commit branches); run without " +
          "--take to rely on the engine's own per-epoch commits")
    val sink = SeaStreamer.connect(SeaStreamer.connString(out), spark)
    // kill-anytime means re-delivery (a crash between send and commit
    // re-ships the slice); a redis destination must floor those re-sent
    // ts-packed ids at its tip — duplicates land (at-least-once, the
    // documented contract) instead of wedging every rerun on the XADD
    // monotone-id refusal. Same setting the live demo relay uses.
    val producer = sink.createProducer(out.streamKey,
      redisClampToTip = true)
    val consumer = src.createConsumer(in.streamKeys, ConsumerOptions(
      mode = ConsumerMode.Resumable,
      group = Some(group),
      autoStreamReset = AutoStreamReset.Earliest,
      live = true,
      batchSize = take))
    val shipped = new AtomicLong
    val writer = Processor.process(consumer).writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // pin so the count and the send read one snapshot of the batch
        val batch = df.localCheckpoint(true)
        producer.send(batch)
        shipped.addAndGet(batch.count())
        ()
      }
    // one slice per invocation: with the batch capped at `take`, a trigger
    // period far beyond the run's lifetime means exactly one micro-batch
    // executes before the stop below — its commit is the resume point
    take.foreach(_ => writer.trigger(Trigger.ProcessingTime("1 hour")))
    val q = writer.start()
    // Spark's own source-commit cadence lags one batch (batch N commits
    // during batch N+1's construction), so the LAST completed batch of any
    // stopped query is consumed-but-uncommitted; the reference's loop
    // commits explicitly per message (resumable.rs:70-86) and this is that
    // call's batch form. lastProgress only ever reflects COMPLETED batches
    // (foreachBatch's sends finished), so committing its endOffset can
    // mark nothing unprocessed as consumed.
    def commitFinal(): Boolean = {
      val end = if (src.commitsConsumed)
        Option(q.lastProgress)
          .flatMap(p => p.sources.headOption)
          .flatMap(s => Option(s.endOffset))
      else None
      end.foreach(j => src.commitConsumed(group, Some(j)))
      end.isDefined
    }
    take match {
      case None =>
        q.awaitTermination()
        commitFinal()
        -1L
      case Some(_) =>
        // wait for the first COMPLETED batch, then stop and commit it —
        // an empty stream completes a zero-row batch and exits 0
        val deadline = System.currentTimeMillis() + 120000L
        while (q.lastProgress == null && q.isActive &&
            System.currentTimeMillis() < deadline)
          q.awaitTermination(100)
        q.stop()
        while (q.isActive) q.awaitTermination(100)
        val committed = commitFinal()
        // honest status: a deadline-aborted batch can have SHIPPED rows
        // (foreachBatch's sends completed) with no completed-batch
        // progress to commit — saying "committed" there would hide that
        // the next invocation re-delivers
        if (committed)
          System.err.println(s"[resumable] processed ${shipped.get()} " +
            "messages, position committed — rerun to continue")
        else if (shipped.get() > 0)
          System.err.println(s"[resumable] WARNING: ${shipped.get()} " +
            "messages shipped but NO completed batch to commit — the " +
            "next invocation re-delivers this slice (at-least-once)")
        else
          System.err.println("[resumable] nothing to process")
        shipped.get()
    }
  }
}
