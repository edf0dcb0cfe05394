package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region: a layer call or a phase, with the region that caused
  * it. Every span of one benchmark run carries that run's id.
  */
final case class Span(name: String, startMs: Long, endMs: Long,
    parent: String, runId: String)

/** Spark-side work attributed to one span label. */
final class SpanWork {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans in memory and, when tracing is on, the Spark scheduler's
  * view of each span: jobs, tasks, task CPU, GC, shuffle bytes and task
  * intervals, keyed by the `perfbench.span` local property the harness
  * sets around each timed call. Written out once, when the run ends.
  */
final class Tracer(val sc: SparkContext, val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = new ConcurrentHashMap[String, SpanWork]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()
  private var fenceSeq = 0
  private val Key = "perfbench.span"

  private def label(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Key)))

  private def workOf(l: String): SpanWork =
    work.computeIfAbsent(l, _ => new SpanWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      label(e.properties).foreach(l => workOf(l).synchronized(workOf(l).jobs += 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      label(e.properties).foreach(l => stageLabel.put(e.stageInfo.stageId, l))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageLabel.get(e.stageId)).foreach { l =>
        val w = workOf(l)
        w.synchronized {
          w.tasks += 1
          w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          Option(e.taskMetrics).foreach { m =>
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private val fenceListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      label(e.properties).flatMap(l => Option(fences.get(l)))
        .foreach(_.countDown())
  }

  if (enabled) {
    sc.addSparkListener(listener)
    sc.addSparkListener(fenceListener)
  }

  /** Times `f` as span `name` under `parent`; Spark work started by this
    * thread meanwhile is attributed to `name` when tracing is on.
    */
  def span[T](name: String, parent: String)(f: => T): T = {
    val prior = sc.getLocalProperty(Key)
    if (enabled) sc.setLocalProperty(Key, name)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Key, prior)
      spans.synchronized(spans += Span(name, t0, t1, parent, runId))
    }
  }

  def spansNamed(name: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name == name).toList)

  /** Blocks until the listener has seen every event posted before this
    * call: a marker job's start reaches the listeners after all earlier
    * task and job events, since one queue delivers them in order.
    */
  def drain(): Unit = if (enabled) {
    fenceSeq += 1
    val l = s"fence-$fenceSeq"
    val latch = new CountDownLatch(1)
    fences.put(l, latch)
    val prior = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, l)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, prior)
    if (!latch.await(30, TimeUnit.SECONDS))
      throw new IllegalStateException("listener events did not drain")
    work.remove(l)
  }

  def workFor(name: String): SpanWork =
    Option(work.get(name)).getOrElse(new SpanWork)

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    sc.removeSparkListener(fenceListener)
  }

  /** Every span and its Spark work as one JSON document. */
  def json(): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ss = spans.synchronized(spans.toList).map { s =>
      val w = workFor(s.name)
      s"""{"name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""parent":${q(s.parent)},"run_id":${q(s.runId)},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},"task_cpu_ns":${w.cpuNs},""" +
        s""""gc_ms":${w.gcMs},"shuffle_write_bytes":${w.shuffleWriteBytes}}"""
    }
    ss.mkString("{\"spans\":[\n", ",\n", "\n]}\n")
  }
}

/** Keeps every micro-batch progress report of the streaming queries. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toList
}
