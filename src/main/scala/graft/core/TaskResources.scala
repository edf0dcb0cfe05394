package graft.core

/** Per-task resource tracking for the bounded readers. */
object TaskResources {

  /** `scan(c)` over a task-opened `c`, which closes once the scan is
    * exhausted — or, when a consumer terminates early (limit, take) and
    * never drains it, when the task completes. Outside a running task
    * (unit code driving iterators directly) there is no listener, only
    * the close on exhaustion; double-close is safe (socket close is
    * idempotent, and the listener wraps the close in Try).
    */
  def closing[C <: AutoCloseable, T](c: C)(scan: C => Iterator[T])
      : Iterator[T] = {
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => scala.util.Try(c.close())))
    val it = scan(c)
    new Iterator[T] {
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) c.close()
        h
      }
      def next(): T = it.next()
    }
  }
}
