package graft.ops

/** Test-only crash injection shared by the exactly-once writers
  * ([[graft.kafka.KafkaEosSink]], the relay destinations in
  * [[graft.eos]], [[graft.redis.RedisSource.writeExactlyOnce]]):
  * `arm(token)` then pass the token as the writer's `crashBeforeCommit`
  * — exactly ONE task (the atomic winner of the `remove`) dies after
  * staging its epoch but before the commit, simulating a mid-epoch crash. Single-JVM scope
  * (local mode / specs); production callers never arm anything.
  */
object Failpoints {
  private val armedSet =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def arm(token: String): Unit = { armedSet.add(token); () }
  def armed(token: String): Boolean = armedSet.contains(token)
  def fire(token: String): Boolean = armedSet.remove(token)

  /** One-shot callback injection — for races a crash cannot express
    * (e.g. a rival incarnation acting BETWEEN two steps of a protocol):
    * `armHook(token)(f)` then the instrumented point calls
    * `fireHook(token)`, which runs f exactly once (the atomic remove
    * winner) and disarms. Same single-JVM scope as [[arm]].
    */
  private val hooks =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
  def armHook(token: String)(f: () => Unit): Unit = { hooks.put(token, f); () }
  def fireHook(token: String): Boolean = {
    val f = hooks.remove(token)
    if (f != null) { f(); true } else false
  }
}
