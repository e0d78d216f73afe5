package graft

import org.apache.spark.sql.SparkSession

/** Stable per-session identity for process-wide cache keys.
  *
  * `System.identityHashCode(spark)` is NOT a session identity: identity
  * hashes can be reused after a session is GC'd, so a new session allocated
  * later could alias a dead session's cache rows (r12 advisor, AnnIndex
  * quantizer cache). A weak-keyed UUID map cannot alias — the entry dies
  * with the session and a fresh session always mints a fresh id — and the
  * weak keys keep this registry from pinning stopped sessions in memory.
  */
object Sessions {
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def id(spark: SparkSession): String =
    ids.computeIfAbsent(spark, _ => java.util.UUID.randomUUID.toString)

  private val scratch = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  /** An empty `java.io.tmpdir/graft_<name>_<session id>` for a query that
    * writes and reads back a table: keyed by session, so two sessions (or
    * two JVMs) never clobber each other's copy; cleared on every call, so a
    * rerun starts clean; deleted when the session's SparkContext stops.
    */
  def scratchDir(spark: SparkSession, name: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_${id(spark)}")
    graft.sources.Writers.deleteRecursively(dir)
    if (scratch.add(dir))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          graft.sources.Writers.deleteRecursively(dir)
          scratch.remove(dir)
        }
      })
    dir
  }
}
