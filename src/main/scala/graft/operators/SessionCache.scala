package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import org.apache.spark.sql.SparkSession

/** The operators' one session cache: an expensive build (a checkpointed
  * frame, a trained centroid table) shared by every query of a session
  * over one corpus.
  *
  * An entry is keyed by (session, corpus dir, tag, the session's parsed
  * value of every knob, [[graft.Knobs.values]]), so a build made under
  * one knob setting never serves a caller under another, while a knob
  * left unset and one set to its default share an entry. Tags are
  * prefixed by the owning object (`Dedup.simhash.fp`) and carry the
  * build's non-knob parameters (`Similarity.cent.50`).
  *
  * Each entry is a once-cell: the map only inserts the empty cell, and
  * `build` runs in the first caller's thread, outside the map. Concurrent
  * callers of one key wait for that single build, builds of different
  * keys never wait on each other, and a build may itself `get` other
  * entries; only a cycle of builds can deadlock. A build that throws
  * leaves no entry (the next `get` builds again), and every caller that
  * waited on it sees its exception. Entries of stopped sessions are
  * evicted on every access, so a dead session's checkpoint blocks are not
  * pinned for the JVM's lifetime. A build marks its thread
  * ([[building]]) for [[Sampling]]'s session-vs-scratch scope rule.
  */
object SessionCache {
  private type Key = (SparkSession, String, String, Seq[Any])

  private val cells = new ConcurrentHashMap[Key, FutureTask[Any]]()

  /** Builds running in this thread, nested ones included. */
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private[operators] def building: Boolean = depth.get > 0

  def get[T](spark: SparkSession, corpus: String, tag: String)(build: => T): T = {
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (spark, corpus, tag, graft.Knobs.values(spark).map(_._2))
    val mine = new FutureTask[Any](() => build)
    val cell = cells.computeIfAbsent(key, _ => mine)
    if (cell eq mine) {
      depth.set(depth.get + 1)
      try mine.run() finally depth.set(depth.get - 1)
    }
    try cell.get().asInstanceOf[T]
    catch {
      case e: ExecutionException =>
        cells.remove(key, cell)
        throw e.getCause
    }
  }
}
