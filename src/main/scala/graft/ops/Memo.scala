package graft.ops

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}

/** The per-session artifact store: every memoized layer, index, model and
  * driver scalar, keyed by (session, sfDir, tag).
  *
  * Spark's cache manager matches *canonicalized plans*, which works for
  * pure-DataFrame pipelines but not for plans containing an RDD scan
  * (e.g. the zipWithIndex surrogate-key stage): every build yields a new
  * `LogicalRDD`, so a second `Stage.build` would recompute the world.
  * Returning the same instance makes every downstream query share one
  * plan — and therefore one cache entry; driver-side artifacts (IVF
  * model, PQ codebook) skip repeating their corpus passes.
  *
  * The contract:
  *  - Scope: the key holds the session itself, so two sessions (a
  *    `newSession()` child included) never share an artifact.
  *  - Once per key: a concurrent caller of the same key waits for the
  *    first build. The cell is inserted with `computeIfAbsent` and
  *    forced outside it, so nested builds (the band table builds the
  *    shingle table, the DWH layer the stage layer) stay reentrant. A
  *    build that throws is not cached; the next call builds again.
  *  - Staleness: a (session, dir) pair reads ONE testdata generation;
  *    regenerating a dir under a live session is not supported (the
  *    stream feed snapshots carry their own stamp). Values baked into
  *    results, like the dedup sample modulus, are no exception.
  *  - Retention: at most [[MaxEntries]] built keys, evicted oldest
  *    first. An evicted DataFrame is unpersisted, any other value is
  *    dropped; the next call rebuilds, so eviction never costs
  *    correctness. Only the memoized top-level frame is released: a
  *    cache created INSIDE a builder that the final plan no longer
  *    references must be released by the builder itself.
  */
object Memo {

  private final case class Key(s: SparkSession, dir: String, tag: String)

  private final class Cell(key: Key, build: => Any) {
    lazy val value: Any = { val v = build; retain(key, this, v); v }
  }

  private val store = new ConcurrentHashMap[Key, Cell]()

  /** Sized for ~3 (session, dir) generations: one dir's full artifact
    * surface is ~50 tags plus 10 source-table relations, and the bench
    * touches two dirs per run (sf0.001 warm-up + the target). A bound
    * near one generation's entry count would evict HOT artifacts mid-run
    * and silently recompute them.
    */
  private val MaxEntries = 192
  private val order = new java.util.ArrayDeque[(Key, Cell, Any)]()

  private def retain(key: Key, cell: Cell, v: Any): Unit = {
    val evicted = order.synchronized {
      order.addLast((key, cell, v))
      if (order.size > MaxEntries) Option(order.pollFirst()) else None
    }
    evicted.foreach { case (k, c, old) =>
      store.remove(k, c)
      old match {
        case ds: Dataset[_] =>
          try ds.unpersist(blocking = false)
          catch { case NonFatal(_) => () } // session may already be stopped
        case _ => ()
      }
    }
  }

  def of[T](s: SparkSession, dir: String, tag: String)(build: => T): T = {
    val key = Key(s, dir, tag)
    val cell = store.computeIfAbsent(key, _ => new Cell(key, build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => store.remove(key, cell); throw e }
  }

  /** Live entry count. */
  private[graft] def size: Int = store.size
}
