package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, sfDir) DataFrame memoizer.
  *
  * Spark's cache manager matches *canonicalized plans*, which works for
  * pure-DataFrame pipelines but not for plans containing an RDD scan
  * (e.g. the zipWithIndex surrogate-key stage): every build yields a new
  * `LogicalRDD`, so a second `Stage.build` would recompute the world.
  * Returning the same DataFrame instance makes every downstream query
  * share one plan — and therefore one cache entry.
  */
object Memo {
  private val store = new ConcurrentHashMap[String, DataFrame]()

  /** Bounded retention: beyond this many live entries the oldest are
    * dropped and their cache blocks released. Eviction is safe for
    * correctness — an evicted DataFrame is still a valid lazy plan, it
    * just recomputes (or re-caches) on next use — so a long-lived
    * service can't accumulate executor storage across many sessions or
    * scale-factor dirs. Limitation: only the memoized top-level frame is
    * unpersisted; a cache created INSIDE a builder (e.g. an intermediate
    * `.cache()` the final plan no longer references) must be released by
    * the builder itself or via `spark.catalog.clearCache()`.
    */
  /** Default sized for ~3 (session, dir) generations: one dir's full
    * artifact surface is ~45 layer/index tags plus 10 source-table
    * relations (Tables.load routes through here for the same bounded
    * retention), and the bench touches two dirs per run (sf0.001 warm-up
    * + the target). A bound near one generation's entry count would
    * evict HOT artifacts mid-run and silently recompute them.
    */
  private val MaxEntries = 192
  private val order = new java.util.ArrayDeque[String]()

  private def recordInsert(key: String): Unit = {
    val evicted = order.synchronized {
      order.addLast(key)
      if (order.size > MaxEntries) Option(order.pollFirst()) else None
    }
    evicted.foreach { k =>
      val df = store.remove(k)
      if (df != null)
        try df.unpersist(blocking = false)
        catch { case _: Throwable => () } // session may already be stopped
    }
  }

  /** Memoized builds nest (e.g. the band table builds the shingle table),
    * so this must NOT use computeIfAbsent: a recursive update of the same
    * map throws IllegalStateException whenever the two keys share a hash
    * bin. get + putIfAbsent is reentrant; a concurrent duplicate build is
    * harmless (identical plans share one cache entry anyway).
    */
  def of(s: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val key = s"${System.identityHashCode(s)}|$dir|$tag"
    val existing = store.get(key)
    if (existing != null) existing
    else {
      val built = build
      val prev = store.putIfAbsent(key, built)
      if (prev != null) prev
      else { recordInsert(key); built }
    }
  }
}
