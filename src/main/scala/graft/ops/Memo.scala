package graft.ops

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** The artifact store: every memoized layer, index, model and driver
  * scalar, keyed by (session, sfDir, tag), plus the JVM-wide parquet
  * schemas that [[graft.Tables.parquet]] infers.
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
  *  - Scope: a session artifact's key holds the session itself, so two
  *    sessions (a `newSession()` child included) never share one. The
  *    schema scope is session-free: its values are immutable
  *    `StructType`s that reference no session, keyed by a file-identity
  *    stamp plus the SQL confs that shape parquet inference, so a
  *    schema any session inferred is exactly what another session's
  *    inference of the same files would return.
  *  - Once per key: a concurrent caller of the same key waits for the
  *    first build. The cell is inserted with `computeIfAbsent` and
  *    forced outside it, so nested builds (the band table builds the
  *    shingle table, the DWH layer the stage layer) stay reentrant. A
  *    build that throws is not cached; the next call builds again.
  *  - Staleness: a (session, dir) pair reads ONE testdata generation;
  *    regenerating a dir under a live session is not supported (the
  *    stream feed snapshots carry their own stamp). Values baked into
  *    results, like the dedup sample modulus, are no exception. A
  *    schema key carries its files' identity (names, lengths, mtimes),
  *    so a rewritten file gets a new key and never a stale schema.
  *  - Retention: each scope has its own bound, [[SessionEntries]] built
  *    session keys and [[SchemaEntries]] schemas, evicted oldest first;
  *    filling one scope never evicts from the other. An evicted
  *    DataFrame is unpersisted, any other value is dropped; the next
  *    call rebuilds, so eviction never costs correctness. Only the
  *    memoized top-level frame is released: a cache created INSIDE a
  *    builder that the final plan no longer references must be released
  *    by the builder itself.
  */
object Memo {

  /** One bounded, build-once map. */
  private final class Scope(maxEntries: Int) {

    private final class Cell(key: Any, build: => Any) {
      lazy val value: Any = { val v = build; retain(key, this, v); v }
    }

    private val store = new ConcurrentHashMap[Any, Cell]()
    private val order = new java.util.ArrayDeque[(Any, Cell, Any)]()
    private val builds = new java.util.concurrent.atomic.AtomicLong

    private def retain(key: Any, cell: Cell, v: Any): Unit = {
      builds.incrementAndGet()
      val evicted = order.synchronized {
        order.addLast((key, cell, v))
        if (order.size > maxEntries) Option(order.pollFirst()) else None
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

    def of[T](key: Any)(build: => T): T = {
      val cell = store.computeIfAbsent(key, _ => new Cell(key, build))
      try cell.value.asInstanceOf[T]
      catch { case e: Throwable => store.remove(key, cell); throw e }
    }

    def size: Int = store.size

    /** Builds that completed, evictions notwithstanding. */
    def built: Long = builds.get
  }

  private final case class Key(s: SparkSession, dir: String, tag: String)

  /** Sized for ~3 (session, dir) generations: one dir's full artifact
    * surface is ~56 tags (the triangle edges, the k-gram table, two
    * quality samples and the perplexity frame included) plus 10
    * source-table relations, and the bench touches two dirs per run
    * (sf0.001 warm-up + the target). A bound
    * near one generation's entry count would evict HOT artifacts mid-run
    * and silently recompute them.
    */
  private val SessionEntries = 192

  /** A schema is a few hundred bytes. Measured at sf0.001: a first pass
    * over all 228 ops infers 45 (source tables, layers, layouts, version
    * dirs), and a later pass none, since the files an op rewrites per
    * call (stream generations, vacuum's versions) are read back with
    * their writer's schema. 512 holds several dirs' first-pass sets.
    */
  private val SchemaEntries = 512

  private val sessions = new Scope(SessionEntries)
  private val schemas = new Scope(SchemaEntries)

  def of[T](s: SparkSession, dir: String, tag: String)(build: => T): T =
    sessions.of(Key(s, dir, tag))(build)

  /** The schema memoized under `stamp`, inferring it on a miss. */
  private[graft] def schema(stamp: Any)(infer: => StructType): StructType =
    schemas.of(stamp)(infer)

  /** Live session-artifact count. */
  private[graft] def size: Int = sessions.size

  /** Live schema count. */
  private[graft] def schemaCount: Int = schemas.size

  /** Schemas inferred so far; unlike [[schemaCount]] it still moves once
    * the scope is full.
    */
  private[graft] def schemaInferences: Long = schemas.built
}
