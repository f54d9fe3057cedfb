package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Size-derived partition counts for MATERIALIZED artifacts (Memo
  * caches, the rows a loop or an offset pass stores with [[persisted]]).
  *
  * Why this exists: a `.cache()` or a persisted RDD freezes its frame's
  * partition count — AQE does not re-plan inside cached plans (by
  * default, and the global escape was measured and rejected; see
  * OPTIMIZATION_r14.md) — so an artifact built under the
  * session's shuffle partitioning keeps that many partitions no matter
  * how small it is, and EVERY downstream stage that re-scans it launches
  * that many tasks. At bench scale the per-task fixed cost (scheduling,
  * codegen setup, cache-read locking) dominates those stages: the
  * dedup-quality family burned 12–28 task-sec/rep on frames of a few MB.
  * At 100 TB the same constant would under-partition, so the count must
  * come from SIZE, not from either scale's convenient constant.
  *
  * The estimate is parquet-source bytes times a documented multiplier —
  * deliberately coarse (±2–4×): with a 32 MB/partition target the clamp
  * floors tiny artifacts at ONE partition (the bench-scale win) and a
  * 2× estimate error at scale moves partition sizes between 16 and
  * 64 MB, both fine. Only artifacts whose downstream per-row work is
  * CHEAP (forwarding into a shuffle, narrow projections) are sized this
  * way — a compute-dense consumer (per-row md5 over the corpus, exact
  * Levenshtein) must keep its parallelism, which is exactly the lesson
  * from the rejected global conf.
  */
private[graft] object Parts {

  /** Target bytes per partition of a materialized artifact. */
  val targetBytes: Long = 32L << 20

  /** Partition count for an estimated artifact size: ceil(est/32MB),
    * clamped to [1, 2^18] (the upper bound is a runaway guard, ~8 TB of
    * artifact — far above any single cached intermediate's size).
    */
  def forBytes(est: Long): Int =
    math.max(1L, math.min(1L << 18,
      (est + targetBytes - 1) / targetBytes)).toInt

  /** Parquet-source size of a base table in bytes — the scan relation's
    * file-size statistic, free (no job): the scale signal every
    * artifact estimate derives from.
    */
  def sourceBytes(s: SparkSession, dir: String, table: String): Long =
    graft.Tables.load(s, dir, table)
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong

  /** Repartition `df` for materialization at an estimated artifact
    * size. A round-robin exchange of the (small) artifact itself —
    * deliberately a full `repartition`, not `coalesce`: coalesce would
    * narrow the UPSTREAM computation onto the reduced task count, while
    * the artifact's build (scans, aggregations) must keep its own
    * parallelism.
    */
  def sized(df: DataFrame, estBytes: Long): DataFrame =
    df.repartition(forBytes(estBytes))

  /** The rows of `df`, stored for a loop or an offset pass that reads
    * them more than once: an RDD-level persist (memory, spilling to
    * disk) that fills on the first action and keeps its lineage, so a
    * lost block recomputes from the plan instead of failing the query.
    * The frame re-enters through a `LogicalRDD` leaf, so a plan over it
    * stops there. Returns the frame and its RDD: a loop unpersists the
    * RDD of a phase it supersedes, and the ContextCleaner releases any
    * other once it is unreferenced.
    */
  def persisted(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    (GraftSqlBridge.internalCreateDataFrame(df.sparkSession, rows, df.schema),
      rows)
  }
}
