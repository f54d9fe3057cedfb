package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame

/** Lifetime bound for per-invocation `localCheckpoint()` scratch frames.
  *
  * An eager localCheckpoint truncates lineage by materializing the frame
  * into block-manager storage, and those blocks survive until the
  * ContextCleaner notices the RDD is garbage — which needs a driver GC.
  * A bench run executes 228 queries × up to 4 reps (plus a full warm-up
  * pass), several of which checkpoint multi-million-row intermediates,
  * so storage accumulates across queries and late-run queries pay
  * eviction/GC pressure (the r13 driver-side late-run slowdowns). This
  * registry makes release deterministic:
  *
  *  - an op `track`s every checkpoint that is pure per-invocation
  *    scratch — NOT anything referenced by a [[Memo]]- or layer-cached
  *    frame, whose cache-miss recompute would need the blocks back;
  *  - the query registry ([[graft.SparkEntry.queries]]) `drain`s pending
  *    scratch at the NEXT query-function entry. Queries run sequentially
  *    in every driver path (Bench reps, Verify dumps, the test gate acts
  *    on each frame before constructing the next), so by drain time the
  *    previous query's terminal action has completed and its scratch is
  *    dead.
  *
  * Peak checkpoint storage is therefore one query's worth instead of the
  * whole run's. Frames superseded INSIDE an op (a star-contraction
  * phase's predecessor) are unpersisted at the site instead — they
  * don't survive to the boundary.
  */
object Scratch {
  private val pending = new ConcurrentLinkedQueue[DataFrame]()

  /** Register a per-invocation checkpointed frame for release at the
    * next query boundary. Returns the frame for inline use.
    */
  def track(df: DataFrame): DataFrame = { pending.add(df); df }

  /** Release every pending scratch frame. Checkpoint blocks need the
    * RDD-level release ([[org.apache.spark.sql.GraftSqlBridge
    * .releaseCheckpoint]] — `Dataset.unpersist` only sees cache-manager
    * entries); the Dataset-level unpersist runs too in case a cached
    * frame is ever tracked. Non-fatal failures (stopped session,
    * already-released blocks) are ignored — release is best-effort
    * hygiene, never a correctness gate.
    */
  def drain(): Unit = {
    var df = pending.poll()
    while (df != null) {
      try {
        org.apache.spark.sql.GraftSqlBridge.releaseCheckpoint(df)
        df.unpersist(blocking = false)
      } catch { case NonFatal(_) => () }
      df = pending.poll()
    }
  }
}
