package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of (point-in-time) join — a whole-operator Spark extension
  * (SURVEY.md §7.3 / builder-prompt custom-operator path (c)): custom
  * LogicalPlan + Strategy + SparkPlan, planned via
  * `spark.experimental.extraStrategies` (or [[GraftExtensions]] for
  * `withExtensions` users).
  *
  * Semantics: LEFT as-of — for every left row, the single right row with
  * the same key and the greatest rightTime <= leftTime; NULLs when none.
  * Spark has no native operator for this; the DataFrame workaround
  * (range-join all candidates, then window/min_by per left row) shuffles
  * every candidate match. This operator instead requires both children
  * clustered on the key and sorted by (key, time) — one shuffle+sort per
  * side, same as a SortMergeJoin — and then streams both sorted
  * partitions through a single merge scan carrying ONE remembered right
  * row: O(|L| + |R|) per partition, no candidate blow-up, no window. At
  * 100 TB this is the difference between a bounded merge and an
  * intermediate table of every (event × window) candidate pair.
  *
  * v1 restrictions (enforced by [[AsOf.asLong]]): key must be an integral
  * type and time a timestamp/long (both evaluated as Long; narrower
  * integrals are Cast-widened, other types rejected at plan time).
  * NULL semantics match DuckDB ASOF: a NULL left key/time null-extends,
  * a NULL right key/time never matches.
  *
  * `tolerance`: when set, a remembered match only joins if
  * `leftTime - rightTime <= tolerance` (same unit as the time columns —
  * micros for timestamps). The best backward match is the closest one,
  * so if it misses the tolerance every earlier row does too.
  *
  * `rightTie`: extra right-side sort expressions appended to the (key,
  * time) ordering requirement. Ties on (key, time) resolve to the LAST
  * row in sort order — without `rightTie` that last row is whichever the
  * upstream sort happened to place last (fine when (key, time) is unique;
  * pass a tie order for determinism otherwise, e.g. a DESCENDING id to
  * resolve ties to the smallest id).
  *
  * Forward ("earliest right time in a window") joins are the same merge
  * on a mirrored timeline — see [[AsOf.joinEarliestInWindow]].
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    tolerance: Option[Long] = None,
    rightTie: Seq[SortOrder] = Nil) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    tolerance: Option[Long], rightTie: Seq[SortOrder])
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTie)

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val nRight = right.output.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val tol = tolerance
      // Emit UnsafeRows: a JoinedRow reaching a consumer that assumes the
      // binary format (e.g. SparkPlan.getByteArrayRdd when this exec is
      // the top node of a collect) is a ClassCastException. Same pattern
      // as SortMergeJoinExec's result projection.
      val toUnsafe = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(outAttrs, outAttrs)
      new Iterator[InternalRow] {
        private val rBuf = rIter.buffered
        private var lastMatch: InternalRow = _
        private var lastMatchKey = 0L
        private var lastMatchTime = 0L
        private var hasMatch = false
        private val nullRight = new GenericInternalRow(nRight)
        private val joined = new JoinedRow

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val keyRaw = lk.eval(l)
          val timeRaw = lt.eval(l)
          // NULL key/time on the left can match nothing → null-extended
          // row, same as DuckDB ASOF. (NULLs sort first under the required
          // Ascending ordering, so the right cursor hasn't moved yet.)
          if (keyRaw == null || timeRaw == null)
            return toUnsafe(joined(l, nullRight))
          val key = keyRaw.asInstanceOf[Long]
          val time = timeRaw.asInstanceOf[Long]
          var scanning = true
          while (scanning && rBuf.hasNext) {
            val r = rBuf.head
            val rkeyRaw = rk.eval(r)
            val rtimeRaw = rt.eval(r)
            if (rkeyRaw == null || rtimeRaw == null) {
              rBuf.next() // NULL-keyed right rows never match — skip
            } else {
              val rkey = rkeyRaw.asInstanceOf[Long]
              val rtime = rtimeRaw.asInstanceOf[Long]
              if (rkey < key || (rkey == key && rtime <= time)) {
                if (rkey == key) {
                  // iterator rows are reused buffers — copy the keeper
                  lastMatch = r.copy()
                  lastMatchKey = rkey
                  lastMatchTime = rtime
                  hasMatch = true
                }
                rBuf.next()
              } else scanning = false
            }
          }
          // The remembered match has the greatest rightTime <= leftTime;
          // if even it misses the tolerance, every earlier row does too.
          val ok = hasMatch && lastMatchKey == key &&
            tol.forall(time - lastMatchTime <= _)
          toUnsafe(joined(l, if (ok) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol, tie) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol, tie) :: Nil
    case _ => Nil
  }
}

/** `SparkSession.Builder.withExtensions(new GraftExtensions)` — the
  * injection path for sessions the library owns. Installs the as-of
  * planner strategy and the custom expressions as SQL functions
  * ([[GraftFunctions]]), so the full surface is available from session
  * construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => RangeJoinRewrite)
    e.injectOptimizerRule(_ => DotProductRewrite)
    GraftFunctions.all.foreach(e.injectFunction)
  }
}

/** DataFrame-level API. Installs the strategy into the session's
  * experimental strategies if absent (works on sessions built without
  * `withExtensions`, e.g. the driver's).
  */
object AsOf {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, TimestampType}

  /** v1 input contract, enforced here: keys/times must evaluate as Long.
    * Narrower integrals are widened with a Cast; anything else (string,
    * decimal, …) is rejected eagerly instead of failing at execution.
    * TimestampType already evaluates as Long (epoch micros).
    */
  private def asLong(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): org.apache.spark.sql.catalyst.expressions.Expression =
    e.dataType match {
      case LongType | TimestampType => e
      case ByteType | ShortType | IntegerType => Cast(e, LongType)
      case t => throw new IllegalArgumentException(
        s"as-of join $what must be integral or timestamp, got $t")
    }

  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame =
    join(left, right, left(leftKey), right(rightKey),
      left(leftTime), right(rightTime))

  /** Column-expression form with the full option surface. `tolerance`
    * is in the time columns' unit (micros for timestamps); `rightTieDesc`
    * columns are required DESCENDING after (key, time) on the right, so
    * (key, time) ties resolve to the smallest tie value.
    */
  /** Resolve a Column against `df`'s plan and return the typed
    * expression over `df`'s output attributes. A composed Column
    * (`-unix_micros(col)`) converts to an UNRESOLVED function node via
    * the bridge (dataType = NullType) — running it through a throwaway
    * `select`'s analysis yields the resolved child, which also keeps
    * chained as-of merges sort-reusable (the expression references the
    * same attribute ids the previous merge's output ordering carries).
    */
  private def resolved(df: DataFrame,
      c: org.apache.spark.sql.Column): Expression =
    df.select(c).queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.head match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case e => e
        }
      case _ => GraftSqlBridge.expression(c)
    }

  def join(left: DataFrame, right: DataFrame,
      leftKey: org.apache.spark.sql.Column,
      rightKey: org.apache.spark.sql.Column,
      leftTime: org.apache.spark.sql.Column,
      rightTime: org.apache.spark.sql.Column,
      tolerance: Option[Long] = None,
      rightTieDesc: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val spark = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val tie = rightTieDesc.map(c => SortOrder(resolved(right, c), Descending))
    val plan = AsOfJoinPlan(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      asLong(resolved(left, leftKey), "left key"),
      asLong(resolved(right, rightKey), "right key"),
      asLong(resolved(left, leftTime), "left time"),
      asLong(resolved(right, rightTime), "right time"),
      tolerance, tie)
    GraftSqlBridge.ofRows(spark, plan)
  }

  /** Interval-backfill as an as-of merge: for every left row, the right
    * row with the same key and the EARLIEST rightTime inside
    * `[leftTime - windowMicros, leftTime]` (i.e. the earliest window
    * `[rightTime, rightTime + windowMicros]` that covers leftTime,
    * bounds inclusive), ties on rightTime resolved to the smallest
    * `tieId`. NULLs when no window covers the row.
    *
    * This is the backward as-of on a MIRRORED timeline: with
    * `lt' = -leftTime` and `rt' = -rightTime - windowMicros`,
    * "greatest rt' <= lt' within tolerance windowMicros" is exactly
    * "smallest rightTime >= leftTime - windowMicros with
    * rightTime <= leftTime". Same one-merge-scan execution — no
    * (row × window) candidate join, no per-key window sort — and because
    * `lt'` is a pure function of the left time, chained backfills over
    * the same key reuse both the partitioning and the sort of the
    * previous merge's output (EnsureRequirements inserts nothing).
    * Both time columns must be TimestampType.
    */
  def joinEarliestInWindow(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      windowMicros: Long, tieId: String): DataFrame = {
    import org.apache.spark.sql.functions.{lit, unix_micros}
    join(left, right,
      left(leftKey), right(rightKey),
      -unix_micros(left(leftTime)),
      -unix_micros(right(rightTime)) - lit(windowMicros),
      tolerance = Some(windowMicros),
      rightTieDesc = Seq(right(tieId)))
  }
}
