package graft.plans

import graft.expressions.{BottomKByHash, BoundedTopK, CountMinEstimate, DotProduct, FastMd5, RollingHash}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration for the library's native Catalyst
  * expressions, so a pure-SQL consumer (the reference's user profile —
  * everything in `Leemc7/Clinical-Data-Warehouse-BI` is SQL scripts) can
  * call them without touching the DataFrame API:
  *
  * {{{
  *   SELECT fast_md5(text), rolling_hash(text) FROM documents
  *   SELECT dot_product(embedding, q.q_emb) FROM embeddings, q
  * }}}
  *
  * Two injection paths, same descriptions:
  *  - [[GraftExtensions]] (`SparkSession.Builder.withExtensions`) for
  *    sessions the library owns;
  *  - [[GraftFunctions.register]] for pre-built sessions (the driver's),
  *    via the registry the analyzer resolves against.
  *
  * Because these are `Expression`s (not UDFs), SQL calls stay inside
  * whole-stage codegen exactly like their DataFrame twins.
  */
object GraftFunctions {

  private def one(name: String)(mk: Expression => Expression)
      : (Seq[Expression] => Expression) = {
    case Seq(c) => mk(c)
    case args => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${args.size}")
  }

  private def two(name: String)(mk: (Expression, Expression) => Expression)
      : (Seq[Expression] => Expression) = {
    case Seq(a, b) => mk(a, b)
    case args => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${args.size}")
  }

  /** (identifier, info, builder) triples in the exact shape
    * `SparkSessionExtensions.injectFunction` takes.
    */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("fast_md5"),
      new ExpressionInfo(classOf[FastMd5].getName, "fast_md5"),
      one("fast_md5")(FastMd5.apply)),
    (FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      one("rolling_hash")(RollingHash.apply)),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      two("dot_product")(DotProduct.apply)),
    (FunctionIdentifier("count_min_estimate"),
      new ExpressionInfo(classOf[CountMinEstimate].getName,
        "count_min_estimate"),
      two("count_min_estimate")(CountMinEstimate.apply)),
    (FunctionIdentifier("bottom_k_by_hash"),
      new ExpressionInfo(classOf[BottomKByHash].getName, "bottom_k_by_hash"),
      {
        // k must be a literal: it sizes the aggregation buffer at plan
        // time (the analyzer wraps the bare AggregateFunction).
        case Seq(c, Literal(k: Int, IntegerType)) => BottomKByHash(c, k)
        case args => throw new IllegalArgumentException(
          "bottom_k_by_hash expects (value, k literal int), got " +
            args.mkString(", "))
      }),
    (FunctionIdentifier("bounded_top_k"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_top_k"),
      {
        case Seq(key, id, Literal(k: Int, IntegerType)) =>
          BoundedTopK(key, id, k)
        case args => throw new IllegalArgumentException(
          "bounded_top_k expects (key, id, k literal int), got " +
            args.mkString(", "))
      }))

  /** Idempotent post-hoc registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = GraftSqlBridge.functionRegistry(spark)
    all.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }
}
