package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the training-data-pipeline
  * extensions) is registered as an [[Op]] in one of the groups below; this
  * object only assembles the registry.
  */
object SparkEntry {

  private def groups: Seq[OpGroup] =
    Seq(Relational, Joins, CdcMerge, graft.etl.Pipeline, TextOps, DedupOps,
      AnalyticsOps,
      SimilarityOps, PqOps, Curate, TimeSeriesOps, ProfileOps,
      graft.multimodal.Multimodal,
      graft.streaming.Sessionize, graft.sources.Warehouse)

  private lazy val allOps: Seq[Op] = {
    val ops = groups.flatMap(_.ops)
    require(ops.map(_.name).distinct.size == ops.size, "duplicate op names")
    ops
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline artifact: agg_disorders_per_admission
    * (DWH.sql:203-210) at admission grain.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPerAdmission(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map(o => o.name -> o.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allOps.flatMap(o => o.oracle.map(o.name -> _)).toMap
}
