package graft

import org.apache.spark.sql.SparkSession

/** Deployment conf profiles: the measured scale-tier escapes as CODE,
  * not prose. Each entry exists because an A/B measured it (citations
  * inline); entrypoints apply a tier instead of every deployment
  * re-reading ARCHITECTURE.md.
  *
  * Tier selection is data-scale, not cluster-size: `Small` for the test
  * scale factors and any corpus whose dimension/variant tables fit the
  * broadcast threshold; `CorpusScale` once fan-out intermediates
  * (SymSpell variants, shingle tables) outgrow it.
  */
object Conf {

  sealed trait Tier
  /** Test SFs / broadcast-friendly corpora: Spark defaults are already
    * right (auto-broadcast, sort-merge preference). Empty on purpose —
    * the j14 A/B measured the corpus-tier escape 3× WORSE here.
    */
  case object Small extends Tier
  /** 100×+ corpora: fan-out intermediates outgrow broadcast. */
  case object CorpusScale extends Tier

  def profile(tier: Tier): Map[String, String] = tier match {
    case Small => Map.empty
    case CorpusScale => Map(
      // j14 crossover (measured at the 100× corpus): once the variant
      // tables outgrow broadcast, the default sort-merge join SORTS ~75M
      // variant strings — 60% of the query's task-sec. Preferring
      // shuffled-hash skips the sort (327 → 201 task-sec @8 threads)
      // while AUTO-BROADCAST STILL APPLIES for small sides — which is
      // why this is a tier conf and not a .hint() in the operator: the
      // forced shuffle is 3× worse at small scale (Joins.scala, the
      // fuzzyPairs crossover comment).
      "spark.sql.join.preferSortMergeJoin" -> "false",
      // Skewed shuffle joins split at runtime (the keyed-WINDOW audit is
      // the compile-time guard for the shapes AQE can't save).
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
  }

  /** The one local session every `main` in this package runs on:
    * `local[$SPARK_GRAFT_CPUS]` (default 4) with shuffle partitions set
    * to that CPU count, a UTC session zone, the UI off and Spark logging
    * at WARN. `extra` confs are applied last and win — ProfQuery passes
    * its partition count, tier profile and ad-hoc confs this way.
    *
    * No `withExtensions` here on purpose: the graft planner rules and
    * SQL functions install lazily on first use ([[graft.plans.AsOf]]'s
    * joins, the `*Rewrite.install` hooks), as they do in sessions the
    * library does not own, so Verify checks the same planner
    * configuration the benchmark measures.
    */
  def localSession(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parse a tier name (the `SPARK_GRAFT_TIER` env convention). */
  def tier(name: String): Tier = name.trim.toLowerCase match {
    case "corpus" | "corpusscale" | "large" => CorpusScale
    case _ => Small
  }

  /** Apply a tier's profile onto a live session (runtime-settable confs
    * only — every entry above is).
    */
  def apply(spark: SparkSession, t: Tier): Unit =
    profile(t).foreach { case (k, v) => spark.conf.set(k, v) }
}
