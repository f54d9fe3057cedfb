package graft

import org.apache.spark.sql.DataFrame

/** Plan-inspection utility: prints the formatted physical plan for the
  * named queries (or a summary line for all) so shuffle/broadcast/pushdown
  * regressions are visible. `runMain graft.Explain [sfDir] [query...]`.
  *
  * [[counters]] is the reusable core — ExtensionsSpec pins the counts for
  * the most expensive queries, so an accidentally added exchange fails CI
  * instead of surfacing as a bench regression two rounds later.
  */
object Explain {

  /** Every node of a physical plan tree, with the two descents the scale
    * audits need and a naive `plan.collect` lacks:
    *
    *  - AQE: descends through [[AdaptiveSparkPlanExec]] via `initialPlan`
    *    (not `inputPlan`: inputPlan is pre-EnsureRequirements and so
    *    contains NO exchange nodes at all — join/window counts are
    *    identical on either, but exchange counters need the plan AQE
    *    actually starts from, where shuffles exist as
    *    ShuffleExchangeExec nodes);
    *  - caches: descends into each [[InMemoryTableScanExec]]'s
    *    `relation.cachedPlan` — the ORIGINAL physical plan of the cached
    *    builder — exactly once per distinct cached plan no matter how
    *    many scans reference it. Without this a Memo-persisted frame
    *    makes any plan audit permanently blind to a scale-killer inside
    *    its builder: the r9 review found a loop join hiding this way,
    *    and the r12 review found an unpartitioned window hiding the same
    *    way (`dimProvider`, since fixed) because the window auditor read
    *    the logical plan, where cached subtrees collapse to
    *    InMemoryRelation leaves. Counting each cached plan once keeps
    *    counts independent of cache warmth, so exact == pins stay stable.
    *
    * Subquery plans are included at every level.
    */
  def planNodes(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val seenCached = new java.util.IdentityHashMap[
      org.apache.spark.sql.execution.SparkPlan, Unit]()
    val out = Seq.newBuilder[org.apache.spark.sql.execution.SparkPlan]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      out += p
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case s: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec =>
          val cached = s.relation.cachedPlan
          if (seenCached.containsKey(cached)) Nil
          else { seenCached.put(cached, ()); Seq(cached) }
        case _ => p.children
      }
      (kids ++ p.subqueries).foreach(walk)
    }
    walk(root)
    out.result()
  }

  /** Physical-plan operator counts for a query. Cached subtrees print
    * their whole child plan at EVERY InMemoryTableScan reference, so a
    * raw substring count multiplies shared subplans; plan_ids are stable
    * across those reprints — count distinct ids (execution runs each
    * once). Keys: shuffles (hash-partitioning exchanges), broadcasts,
    * sortMergeJoins, codegenSpans, pushedFilterScans.
    */
  def counters(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan.toString
    def distinctIds(kind: String): Int =
      (kind + "[^\\n]*?\\[plan_id=(\\d+)\\]").r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
    // Join nodes are counted on the plan TREE ([[planNodes]]), not the
    // string: a cached subtree's plan reprints at every
    // InMemoryTableScan reference, and BNLJ/SMJ lines carry no plan_id
    // to dedupe on — a raw substring count therefore depends on which
    // shared frames happen to be cached when the query plans (suite
    // flakiness, r9). See planNodes for the AQE/cache descent rules.
    def treeCount(root: org.apache.spark.sql.execution.SparkPlan,
        isHit: org.apache.spark.sql.execution.SparkPlan => Boolean): Int =
      planNodes(root).count(isHit)
    def hits(prefixes: String*)(
        p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      prefixes.exists(p.nodeName.startsWith)
    val exec = df.queryExecution.executedPlan
    Map(
      "shuffles" -> distinctIds("Exchange hashpartitioning"),
      // tree-walked, cache-deduped exchange count (the join-node
      // discipline extended to Exchange): the plan-STRING reprint of a
      // Memo-cached subtree can show ONE physical exchange under two
      // plan_ids, which forced pins to a loose <=; this counter walks
      // the tree, counts each distinct cached plan once, and so supports
      // exact == pins regardless of cache-reprint timing. ReusedExchange
      // nodes are a different class and correctly don't count.
      "shufflesTree" -> treeCount(exec, {
        case se: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec =>
          se.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        case _ => false
      }),
      "broadcasts" -> distinctIds("BroadcastExchange"),
      "sortMergeJoins" -> treeCount(exec, hits("SortMergeJoin")),
      // the two non-equi scale-killers: O(N·M) row-compare joins
      "nestedLoopJoins" ->
        treeCount(exec, hits("BroadcastNestedLoopJoin", "CartesianProduct")),
      // toString marks codegen stages as "*(n)" prefixes, not the word
      // "WholeStageCodegen"; distinct ids = number of codegen spans.
      "codegenSpans" -> "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet.size,
      "pushedFilterScans" -> "PushedFilters: \\[[^\\]]".r
        .findAllIn(plan).size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Conf.localSession()
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try {
          val df = fn(spark, sfDir)
          val c = counters(df)
          println(f"PLAN $n%-28s shuffles=${c("shuffles")} " +
            f"bcastJoin=${c("broadcasts")} sortMergeJoin=${c("sortMergeJoins")} " +
            f"nestedLoop=${c("nestedLoopJoins")} " +
            f"codegenSpans=${c("codegenSpans")} pushedFilterScans=${c("pushedFilterScans")}")
          if (args.length > 1) println(df.queryExecution.executedPlan.toString)
        } catch { case e: Throwable => println(s"PLAN $n ERROR: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
