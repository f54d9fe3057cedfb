package graft

/** Writes `.explain("formatted")` for named queries to files — the
  * committed plan evidence for optimization rounds:
  * `runMain graft.PlanDump <sfDir> <outDir> <label> <query> [query...]`
  * produces `<outDir>/<query>_<label>.txt`. Runs on Bench's session
  * ([[Conf.localSession]]) so the dumped plan is the plan the bench
  * actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <label> <query> [query...]")
    val Array(sfDir, outDir, label) = args.take(3)
    val spark = Conf.localSession()
    new java.io.File(outDir).mkdirs()
    // GRAFT_PLAN_EXEC=1: collect() the query first so the dumped plan is
    // the POST-EXECUTION adaptive plan (isFinalPlan=true, AQEShuffleRead
    // coalescing visible) — the only view where runtime partition
    // decisions show. Use on small-result queries only (reports).
    val exec = sys.env.get("GRAFT_PLAN_EXEC").contains("1")
    args.drop(3).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      if (exec) { df.collect(); () }
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$label.txt")
      try w.println(txt) finally w.close()
      println(s"[plandump] wrote $outDir/${name}_$label.txt")
    }
    spark.stop()
  }
}
