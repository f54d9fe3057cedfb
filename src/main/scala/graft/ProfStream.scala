package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-query profile: `runMain graft.ProfStream <sfDir> <query>...`
  * runs each named query twice with a StreamingQueryListener attached and
  * prints every micro-batch's duration breakdown (triggerExecution,
  * addBatch, getBatch, walCommit, commitOffsets, queryPlanning) plus the
  * state-operator totals — the lens for "wall ≫ task, WHICH part of the
  * micro-batch machinery is waiting".
  */
object ProfStream {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfStream <sfDir> <query> [query...]")
    val sfDir = args.head
    val spark = Conf.localSession()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"PROFS start ${e.name}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        val st = Option(p.stateOperators).getOrElse(Array.empty)
          .map(s => s"rows=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
            s"commitMs=${s.commitTimeMs} mem=${s.memoryUsedBytes}")
          .mkString(" | ")
        println(s"PROFS batch=${p.batchId} rows=${p.numInputRows} $dur" +
          (if (st.nonEmpty) s"\nPROFS   state: $st" else ""))
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      Seq("cold", "warm").foreach { label =>
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"PROFS $name $label total=${(System.nanoTime() - w0) / 1e9}%.3fs")
      }
    }
    spark.stop()
  }
}
