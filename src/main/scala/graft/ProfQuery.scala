package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Single-query profile with executor-task attribution:
  * `runMain graft.ProfQuery <sfDir> <query> [query...]` runs each named
  * query twice (cold = first-touch index/cache builds, warm = steady
  * state) and prints wall seconds, summed executor task seconds, and
  * shuffle MB per run — the same signals Bench records, without paying
  * for the other 150+ queries.
  */
object ProfQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfQuery <sfDir> <query> [query...]")
    val sfDir = args.head
    // SPARK_GRAFT_PARTS decouples shuffle partitions from cores: the
    // scale-exponent methodology holds rows-per-task constant the way a
    // real cluster does (partitions ∝ data), isolating per-row cost
    // from the n·log(n/P) per-partition sort factor
    val parts = sys.env.get("SPARK_GRAFT_PARTS")
      .map("spark.sql.shuffle.partitions" -> _)
    // SPARK_GRAFT_TIER=corpus applies the measured deployment profile
    // (graft.Conf); SPARK_GRAFT_CONFS="k=v;k=v" layers arbitrary extra
    // confs for A/B experiments on top (explicit confs win).
    val tierConfs = sys.env.get("SPARK_GRAFT_TIER")
      .map(t => Conf.profile(Conf.tier(t))).getOrElse(Map.empty)
    val adHoc = sys.env.get("SPARK_GRAFT_CONFS").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = Conf.localSession(parts.toSeq ++ tierConfs ++ adHoc: _*)
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val shB = new AtomicLong
    // SPARK_GRAFT_STAGES=1: per-stage task-sec attribution (top stages
    // printed after each run) — the lens for "the total is superlinear,
    // WHICH operator grew"
    val stageAttribution = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]
    val stageGc = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]
    val stageRows = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]
    val stageOut = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          shB.addAndGet(m.shuffleReadMetrics.totalBytesRead
            + m.shuffleWriteMetrics.bytesWritten)
          if (stageAttribution) {
            stageMs.computeIfAbsent(te.stageId, _ => new AtomicLong)
              .addAndGet(m.executorRunTime)
            stageGc.computeIfAbsent(te.stageId, _ => new AtomicLong)
              .addAndGet(m.jvmGCTime)
            stageRows.computeIfAbsent(te.stageId, _ => new AtomicLong)
              .addAndGet(m.inputMetrics.recordsRead
                + m.shuffleReadMetrics.recordsRead)
            stageOut.computeIfAbsent(te.stageId, _ => new AtomicLong)
              .addAndGet(m.outputMetrics.recordsWritten
                + m.shuffleWriteMetrics.recordsWritten)
          }
        }
      }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (stageAttribution) {
          // callsite name is often an executor-thread frame; the first
          // graft line of the long-form details names the operator
          val graftLine = ss.stageInfo.details.linesIterator
            .find(_.contains("graft")).getOrElse("").trim
          stageName.put(ss.stageInfo.stageId,
            s"${ss.stageInfo.name} | $graftLine")
        }
    })
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      Seq("cold", "warm").foreach { label =>
        val (t0, g0, s0) = (taskMs.get, gcMs.get, shB.get)
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - w0) / 1e9
        println(f"PROFQ $name%-26s $label%-5s wall=$wall%7.3fs " +
          f"task=${(taskMs.get - t0) / 1e3}%8.3fs " +
          f"gc=${(gcMs.get - g0) / 1e3}%7.3fs " +
          f"shuffle=${(shB.get - s0) / 1e6}%8.1fMB")
        if (stageAttribution) {
          import scala.jdk.CollectionConverters._
          stageMs.asScala.toSeq.sortBy(-_._2.get).take(12).foreach {
            case (sid, ms) =>
              val rIn = Option(stageRows.get(sid)).map(_.get).getOrElse(0L)
              val rOut = Option(stageOut.get(sid)).map(_.get).getOrElse(0L)
              val gc = Option(stageGc.get(sid)).map(_.get).getOrElse(0L)
              println(f"  STAGE $sid%5d ${ms.get / 1e3}%8.3fs " +
                f"gc=${gc / 1e3}%6.3fs in=$rIn%10d out=$rOut%10d  " +
                stageName.getOrDefault(sid, "?").take(90))
          }
          stageMs.clear(); stageGc.clear(); stageRows.clear(); stageOut.clear()
        }
      }
    }
    spark.stop()
  }
}
