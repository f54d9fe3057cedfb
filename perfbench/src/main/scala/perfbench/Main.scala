package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.ops.OpGroup

/** Drives the library from outside, as one client thread on `local[4]`:
  * the workload's build, untimed passes over its ops, repeated set-ups,
  * then timed passes in seeded order, as many as `--seconds` buys.
  * Every op result is checked against the expected signatures of the
  * scale factor (`--expected <dir>`/<sf name>.json) outside the timed
  * region. Writes one JSON result file (`--out`) and, when traced, the
  * span list (`--spans`).
  *
  * `--record <dump dir>` instead computes the expected signatures of
  * `--sf` from a `graft.Verify` dump of it and writes them to
  * `--expected`.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Double = 10, trace: Boolean = false, sf: String = "",
      expected: String = "", out: String = "",
      spans: String = "", record: String = "")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Opts())
    val spark = SparkSession.builder().master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      if (o.record.nonEmpty) record(spark, o) else new Run(spark, o).apply()
    } finally spark.stop()
  }

  @annotation.tailrec
  private def parse(a: List[String], o: Opts): Opts = a match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--sf" :: v :: t => parse(t, o.copy(sf = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--spans" :: v :: t => parse(t, o.copy(spans = v))
    case "--record" :: v :: t => parse(t, o.copy(record = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** Expected signatures of every op, read back from a Verify dump (one
    * parquet dir per op) that tools/check.py passed against the oracle.
    */
  private def record(spark: SparkSession, o: Opts): Unit = {
    val ops = new File(o.record).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    val sigs = ops.map { n =>
      val df = spark.read.parquet(s"${o.record}/$n")
      val s = Logic.signature(df.columns.toSeq, df.collect().iterator)
      n -> Map("rows" -> s.rows, "hash" -> s.hash)
    }
    val doc = Map("sf_dir" -> o.sf, "ops" -> scala.collection.immutable
      .TreeMap(sigs.toIndexedSeq: _*))
    Files.writeString(Paths.get(o.expected),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(doc) + "\n")
    println(s"recorded ${sigs.length} signatures to ${o.expected}")
  }

  /** A build step: a named child span of a build phase. */
  final case class Step(name: String, body: (SparkSession, String) => Unit)

  /** A build phase (a per-layer span) whose lanes of steps run
    * concurrently, each lane's steps in order.
    */
  final case class Phase(name: String, lanes: Seq[Seq[Step]])

  /** A workload: the tables its set-up loads; its build, as lanes of
    * phases that run concurrently (as Bench's layer build overlaps them),
    * each lane's phases in order; and the ops its passes call.
    */
  final case class Workload(tables: Seq[String], build: Seq[Seq[Phase]],
      ops: Seq[String])

  /** Per-layer name of each op group behind SparkEntry.queries. */
  val groupLayers: Seq[(OpGroup, String)] = {
    import graft.ops._
    Seq(Relational -> "ops.relational", Joins -> "ops.joins",
      CdcMerge -> "ops.cdc_merge", graft.etl.Pipeline -> "etl.pipeline",
      TextOps -> "ops.text", DedupOps -> "ops.dedup",
      AnalyticsOps -> "ops.analytics", SimilarityOps -> "ops.similarity",
      PqOps -> "ops.pq", Curate -> "ops.curate",
      TimeSeriesOps -> "ops.timeseries", ProfileOps -> "ops.profile",
      graft.multimodal.Multimodal -> "multimodal",
      graft.streaming.Sessionize -> "streaming",
      graft.sources.Warehouse -> "sources.warehouse")
  }

  lazy val layerOf: Map[String, String] =
    groupLayers.flatMap { case (g, l) => g.ops.map(_.name -> l) }.toMap

  /** Every `stride`-th op, by name, of each of the given layers: a fixed
    * sample that keeps every op group in the pass.
    */
  def sample(layers: Seq[String], stride: Int): Seq[String] =
    groupLayers.filter(g => layers.contains(g._2)).flatMap { case (g, _) =>
      g.ops.map(_.name).sorted.zipWithIndex
        .collect { case (n, i) if i % stride == 0 => n }
    }

  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  val workloads: Map[String, Workload] = {
    import graft.etl.{Dwh, Qa, Stage}
    import graft.sources.{Warehouse => W}
    import graft.ops._
    Map(
      "warehouse_bi" -> Workload(
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"),
        Seq(
          Seq(one("etl.stage", Stage.materialized(_, _)),
            one("etl.dwh", Dwh.materialized(_, _)),
            one("etl.qa", Qa.report(_, _).collect())),
          Seq(Phase("sources.layouts", Seq(Seq(
            Step("sorted", (s, d) => drain(W.sortedLayoutScan(s, d))),
            Step("partitioned", (s, d) => drain(W.partitionedLayoutScan(s, d))),
            Step("zorder", (s, d) => drain(W.zorderLayoutScan(s, d))),
            Step("compaction", (s, d) => drain(W.compaction(s, d))),
            Step("time_travel", (s, d) => drain(W.timeTravel(s, d))),
            Step("sketch_table", (s, d) => drain(Relational.sketchRollup(s, d))),
            Step("corrupt_feed", (s, d) => drain(W.corruptRecords(s, d))),
            Step("bucketed_ddl", (s, d) => drain(W.bucketedJoin(s, d)))))))),
        sample(Seq("ops.relational", "ops.joins", "ops.cdc_merge",
          "etl.pipeline", "ops.analytics", "ops.timeseries", "ops.profile",
          "sources.warehouse"), 10)),
      "corpus_stream" -> Workload(
        Seq("documents", "embeddings", "customer", "events"),
        Seq(
          // three lanes; a consumer shares its producer's lane, so no
          // memoized artifact is computed twice by racing builds
          Seq(Phase("artifacts", Seq(
            Seq(Step("ivf_cells", SimilarityOps.ivfCells(_, _).count()),
              Step("knn_graph", SimilarityOps.knnJoin(_, _).count()),
              Step("graph_layers", SimilarityOps.graphLayerBuilds(_, _)),
              Step("pq_codes", PqOps.pqCodes(_, _).count())),
            Seq(Step("dedup_clusters", DedupOps.dedupClusters(_, _).count()),
              Step("curation_release", { (s, d) =>
                Curate.curatedCorpus(s, d).count()
                drain(Curate.releaseDiff(s, d))
              })),
            Seq(Step("classifier_scores", Curate.classifierFilter(_, _).count()),
              Step("er_resolved", Joins.entityResolve(_, _).count()))))),
          Seq(one("streaming.feeds", graft.streaming.Sessionize.prebuildFeeds(_, _)))),
        sample(Seq("ops.text", "ops.dedup", "ops.similarity", "ops.pq",
          "ops.curate", "multimodal"), 24) ++ sample(Seq("streaming"), 15)))
  }

  /** A phase of a single step, traced as the phase span alone. */
  private def one(name: String, body: (SparkSession, String) => Unit): Phase =
    Phase(name, Seq(Seq(Step(name, body))))

  /** Run each body on its own thread (inline when there is one) and
    * rethrow the first failure once all have ended.
    */
  def concurrently(bodies: Seq[() => Unit]): Unit = bodies match {
    case Seq(only) => only()
    case _ =>
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = bodies.map { b =>
        new Thread(() => try b() catch { case e: Throwable => errors.add(e); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Option(errors.peek).foreach(e => throw e)
  }

  /** Nominal seconds of one timed pass on a 4-core box; samples are
    * sized to it.
    */
  val PassSeconds = 4.0

  /** Untimed passes before the timed ones: after the build and one
    * pass, op latencies still fell by 15-25 % over the next two.
    */
  val UntimedPasses = 2

  /** Layers and trigger phases of the per-layer metrics. */
  val phaseLayers = Seq("etl.stage", "etl.dwh", "etl.qa", "sources.layouts",
    "artifacts")
  val stepLayers = Seq("ivf_cells", "pq_codes", "knn_graph", "graph_layers",
    "dedup_clusters", "curation_release", "classifier_scores", "er_resolved")
    .map("artifacts." + _) :+ "streaming.feeds"
  val triggerPhases = Seq("add_batch_ms" -> "addBatch",
    "latest_offset_ms" -> "latestOffset", "query_planning_ms" -> "queryPlanning",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "trigger_execution_ms" -> "triggerExecution")

  /** One run of one workload. */
  final class Run(spark: SparkSession, o: Opts) {
    private val w = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    private val sc = spark.sparkContext
    private val counter = new TaskCounter
    sc.addSparkListener(counter)
    private val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    private val queries = SparkEntry.queries
    private val expected: Map[String, Map[String, Any]] =
      json.readValue(new File(o.expected, new File(o.sf).getName + ".json"),
        classOf[Map[String, Any]])("ops")
        .asInstanceOf[Map[String, Map[String, Any]]]

    private def span[T](name: String, layer: String, timed: Boolean = false,
        parent: Option[Span] = None)(body: => T): T =
      tracer.fold(body)(_.inSpan(name, layer, timed, parent)(body))

    private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    /** Every call as (op, pass, seconds, ok), and every failure by op.
      * Passes up to 0 are untimed, 1 and up are the timed passes.
      */
    private val calls = Seq.newBuilder[(String, Int, Double, Boolean)]
    private val failures = Seq.newBuilder[Map[String, String]]

    /** One op call: the call and the collect of its rows are timed; the
      * signature check after it is not.
      */
    private def call(op: String, pass: Int): Unit = {
      val t0 = System.nanoTime()
      val result = try {
        span(op, layerOf(op), timed = pass > 0) {
          val df = queries(op)(spark, o.sf)
          Right((df.columns.toSeq, df.collect()))
        }
      } catch { case NonFatal(e) => Left(e.toString) }
      val dt = secondsSince(t0)
      val problem = result.flatMap { case (cols, rows) =>
        val got = Logic.signature(cols, rows.iterator)
        expected.get(op) match {
          case None => Left("no expected signature")
          case Some(e) if e("rows").toString.toLong != got.rows ||
              e("hash") != got.hash =>
            Left(s"signature rows=${got.rows} hash=${got.hash}, expected " +
              s"rows=${e("rows")} hash=${e("hash")}")
          case _ => Right(())
        }
      }
      calls += ((op, pass, dt, problem.isRight))
      problem.left.foreach { msg =>
        failures += Map("op" -> op, "pass" -> pass.toString,
          "error" -> msg.take(500))
        System.err.println(s"[perfbench] FAILED $op: ${msg.take(500)}")
      }
    }

    /** The workload's build. */
    private def build(): Unit =
      concurrently(w.build.map { lane => () =>
        lane.foreach { ph =>
          span(ph.name, ph.name) {
            ph.lanes match {
              case Seq(Seq(st)) if st.name == ph.name => st.body(spark, o.sf)
              case lanes =>
                val parent = tracer.flatMap(_.current)
                concurrently(lanes.map { steps => () =>
                  steps.foreach { st =>
                    val name = s"${ph.name}.${st.name}"
                    span(name, name, parent = parent)(st.body(spark, o.sf))
                  }
                })
            }
          }
        }
      })

    def apply(): Unit = {
      val startS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      // The build starts from nothing but the input files, in a fresh
      // JVM, as a nightly job's does.
      val b0 = System.nanoTime()
      build()
      val buildS = secondsSince(b0)
      val u0 = System.nanoTime()
      (-UntimedPasses + 1 to 0).foreach { pass =>
        Logic.callOrder(w.ops, o.seed, pass).foreach(call(_, pass))
      }
      val untimedPassS = secondsSince(u0)
      // Set-up, five times: a fresh session resolves the workload's input
      // tables (file listing and footer schemas; the library memoizes
      // them per session). Run once the JVM is warm, so the median
      // measures set-up work and not this process's JIT compilation; the
      // shared cache is left alone, as the timed passes still need it.
      val setups = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        span("setup", "setup") {
          val fresh = spark.newSession()
          w.tables.foreach(graft.Tables.load(fresh, o.sf, _))
        }
        secondsSince(t0)
      }
      val storage = sc.getRDDStorageInfo
      val cacheMb = storage.map(i => i.memSize + i.diskSize).sum / 1e6

      PerfbenchBridge.drainListeners(sc)
      val task0 = counter.taskMs.get
      val cpu0 = counter.cpuNs.get
      // Closed loop, one client: whole passes in seeded order. Each
      // workload's sample is sized to a pass of about PassSeconds on a
      // 4-core box, and `seconds` buys that many passes; a fixed pass
      // count keeps every run's sample the same set of calls.
      val passes = math.max(1, math.round(o.seconds / PassSeconds).toInt)
      val t0 = System.nanoTime()
      (1 to passes).foreach { pass =>
        Logic.callOrder(w.ops, o.seed, pass).foreach(call(_, pass))
      }
      val timedS = secondsSince(t0)
      PerfbenchBridge.drainListeners(sc)
      val timedCalls = passes * w.ops.length
      val taskPerCall = (counter.taskMs.get - task0) / 1e3 / timedCalls
      val cpuPerCall = (counter.cpuNs.get - cpu0) / 1e9 / timedCalls
      val all = calls.result()
      val lat = all.collect { case (_, p, dt, true) if p > 0 => dt }
      val fails = failures.result()
      val tail = Logic.tailPercentile(lat.length)
      val e2e: Map[String, Double] =
        if (lat.isEmpty) Map.empty
        else Map(
          "setup_s" -> Logic.median(setups),
          "build_s" -> buildS,
          "op_geomean_s" -> math.exp(lat.map(math.log).sum / lat.length),
          "ops_per_s" -> lat.length / lat.sum,
          "op_cpu_s" -> cpuPerCall)
      val perLayer = tracer.map(perLayerMetrics(_, storage.length, cacheMb))
      val result = Map(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "sf_dir" -> o.sf,
        "spark_version" -> spark.version,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "jvm_cpus" -> Runtime.getRuntime.availableProcessors,
        "master" -> sc.master,
        "start_s" -> startS, "setup_reps_s" -> setups,
        "untimed_passes_s" -> untimedPassS,
        "ops" -> w.ops, "passes" -> passes, "timed_wall_s" -> timedS,
        "timed_calls" -> lat.length,
        "op_p50_s" -> (if (lat.isEmpty) None else Some(Logic.median(lat))),
        "tail" -> tail.map(p => Map("percentile" -> p,
          "value_s" -> Logic.percentile(lat, p))),
        "op_task_s" -> taskPerCall,
        "calls" -> all.map { case (op, p, dt, ok) =>
          Map("op" -> op, "pass" -> p, "s" -> dt, "ok" -> ok) },
        "attempted" -> all.length, "failed" -> fails.length,
        "failed_frac" -> Logic.failedFrac(fails.length, all.length),
        "failures" -> fails,
        "end_to_end" -> e2e, "per_layer" -> perLayer)
      Files.writeString(Paths.get(o.out), json.writeValueAsString(result) + "\n")
      tracer.foreach(t => writeSpans(t, o.spans))
    }

    private def perLayerMetrics(t: Tracer, rdds: Int,
        cacheMb: Double): Map[String, Double] = {
      PerfbenchBridge.drainListeners(sc)
      val roots = t.all.filter(_.parent == 0)
      def sum(ss: Seq[Span])(f: Span => Long): Double = ss.map(f).sum.toDouble
      def phase(l: String): Seq[(String, Double)] = {
        val sub = roots.find(_.layer == l).map(t.subtree).getOrElse(Nil)
        val root = sub.headOption
        Seq("wall_s" -> root.fold(0.0)(_.wallS),
          "task_s" -> sum(sub)(_.taskMs.get) / 1e3,
          "gc_s" -> root.fold(0.0)(_.gcMs / 1e3),
          "shuffle_mb" -> sum(sub)(_.shuffleBytes.get) / 1e6,
          "spill_mb" -> sum(sub)(_.spillBytes.get) / 1e6,
          "stages" -> sum(sub)(_.stages.get),
          "tasks" -> sum(sub)(_.tasks.get)).map { case (k, v) => s"$l.$k" -> v }
      }
      def step(l: String): Seq[(String, Double)] = {
        val sub = t.all.find(_.layer == l).map(t.subtree).getOrElse(Nil)
        Seq(s"$l.wall_s" -> sub.headOption.fold(0.0)(_.wallS),
          s"$l.task_s" -> sum(sub)(_.taskMs.get) / 1e3)
      }
      def group(l: String): Seq[(String, Double)] = {
        val calls = t.all.filter(s => s.timed && s.layer == l)
        val sub = calls.flatMap(t.subtree)
        val n = calls.length.max(1)
        Seq("wall_s" -> calls.map(_.wallS).sum / n,
          "task_s" -> sum(sub)(_.taskMs.get) / 1e3 / n,
          "gc_s" -> sum(calls)(_.gcMs) / 1e3 / n,
          "stages" -> sum(sub)(_.stages.get) / n)
          .map { case (k, v) => s"$l.$k" -> v }
      }
      val streamCalls =
        t.all.count(s => s.timed && s.layer == "streaming").max(1).toDouble
      def trig(k: String): Double =
        Option(t.triggerMs.get(k)).fold(0.0)(_.get.toDouble) / streamCalls
      (phaseLayers.flatMap(phase) ++ stepLayers.flatMap(step) ++
        groupLayers.map(_._2).flatMap(group) ++
        Seq("streaming.triggers" -> t.triggers.get.toDouble / streamCalls,
          "streaming.input_rows" -> t.inputRows.get.toDouble / streamCalls) ++
        triggerPhases.map { case (n, k) => s"streaming.$n" -> trig(k) } ++
        Seq("cache.rdds" -> rdds.toDouble, "cache.mb" -> cacheMb,
          "trace.unattributed_task_s" -> t.unattributedTaskMs.get / 1e3)).toMap
    }

    private def writeSpans(t: Tracer, path: String): Unit = {
      val origin = t.all.headOption.fold(0L)(_.start)
      val rows = t.all.map { s =>
        json.writeValueAsString(Map("run" -> s"${o.workload}-${o.seed}",
          "workload" -> o.workload, "id" -> s.id, "name" -> s.name,
          "layer" -> s.layer, "parent" -> s.parent, "timed" -> s.timed,
          "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9,
          "task_s" -> s.taskMs.get / 1e3, "gc_s" -> s.gcMs / 1e3,
          "stages" -> s.stages.get, "tasks" -> s.tasks.get))
      }
      Files.write(Paths.get(path), rows.asJava)
    }
  }
}
