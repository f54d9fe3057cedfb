package graft

import graft.multimodal.Multimodal
import graft.sources.Warehouse
import graft.streaming.Sessionize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the extension modules that the DuckDB oracle can't see:
  * the streaming twin, write/read roundtrips, codegen-vs-interpreted
  * parity for the custom expression.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  /** Plan-shape counters of a registered query, taken after one run of
    * it has built every memoized artifact it reads. A materialized cache
    * plans differently from an unbuilt one (its real partition count,
    * its final AQE plan), so a pin that compares these holds in any
    * suite order.
    */
  private def builtCounters(name: String): Map[String, Int] = {
    SparkEntry.queries(name)(spark, dir).write.format("noop")
      .mode("overwrite").save()
    Explain.counters(SparkEntry.queries(name)(spark, dir))
  }

  /** (jobs, stages, shuffle map stages) submitted while `body` runs. The
    * listener bus is drained before the listener joins and before it is
    * read, so no other call's job or stage is counted and none is missed.
    */
  private def scheduled(body: => Unit): (Int, Int, Int) = {
    import org.apache.spark.GraftTestBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val maps = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        if (GraftTestBridge.isShuffleMap(e.stageInfo)) maps.incrementAndGet()
      }
    }
    GraftTestBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try { body; GraftTestBridge.drainListeners(sc) }
    finally sc.removeSparkListener(listener)
    (jobs.get, stages.get, maps.get)
  }

  test("streaming sessionize (flatMapGroupsWithState) matches batch on closed sessions") {
    import spark.implicits._
    val batch = Sessionize.sessionizeBatch(spark, dir)
    // batch Dataset run through the streaming-state function: closed
    // sessions (all but each user's last) must agree exactly
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Sessionize.Ev]
    val streamed = Sessionize.sessionizeStream(evs).toDF()
    val lastIdx = batch.groupBy("user_id")
      .agg(max("session_idx").as("last_idx"))
    val closedBatch = batch.join(lastIdx, Seq("user_id"))
      .filter(col("session_idx") < col("last_idx"))
      .drop("last_idx")
    assert(streamed.count() == closedBatch.count())
    assert(streamed.exceptAll(closedBatch).count() == 0)
  }

  test("streaming sessionize (transformWithState) matches batch on closed sessions") {
    import spark.implicits._
    // the Spark-4 arbitrary-state API twin must emit exactly the same
    // closed sessions as the flatMapGroupsWithState sibling and the
    // batch. Run as a REAL streaming query over a MemoryStream:
    // transformWithState requires the RocksDB state-store provider
    // (scoped to this query and restored after).
    val batch = Sessionize.sessionizeBatch(spark, dir)
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Sessionize.Ev].collect().toSeq
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Sessionize.Ev]
      input.addData(evs)
      val q = Sessionize.sessionizeStreamTws(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_sessions").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table("tws_sessions")
      val lastIdx = batch.groupBy("user_id")
        .agg(max("session_idx").as("last_idx"))
      val closedBatch = batch.join(lastIdx, Seq("user_id"))
        .filter(col("session_idx") < col("last_idx"))
        .drop("last_idx")
      assert(streamed.count() == closedBatch.count())
      assert(streamed.exceptAll(closedBatch).count() == 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState timers close idle sessions at the watermark") {
    import spark.implicits._
    // user 1 has one open session (two events 5 min apart); an unrelated
    // user-2 event then advances the watermark 2 h — the EVENT-TIME
    // timer must emit user 1's final session with NO further user-1
    // input. User 2's own timer never expires (the stream ends), so its
    // open session stays unemitted — exactly the append contract.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val base = 1700000000000L
      def evt(uid: Long, id: Long, ms: Long) =
        Sessionize.EvT(uid, id, ms * 1000L, new java.sql.Timestamp(ms))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Sessionize.EvT]
      val q = Sessionize.sessionizeStreamTwsTimers(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_timer_sessions").start()
      try {
        input.addData(evt(1L, 1L, base), evt(1L, 2L, base + 5L * 60 * 1000))
        q.processAllAvailable()
        assert(spark.table("tws_timer_sessions").count() == 0,
          "open session emitted before its close was provable")
        input.addData(evt(2L, 3L, base + 2L * 60 * 60 * 1000))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_timer_sessions")
        .select("user_id", "session_idx", "n_events").as[(Long, Long, Long)]
        .collect()
      assert(rows.toSeq == Seq((1L, 0L, 2L)),
        s"expected user 1's closed 2-event session only, got ${rows.toSeq}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rolling hash: codegen and interpreted agree") {
    val df = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        Warehouse.rollingHash(col("text")).as("rh"))
    // interpreted reference implementation
    val expected = df.collect().map { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      val acc = bytes.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
      (r.getLong(0), acc)
    }.toMap
    df.collect().foreach { r =>
      assert(r.getLong(2) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)} codegen/interpreted mismatch")
    }
  }

  test("GraftExtensions injects the SQL functions at session build") {
    // A second SparkSession over the SAME SparkContext, built through the
    // withExtensions path (getOrCreate would return the active session and
    // skip injection, so clear it first).
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark)
      val row = s2.sql(
        """SELECT fast_md5('abc') AS h, rolling_hash('abc') AS r,
          |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d
          |""".stripMargin).head
      assert(row.getString(0) == "900150983cd24fb0d6963f7d28e17f72")
      assert(row.getLong(1) == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
      assert(row.getDouble(2) == 11.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("bottom-k-by-hash aggregate: partition-invariant and window-equivalent") {
    import graft.expressions.BottomKByHash
    val d = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id").cast("string").as("id"))
    def sample(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("source")).agg(BottomKByHash.sample(col("id"), 5).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // merge path: 16 partitions exercise partial buffers + merge; the
    // result must be identical to the single-partition run
    val one = sample(d.repartition(1))
    val many = sample(d.repartition(16))
    assert(one == many)
    // window equivalent (the shape the aggregate replaces at scale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("id"))
    val viaWindow = d.withColumn("h", md5(col("id")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .groupBy(col("source")).agg(sort_array(collect_list(col("id"))).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).sorted).toMap
    assert(one.map { case (k, v) => k -> v.sorted } == viaWindow)
    // SQL surface: same aggregate through the registered function
    graft.plans.GraftFunctions.register(spark)
    d.createOrReplaceTempView("bkh_docs")
    val viaSql = spark.sql(
      "SELECT source, bottom_k_by_hash(id, 5) AS s FROM bkh_docs GROUP BY source")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaSql == one)
  }

  test("bounded-top-k aggregate: partition-invariant and window-equivalent") {
    import graft.expressions.BoundedTopK
    val d = Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars"), col("doc_id"))
    def top(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("source"))
      .agg(BoundedTopK.topK(col("n_chars"), col("doc_id"), 7).as("t"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1))))
      .toMap
    // merge path: 16 partitions exercise partial heaps + merge; the
    // result (including the emitted rank ORDER) must equal the
    // single-partition run
    val one = top(d.repartition(1))
    val many = top(d.repartition(16))
    assert(one == many)
    // window equivalent (the skewed shape the aggregate replaces):
    // row_number over (n_chars DESC, doc_id ASC) <= 7
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val viaWindow = d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7)
      .groupBy(col("source"))
      .agg(collect_list(struct(col("rn"), col("n_chars"), col("doc_id"))).as("t"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getInt(0)).map(x => (x.getLong(1), x.getLong(2))))
      .toMap
    assert(one == viaWindow)
    // SQL surface: same aggregate through the registered function
    graft.plans.GraftFunctions.register(spark)
    d.createOrReplaceTempView("btk_docs")
    val viaSql = spark.sql(
      "SELECT source, bounded_top_k(n_chars, doc_id, 7) AS t " +
        "FROM btk_docs GROUP BY source")
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1))))
      .toMap
    assert(viaSql == one)
  }

  test("deployment conf profile: corpus tier as code, small-scale broadcast kept") {
    // the measured j14 escape ships as a profile entry, not prose
    assert(Conf.profile(Conf.Small).isEmpty,
      "Small tier must be Spark defaults — the corpus escape is 3× worse there")
    assert(Conf.profile(Conf.CorpusScale)
      .get("spark.sql.join.preferSortMergeJoin").contains("false"))
    assert(Conf.tier("corpus") == Conf.CorpusScale &&
      Conf.tier("anything-else") == Conf.Small)
    // applying the corpus tier must NOT break small-scale plans:
    // preferSortMergeJoin only picks hash-vs-sort AFTER broadcast is off
    // the table, so j14's variant join keeps its auto-broadcast here
    val before = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    try {
      Conf(spark, Conf.CorpusScale)
      val c = Explain.counters(
        SparkEntry.queries("j14_fuzzy_join")(spark, dir))
      assert(c("broadcasts") >= 1 && c("sortMergeJoins") == 0,
        s"corpus tier must keep auto-broadcast at small scale: $c")
    } finally spark.conf.set("spark.sql.join.preferSortMergeJoin", before)
  }

  test("exact-substring spans find planted copied passages with exact bounds") {
    import spark.implicits._
    // doc 1 and 2 share a 10-token passage at different offsets; doc 3 is
    // unique; doc 4 repeats its own 8-token run (within-doc duplication
    // counts — the corpus-global criterion, Lee et al. §4.1)
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    def uniq(d: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"u${d}_$i").mkString(" ")
    val run8 = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq(1, 5)} $passage ${uniq(1, 4, 5)}"),
      (2L, s"$passage ${uniq(2, 12)}"),
      (3L, uniq(3, 30)),
      (4L, s"$run8 ${uniq(4, 3)} $run8")).toDF("doc_id", "text")
    val r = ops.DedupOps.substringSpansOver(docs,
      ops.DedupOps.kgramRows(docs))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // docs 1+2: exactly the 10-token passage (3 overlapping 8-grams merge
    // to one maximal span); doc 3 clean; doc 4 both 8-token runs flagged
    assert(r(1L) == ((1L, 10L, 19L)), r(1L).toString)
    assert(r(2L) == ((1L, 10L, 22L)), r(2L).toString)
    assert(r(3L) == ((0L, 0L, 30L)), r(3L).toString)
    assert(r(4L) == ((2L, 16L, 19L)), r(4L).toString)
  }

  test("exact-substring cut keeps the canonical occurrence, removes the rest") {
    import spark.implicits._
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    def uniq(d: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"u${d}_$i").mkString(" ")
    val run8 = (1 to 8).map(i => s"r$i").mkString(" ")
    // doc 5: untouched AND whitespace-irregular — the cut must return the
    // ORIGINAL bytes (tabs/newlines/multi-space runs intact), so
    // clean_text is a drop-in replacement corpus, not a token-normalized
    // rewrite of documents it never touched
    val messy = "m1  m2\tm3\nm4   m5"
    val docs = Seq(
      (1L, s"${uniq(1, 5)} $passage ${uniq(1, 4, 5)}"),
      (2L, s"$passage ${uniq(2, 12)}"),
      (3L, uniq(3, 30)),
      (4L, s"$run8 ${uniq(4, 3)} $run8"),
      (5L, messy)).toDF("doc_id", "text")
    val r = ops.DedupOps.substringApplyOver(docs,
      ops.DedupOps.kgramRows(docs))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // doc 1 owns the passage (minimum (doc_id, pos)) — untouched; doc 2's
    // copy is cut whole; doc 4 keeps its first 8-token run, loses the
    // repeat; doc 3 is untouched
    assert(r(1L) == ((0L, 19L, s"${uniq(1, 5)} $passage ${uniq(1, 4, 5)}")))
    assert(r(2L) == ((10L, 12L, uniq(2, 12))))
    assert(r(3L) == ((0L, 30L, uniq(3, 30))))
    assert(r(4L) == ((8L, 11L, s"$run8 ${uniq(4, 3)}")))
    assert(r(5L) == ((0L, 5L, messy)))
  }

  test("exact-substring cut survives a pathological hot gram (boilerplate corpus)") {
    import spark.implicits._
    // the 100 TB failure mode in miniature: ONE 8-token boilerplate block
    // shared by every document (license header / template sentence). The
    // former rank-window formulation serialized all N occurrences of the
    // hot gram hash into a single window task; the min-agg formulation
    // collapses them map-side. Correctness: only doc 0 (the minimum
    // (doc_id, pos) owner) keeps the block, every other doc loses exactly
    // those 8 tokens, and unique tails are untouched.
    val boiler = (1 to 8).map(i => s"bp$i").mkString(" ")
    val n = 2000
    val docsDf = (0 until n)
      .map(d => (d.toLong, s"$boiler " +
        (0 until 6).map(j => s"u${d}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = ops.DedupOps.substringApplyOver(docsDf,
      ops.DedupOps.kgramRows(docsDf))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r.size == n)
    assert(r(0L) == ((0L, 14L,
      s"$boiler " + (0 until 6).map(j => s"u0_$j").mkString(" "))))
    (1 until n).foreach { d =>
      assert(r(d.toLong) == ((8L, 6L,
        (0 until 6).map(j => s"u${d}_$j").mkString(" "))), s"doc $d")
    }
  }

  test("corrupt-feed write-once cache returns identical aggregates on reuse") {
    // corruptRecords materializes its JSON feed only if absent; a second
    // in-session call must hit the cached feed and agree exactly — a
    // stale/partial feed left by a failed write would diverge here
    val first = sources.Warehouse.corruptRecords(spark, dir).collect().toSeq
    val second = sources.Warehouse.corruptRecords(spark, dir).collect().toSeq
    assert(first == second)
    assert(first.head.getLong(0) > 0, "feed must contain lines")
  }

  test("corrupt-record ingest: PERMISSIVE quarantines, FAILFAST dies") {
    // the op itself wrote the feed (every 5th record truncated) and
    // proved the PERMISSIVE counts against the oracle; here: the same
    // feed under FAILFAST must abort — the contrast that makes
    // PERMISSIVE the only viable mode for third-party feeds at scale
    Warehouse.corruptRecords(spark, dir).collect() // writes + verifies feed
    val base = Warehouse.layerPath(dir, "corrupt_feed")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_nationkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType)))
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST")
        .json(base).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m =>
      m.contains("FAILFAST") || m.contains("Malformed")),
      s"unexpected failure: ${messages(ex).headOption}")
  }

  test("count-min probe: exact lower bound, eps upper bound, SQL surface") {
    graft.plans.GraftFunctions.register(spark)
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .createOrReplaceTempView("cms_events")
    // Build one sketch per row type (long key and string key), probe every
    // distinct key: CMS guarantees est >= exact always, and the aggregate
    // overcount is bounded by eps * N (here deterministically, fixed seed).
    for ((keyCol, n) <- Seq(("user_id", "CAST(user_id AS STRING)"))) {
      val rows = spark.sql(
        s"""WITH sk AS (SELECT count_min_sketch($keyCol, 0.001d, 0.99d, 42) AS s,
           |                    COUNT(*) AS n FROM cms_events),
           |     ex AS (SELECT $keyCol AS k, COUNT(*) AS exact
           |            FROM cms_events GROUP BY $keyCol)
           |SELECT exact, count_min_estimate(s, k) AS est, n
           |FROM ex CROSS JOIN sk""".stripMargin).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (exact, est, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(est >= exact, s"CMS underestimated: $est < $exact")
        assert(est <= exact + math.ceil(n * 0.001).toLong,
          s"CMS overshoot beyond eps*N: $est vs $exact (N=$n)")
      }
    }
    // String keys hash as UTF-8 bytes on the build side; the probe must
    // align representations (UTF8String -> bytes) or every estimate is 0.
    val sRows = spark.sql(
      """WITH sk AS (SELECT count_min_sketch(event_type, 0.001d, 0.99d, 7) AS s
        |            FROM cms_events),
        |     ex AS (SELECT event_type AS k, COUNT(*) AS exact
        |            FROM cms_events GROUP BY event_type)
        |SELECT exact, count_min_estimate(s, k) AS est
        |FROM ex CROSS JOIN sk""".stripMargin).collect()
    sRows.foreach(r => assert(r.getLong(1) >= r.getLong(0)))
  }

  test("warehouse layer write/read roundtrip with partitioned fact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val layer = graft.etl.Stage.build(spark, dir)
    Warehouse.writeLayer(layer, tmp)
    val back = Warehouse.readLayer(spark, tmp, layer.keys.toSeq)
    assert(back("fact").count() == layer("fact").count())
    assert(back("dim_patients").count() == layer("dim_patients").count())
    // partition pruning: per-source read should hit one partition dir
    val labOnly = spark.read.parquet(s"$tmp/fact")
      .filter(col("source_type") === "lab")
    assert(labOnly.count() ==
      layer("fact").filter(col("source_type") === "lab").count())
  }

  /** Row count and order-insensitive content hash of a frame. */
  private def rowSig(df: org.apache.spark.sql.DataFrame) = df.agg(
    count(lit(1)),
    sum(xxhash64(df.columns.map(col): _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()

  test("stamped parquet reads equal plain inference: sources, partitioned layer, stream generation") {
    val s = spark.newSession()
    // Tables.load reads events with nanosAsLong; compare under the same conf
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val layerDir = java.nio.file.Files.createTempDirectory("graft_stamp").toString
    // the stage fact, written partitionBy(source_type) as every layer is
    // (built by the roundtrip test above in this session: a memo hit)
    Warehouse.writeLayer(
      Map("fact" -> graft.etl.Stage.build(spark, dir)("fact")), layerDir)
    Sessionize.streamingAggMaintain(spark, dir).collect()
    val gen = new java.io.File(Warehouse.layerPath(dir, "agg_stream"))
      .listFiles().filter(_.getName.startsWith("agg_")).map(_.getPath)
      .maxBy(p => p.substring(p.lastIndexOf('_') + 1).toLong)
    val paths = Tables.all.map(n => s"$dir/$n.parquet") ++
      Seq(s"$layerDir/fact", gen)
    paths.foreach { p =>
      Tables.parquetSchema(s, p) // infer once; the reads below are hits
      val plain = s.read.parquet(p)
      val stamped = Tables.parquet(s, p)
      assert(stamped.schema == plain.schema, s"$p: schema differs")
      assert(Tables.parquetSchema(s, p) == plain.schema, s"$p")
      assert(rowSig(stamped) == rowSig(plain), s"$p: rows differ")
    }
  }

  test("multimodal frame sampling: constant fan-out, stable hashes") {
    val frames = Multimodal.frameSample(spark, dir)
    val docs = Tables.load(spark, dir, "documents").count()
    assert(frames.count() == docs * Multimodal.numFrames)
    assert(frames.filter(length(col("frame_md5")) =!= 32).count() == 0)
  }

  test("as-of join: custom operator plans AsOfJoinExec and matches window equivalent") {
    import org.apache.spark.sql.expressions.Window
    val df = ops.Joins.asofLastSignup(spark, dir)
    // the custom physical operator must actually be in the plan
    // node name prints without the Exec suffix
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    // reference implementation: range join + row_number
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val sgn = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("s_ts").desc_nulls_last, col("s_id").desc_nulls_last)
    val ref = e.join(sgn,
        e("user_id") === sgn("s_user") && sgn("s_ts") <= e("ts"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("s_id").as("last_signup_id"), col("s_ts").as("last_signup_ts"))
    assert(df.exceptAll(ref).count() == 0 && ref.exceptAll(df).count() == 0)
  }

  test("append-mode windowed agg emits exactly the watermark-finalized windows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val appended = Sessionize.hourlyWindowedAppend(spark, dir, tmp)
    // expected: batch windows whose end precedes the final watermark
    // (max event time - 1h delay), i.e. window_start + 1h <= max_ts - 1h
    val ev = Tables.load(spark, dir, "events")
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(col("window_start"), col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .filter(col("window_start") + expr("INTERVAL 2 HOUR") <=
        lit(maxTs))
    assert(appended.count() > 0, "append sink emitted nothing")
    assert(appended.exceptAll(batch).count() == 0 &&
      batch.exceptAll(appended).count() == 0,
      "append-mode output != watermark-finalized batch windows")
  }

  test("windowed append emits a window only after a later batch advances the watermark") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mb").toString
    val src = s"$root/src"
    val out = s"$root/out"
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def write(rows: Seq[(java.sql.Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    def emitted() =
      try spark.read.parquet(s"$out/data") catch {
        case _: Throwable => Seq.empty[(java.sql.Timestamp, String, Long, Double)]
          .toDF("window_start", "event_type", "n_events", "sum_value")
      }
    // batch 1: two hour-0 events plus one at 01:30 — after the batch the
    // watermark is 00:30, still short of hour-0's end, so nothing emits
    write(Seq((ts(0, 10), "a", 1.0), (ts(0, 30), "a", 2.0), (ts(1, 30), "b", 1.0)))
    val q = Sessionize.hourlyAppendQuery(
      spark, src, out, spark.read.parquet(src).schema)
    try {
      q.processAllAvailable()
      assert(emitted().count() == 0,
        "window emitted before the watermark passed its end")
      // batch 2 (02:30) advances the watermark to 01:30 > hour-0's end;
      // batch 3 (04:00) runs under that watermark and finalizes hour-0
      write(Seq((ts(2, 30), "b", 4.0)))
      q.processAllAvailable()
      write(Seq((ts(4, 0), "c", 8.0)))
      q.processAllAvailable()
      val hour0 = emitted().filter(col("window_start") === ts(0, 0)).collect()
      assert(hour0.length == 1, "hour-0 window not finalized across batches")
      assert(hour0.head.getLong(2) == 2L && hour0.head.getDouble(3) == 3.0)
      // the trailing window is still inside the watermark horizon: unemitted
      assert(emitted().filter(col("window_start") === ts(4, 0)).count() == 0)
    } finally q.stop()
  }

  test("streaming restart from checkpoint resumes exactly-once, no re-emission") {
    // The fault-tolerance contract a 100 TB deployment leans on: kill the
    // query, restart with the same checkpoint — the new query must resume
    // from the committed offsets (not reprocess batch 1) and the file
    // sink's commit log must keep every window exactly once.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val src = s"$root/src"
    val out = s"$root/out"
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def write(rows: Seq[(java.sql.Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    write(Seq((ts(0, 10), "a", 1.0), (ts(0, 40), "a", 2.0), (ts(2, 30), "b", 4.0)))
    val schema = spark.read.parquet(src).schema
    // run 1: watermark reaches 01:30 — hour-0 finalizes and emits
    val q1 = Sessionize.hourlyAppendQuery(spark, src, out, schema)
    try q1.processAllAvailable() finally q1.stop()
    val afterRun1 = spark.read.parquet(s"$out/data").collect()
    assert(afterRun1.count(_.getTimestamp(0) == ts(0, 0)) == 1,
      "hour-0 window missing after run 1")
    // crash boundary: new data lands while no query is running
    write(Seq((ts(2, 45), "b", 8.0), (ts(4, 0), "c", 16.0)))
    // run 2: NEW query object, same checkpoint + sink
    val q2 = Sessionize.hourlyAppendQuery(spark, src, out, schema)
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(s"$out/data")
    // hour-0 must appear EXACTLY once (a restart that replayed batch 1
    // into the sink would duplicate it; the commit log must prevent that)
    assert(rows.filter(col("window_start") === ts(0, 0)).count() == 1,
      "restart duplicated or dropped the hour-0 window")
    // hour-2 finalized by run 2's watermark (04:00 - 1h) and must carry
    // BOTH hour-2 events: the pre-crash one recovered from state, the
    // post-crash one from the new batch
    val h2 = rows.filter(col("window_start") === ts(2, 0)).collect()
    assert(h2.length == 1 && h2.head.getLong(2) == 2L &&
      h2.head.getDouble(3) == 12.0,
      s"hour-2 state not recovered across restart: ${h2.mkString}")
  }

  test("minhash-lsh candidates lose no true near-dup pair at threshold") {
    // ground truth: ALL-pairs jaccard over the op's own shingle sets;
    // the banded candidates must contain every pair >= the 0.8 threshold
    val sh = graft.ops.DedupOps.shingleRows(spark, dir)
      .groupBy(col("doc_id")).agg(collect_set(col("x")).as("sh"))
    val a = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("sb"))
    val truth = a.crossJoin(b).filter(col("da") < col("db"))
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double")
        / size(array_union(col("sa"), col("sb")))
        >= graft.ops.DedupOps.jaccardThreshold)
      .select(col("da"), col("db"))
    val cand = graft.ops.DedupOps.ngramJaccard(spark, dir)
      .filter(col("jaccard") >= graft.ops.DedupOps.jaccardThreshold)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val missed = truth.exceptAll(cand).count()
    assert(missed == 0, s"$missed true near-dup pairs missed by LSH banding")
  }

  test("quality-report truth join drops a planted stopword-grade shingle") {
    import spark.implicits._
    // 100 sample docs all share one boilerplate shingle (df 100 >
    // truthShingleCap 64): the uncapped co-occurrence join would emit
    // C(100,2) = 4950 rows from that hitter alone — the d² fan-out the
    // cap exists to bound. Docs 0 and 1 also share 4 discriminating
    // shingles (J = 1.0 over the capped universe), which must survive.
    val hot = "the of and"
    val shared = (1 to 4).map(i => s"real shingle $i")
    val rows =
      (0L to 99L).map(d => (d, hot)) ++
        Seq(0L, 1L).flatMap(d => shared.map(x => (d, x))) ++
        (2L to 99L).map(d => (d, s"unique shingle $d"))
    val sample = rows.toDF("doc_id", "x")
    val capped = graft.ops.DedupOps.cappedTruthSample(sample)
    val uncappedRows = graft.ops.DedupOps.truthIntersections(sample).count()
    val cappedRows = graft.ops.DedupOps.truthIntersections(capped).count()
    assert(uncappedRows == 4950L,
      s"planted hitter should drive the uncapped join to 4950 rows, got $uncappedRows")
    assert(cappedRows == 1L,
      s"capped truth join must stay bounded (1 surviving pair), got $cappedRows")
    val pairs = graft.ops.DedupOps.truthPairsFromCapped(capped)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((0L, 1L)),
      s"the discriminating-shingle pair must survive the cap: $pairs")
    // budget→modulus derivation: a fixed budget, not a share
    assert(graft.ops.DedupOps.qualitySampleModFor(5000L, 1250L) == 4L)
    assert(graft.ops.DedupOps.qualitySampleModFor(500L, 1250L) == 1L)
    assert(graft.ops.DedupOps.qualitySampleModFor(1000000000000L, 1250L)
      == 800000000L)
  }

  test("pq adc candidate recall vs exact L2 supports rerank") {
    import graft.ops.PqOps
    // exact L2 top-k ground truth per query
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < PqOps.pqQueryCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val d2 = graft.functions.TextFns.dotProduct(col("embedding"), col("embedding")) -
      lit(2d) * graft.functions.TextFns.dotProduct(col("embedding"), col("qe")) +
      graft.functions.TextFns.dotProduct(col("qe"), col("qe"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    val exact = e.crossJoin(q).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(d2, 6).as("d"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= PqOps.pqTopK)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def adcHead(n: Int): Set[(Long, Long)] = {
      val wa = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
        .orderBy(col("approx_d2").asc, col("vec_id").asc)
      PqOps.adcScores(spark, dir)
        .withColumn("rn", row_number().over(wa)).filter(col("rn") <= n)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // direct ADC top-10 on a structureless corpus: noisy but useful
    // (measured 0.34-0.36 across scale factors)
    val direct = (adcHead(PqOps.pqTopK) & exact).size.toDouble / exact.size
    assert(direct >= 0.25, f"PQ ADC direct recall collapsed: $direct%.2f")
    // candidate generation for exact rerank: a 100-deep ADC head must
    // cover most of the exact top-10 (measured 0.86)
    val cand = (adcHead(100) & exact).size.toDouble / exact.size
    assert(cand >= 0.7, f"PQ ADC candidate recall too low for rerank: $cand%.2f")
  }

  test("ivf near-dup recall vs brute force holds at two cell counts") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.TextFns.l2norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val truth = a.crossJoin(b).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(graft.functions.TextFns.dotProduct(col("ea"), col("eb"))
          / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= graft.ops.SimilarityOps.nearDupThreshold)
      .cache()
    val nTruth = truth.count().toDouble
    def recall(seedBits: Int): Double = {
      val ivf = graft.ops.SimilarityOps.ivfNearDup(spark, dir, seedBits)
        .select(col("vec_a").as("va"), col("vec_b").as("vb"))
      truth.join(ivf, Seq("va", "vb")).count().toDouble / nTruth
    }
    // default k=8: single-probe measured 0.30; 2-probe measured 0.77 —
    // the floor guards against a regression to boundary-splitting
    // assignment
    val r3 = recall(graft.ops.SimilarityOps.ivfSeedBits)
    assert(r3 >= 0.7, s"recall(k=8) $r3 < 0.7")
    // the √N heuristic's k for this corpus: more, smaller cells → less
    // probed fraction, lower recall, faster scan — the IVF trade. The
    // floor pins the measured value so cell-count scaling stays sane.
    val bitsAuto = graft.ops.SimilarityOps.seedBitsFor(
      Tables.load(spark, dir, "embeddings").count())
    assert(bitsAuto != graft.ops.SimilarityOps.ivfSeedBits,
      "heuristic picked the default k; test needs a second cell count")
    // measured 0.533 at k=32 (vs 0.774 at k=8) — deterministic, so the
    // floor sits just under the measured value
    val rAuto = recall(bitsAuto)
    info(f"recall k=8: $r3%.3f, k=2^$bitsAuto: $rAuto%.3f")
    assert(rAuto >= 0.5, s"recall(k=2^$bitsAuto) $rAuto < 0.5")
  }

  test("ivf top-k retrieval recall beats the measured floor") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.TextFns.l2norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < graft.ops.SimilarityOps.lshQueryCount)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truthK = e.crossJoin(q).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.TextFns.dotProduct(col("embedding"), col("qe"))
          / (col("nrm") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= graft.ops.SimilarityOps.lshTopK)
      .select(col("q_id"), col("vec_id"))
    val got = graft.ops.SimilarityOps.ivfTopk(spark, dir)
      .select(col("q_id"), col("vec_id"))
    val nTruth = truthK.count().toDouble
    val hit = truthK.join(got, Seq("q_id", "vec_id")).count().toDouble
    // measured 0.64 at sf0.001 (hyperplane LSH single-bucket: 0.00)
    assert(hit / nTruth >= 0.55, s"ivf topk recall ${hit / nTruth} < 0.55")
  }

  test("graph beam-search recall beats the measured floor") {
    // measured 0.52 at sf0.001 (undirected hops; directed-only measured
    // 0.20) vs IVF's 0.64 on the same queries — this corpus is uniform
    // random, the worst case for graph navigability, so IVF stays the
    // recommendation here; the graph path is the one whose per-query
    // cost is corpus-size-independent at the extreme scale end.
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.TextFns.l2norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < graft.ops.SimilarityOps.lshQueryCount)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truthK = e.crossJoin(q).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.TextFns.dotProduct(col("embedding"), col("qe"))
          / (col("nrm") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= graft.ops.SimilarityOps.lshTopK)
      .select(col("q_id"), col("vec_id"))
    val got = graft.ops.SimilarityOps.graphTopk(spark, dir)
      .select(col("q_id"), col("vec_id"))
    val nTruth = truthK.count().toDouble
    val hit = truthK.join(got, Seq("q_id", "vec_id")).count().toDouble
    info(f"graph beam-search recall@5: ${hit / nTruth}%.3f")
    assert(hit / nTruth >= 0.5, s"graph topk recall ${hit / nTruth} < 0.5")
  }

  test("diverse sample round-robins cells and novelty telescopes") {
    // round-robin guarantee: the first c picks (c = distinct home cells)
    // cover every cell — no cell dominates the head of the budget
    val div = graft.ops.Curate.diverseSample(spark, dir).cache()
    val cells = div.select("cell").distinct().count()
    val headCells = div.filter(col("pick_rank") <= cells)
      .select("cell").distinct().count()
    assert(headCells == cells, s"first $cells picks hit $headCells cells")
    // within a cell, quality (length) must be non-increasing with rank
    val inversions = div.as("a").join(div.as("b"),
      col("a.cell") === col("b.cell") &&
        col("a.cell_rank") < col("b.cell_rank") &&
        col("a.n_chars") < col("b.n_chars")).count()
    assert(inversions == 0, s"$inversions quality inversions within cells")
    // novelty telescopes: the first doc is 100% novel, and per-doc novel
    // counts sum to the corpus's distinct shingle count exactly
    val nov = graft.ops.TextOps.noveltyCurve(spark, dir).cache()
    val first = nov.orderBy("doc_id").limit(1).collect().head
    assert(first.getDouble(3) == 1.0, s"doc0 novelty ${first.getDouble(3)}")
    val totalNovel = nov.agg(sum("n_novel")).collect().head.getLong(0)
    val distinctShingles = graft.ops.DedupOps.shingleRows(spark, dir)
      .select("x").distinct().count()
    assert(totalNovel == distinctShingles,
      s"sum(n_novel) $totalNovel != distinct shingles $distinctShingles")
  }

  test("census sweep conserves to zero and matches direct day occupancy") {
    val census = graft.ops.TimeSeriesOps.censusSweep(spark, dir).cache()
    // every stay discharges, so the running sum must end at exactly zero
    // and never dip negative
    val last = census.orderBy(col("day").desc).limit(1).collect().head
    assert(last.getLong(3) == 0L, s"final census ${last.getLong(3)} != 0")
    assert(census.filter(col("census") < 0).count() == 0, "negative census")
    // independent model: on a mid-range day D, census(D) must equal the
    // direct count of stays with admit_d <= D < disch_d
    val adm = graft.ops.Relational.sentinelConform(spark, dir)
      .filter(col("admittime") =!= to_timestamp(lit("1900-01-01 00:00:00")))
      .select(to_date(col("admittime")).as("ad"),
        to_date(col("dischtime")).as("dd"))
    val mid = census.orderBy("day")
      .collect()(census.count().toInt / 2)
    val d = mid.getDate(0)
    val direct = adm.filter(col("ad") <= lit(d) && col("dd") > lit(d)).count()
    assert(mid.getLong(3) == direct,
      s"census(${d}) ${mid.getLong(3)} != direct $direct")
    // overlap QA: every reported overlap is strictly positive, and a
    // patient-level replay agrees on the pair count
    val ov = graft.ops.AnalyticsOps.intervalOverlap(spark, dir).cache()
    assert(ov.filter(col("overlap_us") <= 0).count() == 0,
      "non-positive overlap reported")
    assert(ov.count() > 0, "overlap op is vacuous at sf0.001")
  }

  test("graph beam-search recall is near-perfect on a clustered corpus") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 4 well-separated clusters of 50 vectors each (deterministic md5
    // jitter around one-hot-ish centers), queries 0..3 land one per
    // cluster by construction — the corpus shape where the kNN graph is
    // navigable, unlike the uniform-random harness corpus (0.52 there)
    def jit(i: Int, j: Int): Float = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"gs|$i|$j".getBytes("UTF-8"))
      (((d(0) & 0xff) / 255.0f) - 0.5f) * 0.2f
    }
    val vecs = (0 until 200).map { i =>
      val c = i % 4 // queries 0..3 get distinct clusters
      val v = Array.tabulate(64)(j =>
        (if (j == c * 16) 1.0f else 0.0f) + jit(i, j))
      (i.toLong, v)
    }
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", graft.functions.TextFns.l2norm(col("embedding")))
      .cache()
    // brute-force kNN edges (k=5), undirected
    val a = e.select(col("vec_id").as("src"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("dst"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    val fwd = a.join(b, col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(graft.functions.TextFns.dotProduct(col("ea"), col("eb"))
          / (col("na") * col("nb")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= graft.ops.SimilarityOps.knnK)
      .select(col("src"), col("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"),
      col("src").as("dst"))).localCheckpoint()
    val got = graft.ops.SimilarityOps.beamSearch(e, edges, 4, 8)
      .select(col("q_id"), col("vec_id"))
    // truth: brute-force top-5 per query
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truth = e.crossJoin(q).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.TextFns.dotProduct(col("embedding"), col("qe"))
          / (col("nrm") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= graft.ops.SimilarityOps.lshTopK)
      .select(col("q_id"), col("vec_id"))
    val nTruth = truth.count().toDouble
    val hit = truth.join(got, Seq("q_id", "vec_id")).count().toDouble
    info(f"clustered-corpus beam recall@5: ${hit / nTruth}%.3f")
    assert(hit / nTruth >= 0.9,
      s"clustered recall ${hit / nTruth} < 0.9 — graph lost navigability")
  }

  test("entity resolution links every typo record to its master") {
    val er = graft.ops.Joins.entityResolve(spark, dir).cache()
    // the typo'd feed is a single deletion of each master name, so the
    // deletion neighborhood GUARANTEES the candidate pair and the verify
    // keeps it: typo (master+1e7) must share its master's entity
    val typo = er.filter(!col("is_master"))
      .select((col("id") - 10000000L).as("mid"), col("entity_id").as("te"))
    val master = er.filter(col("is_master"))
      .select(col("id").as("mid"), col("entity_id").as("me"))
    val broken = typo.join(master, Seq("mid"))
      .filter(col("te") =!= col("me")).count()
    assert(broken == 0, s"$broken typo records not in their master's entity")
    // canonical ids are component minima, and every component containing
    // a typo contains its master — so no entity is ever typo-canonical
    assert(er.filter(col("entity_id") >= 10000000L).count() == 0,
      "typo-canonical entity found")
  }

  test("lsh signatures bucket near-identical vectors together") {
    // identical vectors must land in the same bucket by construction
    val sigs = graft.ops.SimilarityOps.lshSignatures(spark, dir)
    assert(sigs.select("bucket").distinct().count() > 1)
    assert(sigs.filter(length(col("bucket")) =!= graft.ops.SimilarityOps.lshBits)
      .count() == 0)
  }

  test("as-of join rejects non-integral keys and times at plan time") {
    import spark.implicits._
    val l = Seq(("a", 1L)).toDF("k", "t")
    val r = Seq(("a", 1L)).toDF("k2", "t2")
    // a string key must fail fast with a clear message, not a
    // ClassCastException deep inside the merge at execution time
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsOf.join(l, r, "k", "k2", "t", "t2")
    }
    assert(e.getMessage.contains("must be integral or timestamp"))
    // integer (narrower than Long) keys are Cast-widened, not rejected
    val li = Seq((1, 5L)).toDF("k", "t")
    val ri = Seq((1, 3L), (1, 9L)).toDF("k2", "t2")
    val ok = graft.plans.AsOf.join(li, ri, "k", "k2", "t", "t2").collect()
    assert(ok.length == 1 && ok.head.getLong(3) == 3L)
  }

  test("earliest-in-window as-of merge matches the relational interval join") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val win = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("w_user"), col("ts").as("intime"),
        col("event_id").as("w_id"))
    val dayUs = 24L * 3600 * 1000000
    val got = graft.plans.AsOf.joinEarliestInWindow(
        e, win, "user_id", "w_user", "ts", "intime", 2 * dayUs, "w_id")
      .select(col("event_id"), col("w_id"), col("intime"))
    // reference implementation: interval join + earliest-window row_number
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("intime").asc_nulls_last, col("w_id").asc_nulls_last)
    val ref = e.join(win,
        e("user_id") === win("w_user") &&
          e("ts").between(win("intime"),
            win("intime") + expr("INTERVAL 2 DAY")), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("w_id"), col("intime"))
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
  }

  test("bucketed join co-locates: no exchange on either join side") {
    val df = Warehouse.bucketedJoin(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(plan.contains("Bucketed: true"))
    // the only exchange is the final small aggregation's, never the join's
    assert("Exchange hashpartitioning\\((o_orderkey|l_orderkey)".r
      .findFirstIn(plan).isEmpty)
    // dir-scoped tables: a second scale factor in the SAME session must
    // read its own bucketed files, not the first dir's
    val n1 = df.agg(sum(col("n_items"))).head.getLong(0)
    val n2 = Warehouse.bucketedJoin(spark, "/root/testdata/sf0.01")
      .agg(sum(col("n_items"))).head.getLong(0)
    assert(n2 > n1)
  }

  test("plan shapes: exchange/broadcast counts pinned for the costliest queries") {
    // Counters, not timings: an added shuffle shows up here deterministically,
    // long before it is visible over bench noise. Bounds are ≤ the audited
    // plan's counts at sf0.001 (AQE may remove exchanges at runtime, never
    // add static ones).
    def c(name: String) = builtCounters(name)
    // DWH pre-aggregation reads the materialized layer: one hash-agg
    // shuffle (plus the distinct-expand's), no join exchanges
    val agg = c("pipe_dwh_agg")
    assert(agg("shuffles") <= 2, s"pipe_dwh_agg shuffles: $agg")
    assert(agg("sortMergeJoins") == 0, s"pipe_dwh_agg SMJ: $agg")
    // DWH fact is a file scan of the materialized layer — no shuffle at all
    val fact = c("pipe_dwh_fact")
    assert(fact("shuffles") == 0 && fact("sortMergeJoins") == 0,
      s"pipe_dwh_fact: $fact")
    // as-of join: one exchange per side feeding the custom merge, no SMJ
    val asof = c("asof_last_signup")
    assert(asof("shuffles") <= 2 && asof("sortMergeJoins") == 0,
      s"asof_last_signup: $asof")
    // conformed-key dim join must stay broadcast (fact never shuffles)
    val j1 = c("j1_left_join_conformed_key")
    assert(j1("broadcasts") >= 1 && j1("sortMergeJoins") == 0,
      s"j1_left_join_conformed_key: $j1")
    // exact dedup: the one hash-agg shuffle
    val de = c("dedup_exact")
    assert(de("shuffles") <= 1, s"dedup_exact: $de")
    // decontamination: the benchmark shingle set joins by BROADCAST (the
    // corpus-sized doc_id joins may SMJ — correct at scale; AQE converts
    // them while small); shuffles stay bounded by the distinct/count aggs
    val cont = c("text_contamination")
    assert(cont("broadcasts") >= 1 && cont("shuffles") <= 4,
      s"text_contamination: $cont")
    // SCD2 history: both window passes and the aggregation reuse ONE
    // patient_id exchange — a second one means a sort/partition drifted
    val scd = c("w3_scd2_dim")
    assert(scd("shuffles") == 1 && scd("sortMergeJoins") == 0,
      s"w3_scd2_dim: $scd")
    // pivot with an explicit value list: Spark's two-stage pivot agg
    // (pre-agg on (key, pivot col), then PivotFirst on key) and nothing
    // else — no discovery-scan job, no join
    val piv = c("a7_pivot_events")
    assert(piv("shuffles") == 2 && piv("broadcasts") == 0,
      s"a7_pivot_events: $piv")
    // overlap chunking is a pure narrow stage: explode + substring, no
    // exchange anywhere
    val ch = c("text_chunk_overlap")
    assert(ch("shuffles") == 0 && ch("broadcasts") == 0,
      s"text_chunk_overlap: $ch")
    // sequence packing: exactly the one stratum-key exchange feeding the
    // running-sum window
    val pk = c("text_pack_sequences")
    assert(pk("shuffles") == 1, s"text_pack_sequences: $pk")
    // salted skew join must stay in the shuffle-join regime (a broadcast
    // would bypass the salt and test nothing): SMJ present, no broadcast
    val sj = c("j12_salted_skew_join")
    assert(sj("sortMergeJoins") >= 1 && sj("broadcasts") == 0,
      s"j12_salted_skew_join: $sj")
    assert(sj("shuffles") <= 3, s"j12_salted_skew_join: $sj")
    // ranking/distribution suite, de-skewed off the status-keyed window
    // (status bounds partition COUNT, not SIZE): range-repartitioned
    // global row number + broadcast per-status (min, count) + closed-form
    // arithmetic + a (status, rn) self-join for lag. Shuffle budget: the
    // stats agg, the lag join's two sides, + the numbered frame's
    // round-trip; the per-status frame is the broadcast, never a sort.
    val ws = c("w4_window_suite")
    assert(ws("shuffles") <= 4 && ws("broadcasts") >= 1,
      s"w4_window_suite: $ws")
    // schema-on-read JSON: one typed parse feeding one hash-agg shuffle
    val js = c("p9_json_extract")
    assert(js("shuffles") == 1 && js("sortMergeJoins") == 0,
      s"p9_json_extract: $js")
    // CUBE rides the same expand + single hash-agg plan family as ROLLUP
    val cb = c("a9_cube_report")
    assert(cb("shuffles") == 1, s"a9_cube_report: $cb")
    assert(SparkEntry.queries("a9_cube_report")(spark, dir)
      .queryExecution.executedPlan.toString.contains("Expand"),
      "cube lost its grouping-set expand")
    // PQ encoding is a PURE MAP: codebooks are broadcast literals, so the
    // codes table costs zero exchanges — an added shuffle means the
    // codebook stopped being driver-collected
    val pqc = c("sim_pq_codes")
    assert(pqc("shuffles") == 0 && pqc("sortMergeJoins") == 0,
      s"sim_pq_codes: $pqc")
    // ADC top-k reads only the codes table: the per-query rank's exchange
    // and nothing else (no join back to embeddings)
    val pqt = c("sim_pq_topk")
    assert(pqt("shuffles") == 1 && pqt("sortMergeJoins") == 0,
      s"sim_pq_topk: $pqt")
    // long-form profile: two hash-agg levels, no joins; a third exchange
    // means the multi-distinct Expand shape crept back
    val prof = c("s_profile_columns")
    assert(prof("shuffles") == 2 && prof("sortMergeJoins") == 0,
      s"s_profile_columns: $prof")
    // inverted index: (token, doc) tf agg + token posting assembly
    val inv = c("text_inverted_index")
    assert(inv("shuffles") == 2 && inv("sortMergeJoins") == 0,
      s"text_inverted_index: $inv")
    // rolling features: the one user_id window exchange
    val rf = c("ts_rolling_features")
    assert(rf("shuffles") == 1, s"ts_rolling_features: $rf")
    // SCD2 snapshot filters the history without adding an exchange
    val snap = c("w5_scd2_snapshot")
    assert(snap("shuffles") == 1, s"w5_scd2_snapshot: $snap")
    // CMS probe: sketch side broadcasts; heavy-hitter agg is the shuffle
    val fs = c("s_freq_sketch")
    assert(fs("shuffles") <= 2 && fs("broadcasts") >= 1,
      s"s_freq_sketch: $fs")
    // sorted layout: the time-range filter must reach the parquet scan
    // (min-max row-group skipping rides on the pushed predicate)
    val sl = c("s_sorted_layout")
    assert(sl("pushedFilterScans") >= 1, s"s_sorted_layout: $sl")
    // partitioned layout: the date filter prunes at PLAN time — the scan
    // carries PartitionFilters and lists only the 2 matching directories
    val pl = SparkEntry.queries("s_partitioned_layout")(spark, dir)
    val plPlan = pl.queryExecution.executedPlan.toString
    assert(plPlan.contains("PartitionFilters: [") &&
      plPlan.contains("event_date"), plPlan.take(2000))
    // pre-AQE plan: AdaptiveSparkPlanExec is itself a leaf, hiding the scan
    val scanned = pl.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(p => java.time.LocalDate.ofEpochDay(p.values.getInt(0).toLong)
            .toString).distinct.sorted
    }.flatten
    assert(scanned == Seq("2024-01-10", "2024-01-11"), scanned.toString)
    // binned range join: the whole point is escaping the nested loop —
    // zero BNLJ/cartesian operators, candidates meet in an equi join
    val rj = c("j13_binned_range_join")
    assert(rj("nestedLoopJoins") == 0, s"j13_binned_range_join: $rj")
    assert(rj("sortMergeJoins") + rj("broadcasts") >= 1,
      s"j13_binned_range_join must join on the bin key: $rj")
    // domain cap: one source-key exchange feeding the bounded top-K
    // AGGREGATE (map-side partial heaps; no window, no per-source sort)
    val dc = c("curate_domain_cap")
    assert(dc("shuffles") == 1 && dc("sortMergeJoins") == 0,
      s"curate_domain_cap: $dc")
    // global shuffle: one shard-key exchange feeding the ordinal window
    val gs = c("text_global_shuffle")
    assert(gs("shuffles") == 1 && gs("broadcasts") == 0,
      s"text_global_shuffle: $gs")
    // BM25: the query-term and corpus-stats sides broadcast; the tf, df
    // and doc-length tables are the cached term index
    val bm = c("text_bm25")
    assert(bm("broadcasts") >= 2 && bm("nestedLoopJoins") <= 1,
      s"text_bm25: $bm")
    // mixture apply: plan broadcasts, corpus maps — exactly the one
    // per-source aggregation shuffle
    val mx = c("text_mixture_apply")
    assert(mx("shuffles") == 1 && mx("broadcasts") >= 1,
      s"text_mixture_apply: $mx")
    // the composed training set and the incremental dedup must never
    // fall into a nested loop anywhere in their join chains
    val tsp = c("curate_training_set")
    assert(tsp("nestedLoopJoins") == 0, s"curate_training_set: $tsp")
    val inc = c("dedup_incremental")
    assert(inc("nestedLoopJoins") == 0, s"dedup_incremental: $inc")
    // fuzzy join: variants meet in an equi join, never an O(N*M) loop
    val fz = c("j14_fuzzy_join")
    assert(fz("nestedLoopJoins") == 0, s"j14_fuzzy_join: $fz")
    // entity resolution: the linkage chain is now a Memo-persisted layer
    // artifact (r10), so the tree-walked counters descend into the cached
    // BUILD plan — candidate variant join + closure link join, 2 hash
    // exchanges past the contraction's persisted-edges (LogicalRDD)
    // boundary, and never a loop join (a BNLJ means the SymSpell
    // candidate path degraded to the naive theta-join). shufflesTree, not the string counter: the cached
    // subtree reprints under multiple plan_ids once warm.
    val er = c("er_resolve")
    assert(er("nestedLoopJoins") == 0 && er("shufflesTree") <= 2,
      s"er_resolve: $er")
    // graph beam search: the result is a driver-held bounded model
    // (≤ queries·topK scored rows) re-entering as a literal — the
    // visible plan is a LocalTableScan with NO exchange of any kind;
    // a shuffle or loop join appearing here means the beam stopped
    // being driver-held (per-round probes are collect actions inside
    // beamSearch, each zero-shuffle broadcast probes of the corpus)
    val gt = c("sim_graph_topk")
    assert(gt("shuffles") == 0 && gt("nestedLoopJoins") == 0,
      s"sim_graph_topk: $gt")
    // recall report: exactly ONE bounded nested loop — the broadcast
    // cross of the sampled query set against the corpus that DEFINES the
    // brute-force truth; a second one means the IVF side regressed.
    // shufflesTree, not the string counter: with a warm Memo cache the
    // ivfCells subtree reprints under extra plan_ids and the string
    // count reads 7 for the same 6-exchange tree (combined-suite-order
    // flake, r11)
    val rr = c("sim_recall_report")
    assert(rr("nestedLoopJoins") <= 1 && rr("sortMergeJoins") <= 1 &&
      rr("shufflesTree") <= 6, s"sim_recall_report: $rr")
    // ExactSubstr report: doc window + hash group-by + islands — three
    // keyed exchanges, never a pairwise join surface
    val ss = c("dedup_substring_spans")
    assert(ss("shuffles") <= 3 && ss("nestedLoopJoins") == 0,
      s"dedup_substring_spans: $ss")
    // ExactSubstr cut adds the ownership min-aggs + coverage agg +
    // rebuild — still all keyed exchanges, no loop joins
    val sa = c("dedup_substring_apply")
    assert(sa("shuffles") <= 7 && sa("nestedLoopJoins") == 0,
      s"dedup_substring_apply: $sa")
    // …and canonical ownership must stay a distributive min-agg, NEVER a
    // rank window keyed on the gram hash: a boilerplate 8-gram at corpus
    // scale repeats 1e8+ times, and a skewed window partition (unlike a
    // skewed join) has no AQE escape. The only windows allowed in this
    // plan are the doc-partitioned tokenization LEADs.
    val saPlan = SparkEntry.queries("dedup_substring_apply")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!saPlan.contains("windowspecdefinition(h#"),
      "dedup_substring_apply regressed to a gram-hash-keyed window")
  }

  test("pca: gram aggregate combines map-side; projection is a narrow map") {
    // scale contract of sim_pca_project: the distributed half must be a
    // partial ObjectHashAggregate under ONE single-partition exchange
    // (each task emits one ~17 KB Gram buffer), and the projection half
    // must be a pure codegen map over the scan — no shuffle, no join
    val g = Tables.load(spark, dir, "embeddings")
      .agg(expressions.GramMatrix.gram(col("embedding"), 64).as("g"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(gPlan).length == 2,
      s"expected partial+final ObjectHashAggregate:\n$gPlan")
    // the only exchange is the single-partition partial-buffer merge
    // (counters() tracks hashpartitioning exchanges, which must be 0)
    assert("Exchange SinglePartition".r.findAllIn(gPlan).length == 1 &&
      Explain.counters(g)("shuffles") == 0, s"gram agg plan:\n$gPlan")
    // grouped twin (sim_label_scatter): same partial/final pair, ONE
    // hash exchange carrying labels × one buffer — never N·d rows
    val gg = Tables.load(spark, dir, "embeddings").groupBy(col("label"))
      .agg(expressions.GramMatrix.gram(col("embedding"), 64).as("g"))
    val ggPlan = gg.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(ggPlan).length == 2 &&
      Explain.counters(gg)("shuffles") == 1, s"grouped gram plan:\n$ggPlan")
    val proj = SparkEntry.queries("sim_pca_project")(spark, dir)
    val c = Explain.counters(proj)
    assert(c("shuffles") == 0 && c("sortMergeJoins") == 0 &&
      c("nestedLoopJoins") == 0, s"sim_pca_project projection: $c")
    // quantized projections are partition-invariant: recompute the Gram
    // stats over a differently-partitioned input (different partial-merge
    // fold order) and assert the quantized (pc1_q, pc2_q) maps are equal
    // — the 1e-3 quantization must absorb the ~1e-12 reassociation drift
    val a = proj.collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
    assert(a.length > 0 && a.toMap.size == a.length)
    val g2 = Tables.load(spark, dir, "embeddings")
      .repartition(7, col("vec_id"))
      .agg(expressions.GramMatrix.gram(col("embedding"), 64).as("g"))
      .head.getSeq[Double](0).toArray
    val b = ops.SimilarityOps.pcaProjectFromStats(spark, dir, g2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
    assert(a.toMap == b.toMap,
      "quantized PCA projections changed under a repartitioned Gram pass")
  }

  test("linear probe: narrow prediction plan, beats the intercept baseline") {
    val probe = SparkEntry.queries("sim_linear_probe")(spark, dir)
    // training collapsed into the one Gram pass (an action inside the
    // builder); what remains must be a pure codegen map over the scan
    val c = Explain.counters(probe)
    assert(c("shuffles") == 0 && c("sortMergeJoins") == 0 &&
      c("nestedLoopJoins") == 0, s"sim_linear_probe projection: $c")
    // the fit is real: ridge SSE strictly under the intercept-only SST
    // (normal equations include the intercept, so SSE <= SST always;
    // strict margin means the features carry label signal)
    val rows = probe.collect().map(r => (r.getInt(1).toDouble, r.getLong(2) / 1000.0))
    val yBar = rows.map(_._1).sum / rows.length
    val sse = rows.map { case (y, yh) => (y - yh) * (y - yh) }.sum
    val sst = rows.map { case (y, _) => (y - yBar) * (y - yBar) }.sum
    assert(sse < 0.98 * sst, s"probe did not beat the mean baseline: sse=$sse sst=$sst")
  }

  test("approx-distinct raw path keeps the single-shuffle sketch shape") {
    // the oracle-checked a1_agg_approx carries exact countDistincts to
    // JUDGE the sketch; this is the deployment path it documents — prove
    // the claim: one shuffle, no ExpandExec, same group cardinality
    val raw = ops.Relational.aggPerAdmissionApproxRaw(spark, dir)
    val c = Explain.counters(raw)
    assert(c("shuffles") == 1, s"raw sketch agg: $c")
    assert(!raw.queryExecution.executedPlan.toString.contains("Expand"),
      "sketch path expanded rows like an exact COUNT DISTINCT")
    assert(raw.count() ==
      ops.Relational.aggPerAdmission(spark, dir).count())
  }

  test("registerWarehouse exposes every layer to plain spark.sql") {
    Warehouse.registerWarehouse(spark, dir)
    // raw, stage, DWH, and QA views all resolve; reference-style SQL
    // joins across layers without touching the programmatic API
    val n = spark.sql(
      """SELECT COUNT(*) FROM dwh_fact f
        |JOIN dwh_dim_patients p ON f.patient_id = p.patient_id""".stripMargin)
      .head.getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT COUNT(*) FROM stage_fact").head.getLong(0) >=
      spark.sql("SELECT COUNT(*) FROM dwh_fact").head.getLong(0))
    assert(spark.sql("SELECT COUNT(*) FROM qa_report").head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM dwh_agg_disorders_per_admission")
      .head.getLong(0) > 0)
  }

  test("scd2 periods tile each patient's timeline exactly") {
    val dim = ops.Relational.scd2Dim(spark, dir)
    // exactly one open (is_current) period per patient
    val open = dim.groupBy("patient_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1)
    assert(open.count() == 0, "a patient has != 1 current period")
    // closed periods end exactly where the next period starts, periods
    // never overlap, and consecutive periods never share a type (else
    // they'd be one period)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("patient_id")).orderBy(col("valid_from").asc)
    val seq = dim.select(col("patient_id"), col("admission_type"),
        col("valid_from"), col("valid_to"),
        lead(col("valid_from"), 1).over(w).as("next_from"),
        lead(col("admission_type"), 1).over(w).as("next_type"))
    assert(seq.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0,
      "gap or overlap between consecutive periods")
    assert(seq.filter(col("next_type").isNotNull &&
      col("admission_type") === col("next_type")).count() == 0,
      "adjacent periods share a type — change collapse failed")
    // period row count never exceeds admissions; totals reconcile
    val nAdm = Tables.load(spark, dir, "orders").count()
    val nPeriods = dim.count()
    val sumN = dim.agg(sum(col("n_admissions"))).head.getLong(0)
    assert(nPeriods <= nAdm && sumN == nAdm,
      s"periods $nPeriods, admissions $nAdm, covered $sumN")
  }

  test("materializedLayer builds once under concurrent first touch") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val key = s"probe_${System.nanoTime()}"
    def touch() = Warehouse.materializedLayer(spark, dir, key) {
      built.incrementAndGet()
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    }
    try {
      val res = Await.result(
        Future.sequence((1 to 8).map(_ => Future(touch()))), Duration.Inf)
      // racing first touches of one Memo key must serialize into ONE
      // build + write; every caller gets the same file-backed layer
      assert(built.get() == 1, s"layer built ${built.get()} times")
      assert(res.forall(_("t").count() == 2))
    } finally pool.shutdown()
  }

  test("a second session's layer build leaves the first session's files") {
    val first = graft.etl.Stage.materialized(spark, dir)
    val second = graft.etl.Stage.materialized(spark.newSession(), dir)
    assert(!(first eq second))
    // both file-backed layers stay readable: the second build wrote its
    // own directory instead of overwriting the first one's files
    assert(first("fact").count() == second("fact").count())
  }

  test("two sessions on one dir never share a memoized artifact") {
    import graft.ops.{DedupOps, Joins, Memo, PqOps, SimilarityOps}
    val other = spark.newSession()
    def same[T <: AnyRef](get: SparkSession => T): Boolean =
      get(spark) eq get(spark)
    def shared[T <: AnyRef](get: SparkSession => T): Boolean =
      get(spark) eq get(other)
    assert(same(SimilarityOps.ivfModel(_, dir)))
    assert(!shared(SimilarityOps.ivfModel(_, dir)))
    assert(same(PqOps.codebook(_, dir)))
    assert(!shared(PqOps.codebook(_, dir)))
    assert(same(Joins.bloomSession))
    assert(!shared(Joins.bloomSession))
    // a Long has no identity: probe docCount's memo entry instead — the
    // building session holds it, a second session on the dir does not
    val n = DedupOps.docCount(spark, dir)
    assert(Memo.of[Long](spark, dir, "dedupDocCount")(-1L) == n)
    assert(Memo.of[Long](other, dir, "dedupDocCount")(-1L) == -1L)
  }

  test("Memo retention stays bounded across many sessions") {
    val tag = s"retentionProbe_${System.nanoTime()}"
    (1 to 300).foreach(i =>
      graft.ops.Memo.of(spark.newSession(), dir, tag)(i))
    assert(graft.ops.Memo.size <= 192, s"${graft.ops.Memo.size} live entries")
  }

  test("Memo retries a build that threw") {
    val tag = s"throwingProbe_${System.nanoTime()}"
    intercept[IllegalStateException] {
      graft.ops.Memo.of[Int](spark, dir, tag)(
        throw new IllegalStateException("boom"))
    }
    assert(graft.ops.Memo.of(spark, dir, tag)(7) == 7)
    assert(graft.ops.Memo.of(spark, dir, tag)(8) == 7)
  }

  test("a fresh session resolves every source table without a Spark job") {
    Tables.all.foreach(n => Tables.load(spark.newSession(), dir, n).schema)
    val (jobs, _, _) = scheduled {
      val fresh = spark.newSession()
      Tables.all.foreach(n => Tables.load(fresh, dir, n).schema)
    }
    assert(jobs == 0, s"loading ${Tables.all.size} tables ran $jobs jobs")
  }

  test("a rewritten parquet file is never read with its old schema") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    val target = s"$tmp/nation.parquet"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/nation.parquet"),
      java.nio.file.Paths.get(target))
    val before = Tables.load(spark.newSession(), tmp, "nation")
    assert(!before.columns.contains("n_extra"))
    val n = before.count()
    Tables.load(spark, dir, "nation").withColumn("n_extra", lit(7))
      .write.mode("overwrite").parquet(target)
    val s = spark.newSession()
    val after = Tables.load(s, tmp, "nation")
    assert(after.columns.contains("n_extra"), after.columns.mkString(","))
    assert(after.schema == Tables.parquet(s, target).schema)
    assert(Tables.parquetSchema(s, target) == s.read.parquet(target).schema)
    assert(after.filter(col("n_extra") === 7).count() == n)
  }

  test("overfilling the schema scope never evicts a session artifact") {
    import org.apache.spark.storage.StorageLevel
    val dim = graft.etl.Stage.dimPatients(spark, dir)
    dim.count()
    assert(dim.storageLevel != StorageLevel.NONE)
    val tag = s"schemaProbe_${System.nanoTime()}"
    (1 to 600).foreach(i => graft.ops.Memo.schema(s"$tag$i")(
      org.apache.spark.sql.types.StructType(Nil)))
    assert(graft.ops.Memo.schemaCount <= 512,
      s"${graft.ops.Memo.schemaCount} live schemas")
    assert(graft.etl.Stage.dimPatients(spark, dir) eq dim)
    assert(dim.storageLevel != StorageLevel.NONE)
  }

  test("time travel's warm call runs no schema-inference stages") {
    // measured 7 once every version's schema is known: the manifest
    // collect plus the version aggregates. A read that infers its schema
    // adds a footer-job stage per manifest and version dir (14 in all).
    val q = SparkEntry.queries("s_time_travel")
    q(spark, dir).collect()
    val (_, stages, _) = scheduled(q(spark, dir).collect())
    info(s"s_time_travel: $stages stages per warm call")
    assert(stages <= 7, s"s_time_travel ran $stages stages per warm call")
  }

  test("connected components collapse duplicate chains transitively") {
    import spark.implicits._
    // Chain 1-2, 2-3, 3-4 plus pair 10-11: a one-pass pair-drop rule
    // would keep 3 (it only loses to 2), label propagation must not.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.DedupOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a clean corpus (no verified pair) must yield zero labels, not NPE
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.ops.DedupOps.connectedComponents(empty).count() == 0)
    // a long chain converges well inside the round cap (pointer jumping)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = graft.ops.DedupOps.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(cc.length == 40 && cc.forall(_._2 == 1L))
  }

  test("zorder2 interleaves bits like the reference Morton encoding") {
    import spark.implicits._
    def mortonRef(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= ((a >> i) & 1L) << (2 * i + 1) | ((b >> i) & 1L) << (2 * i)
      z
    }
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (29L, 1499L),
      (0xFFFFL, 0xFFFFL), (12345L, 54321L), (0x10000L + 7L, 3L)) // >16 bits masks
    val got = pairs.toDF("a", "b")
      .select(Warehouse.zorder2(col("a"), col("b")).as("z"))
      .as[Long].collect()
    assert(got.toSeq == pairs.map { case (a, b) =>
      mortonRef(a & 0xFFFFL, b & 0xFFFFL) })
    // locality: adjacent points differ in few low bits, far points in high
    assert(mortonRef(1, 1) < mortonRef(2, 2) && mortonRef(2, 2) < mortonRef(16, 16))
  }

  test("runtime bloom join injects the semi-join reduction filter") {
    val df = SparkEntry.queries("j11_runtime_bloom_join")(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      plan.take(3000))
    // and the cloned-session conf must not leak into the main session
    assert(spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .forall(_ != "0"))
  }

  test("cdc merge: latest-wins compaction drives insert/update/delete/carry-over") {
    import spark.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (9L, "z", 90.0)).toDF("k", "name", "bal")
    val feed = Seq(
      (1L, 1L, "upsert", 11.0), (1L, 2L, "upsert", 12.0), // update ×2 → 12
      (2L, 3L, "delete", 0.0), // delete
      (4L, 4L, "upsert", 40.0), // insert
      (5L, 5L, "delete", 0.0), // unmatched delete: no-op
      (3L, 6L, "delete", 0.0), (3L, 7L, "upsert", 33.0) // delete superseded
    ).toDF("fk", "seq", "op", "v")
    val got = graft.ops.CdcMerge.merge(snap, feed, "k", "fk", Seq(col("seq")),
      col("op") === "delete",
      Map("name" -> coalesce(col("name"), lit("(new)")), "bal" -> col("v")))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", 12.0), (3L, "c", 33.0),
      (4L, "(new)", 40.0), (9L, "z", 90.0)))
  }

  test("repetition signals flag constructed repetitive docs, not varied ones") {
    import spark.implicits._
    val d = Seq(
      // one bigram repeated wall-to-wall: top_bigram_frac ≈ 1
      (1L, Array.fill(30)("spam").mkString(" ")),
      // repeated trigram block: dup_trigram_frac high, top bigram lower
      (2L, Array.fill(10)("buy this now").mkString(" ")),
      // all-distinct words: nothing repeats
      (3L, (1 to 30).map(i => s"w$i").mkString(" ")),
      // too short for any gram
      (4L, "one")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.repetitionSignalsOver(d)
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._4 && got(1L)._2 > 0.9)
    assert(got(2L)._4 && got(2L)._3 > 0.9)
    assert(!got(3L)._4 && got(3L)._2 < 0.1 && got(3L)._3 == 0.0)
    assert(!got(4L)._4 && got(4L)._2 == 0.0 && got(4L)._3 == 0.0)
  }

  test("segment dedup drops cross-doc boilerplate, keeps order, survives empty docs") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // one full segment
    val d = Seq(
      (1L, s"$boiler ${(1 to 10).map(i => s"x$i").mkString(" ")}"),
      (2L, s"$boiler ${(1 to 10).map(i => s"y$i").mkString(" ")}"),
      (3L, s"$boiler ${(1 to 10).map(i => s"z$i").mkString(" ")}"),
      (4L, boiler), // only the hot segment: cleans to empty
      (5L, "solo doc")).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.segmentDedupOver(d)
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    // boiler appears in 4 docs > segmentMaxDocs=2 → dropped everywhere
    assert((1L to 4L).forall(i => got(i)._3 == got(i)._2 - 1))
    assert(got(4L)._3 == 0L)
    assert(got(5L)._3 == 1L && got(5L)._2 == 1)
    // doc 1 cleans to exactly its unique tail, order preserved
    val wantFp = d.sparkSession.range(1)
      .select(graft.functions.TextFns.fastMd5(
        lit((1 to 10).map(i => s"x$i").mkString(" "))))
      .head.getString(0)
    assert(got(1L)._4 == wantFp)
    // empty-cleaned doc fingerprints the empty string
    val emptyFp = d.sparkSession.range(1)
      .select(graft.functions.TextFns.fastMd5(lit(""))).head.getString(0)
    assert(got(4L)._4 == emptyFp)
  }

  test("int8 quantization reconstructs within half a step per element") {
    import spark.implicits._
    val rows = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    rows.foreach { case (_, emb) =>
      val scale = emb.map(x => math.abs(x.toDouble)).max
      if (scale > 0) {
        val step = scale / 127.0
        emb.foreach { x =>
          val q = math.floor(x / scale * 127.0 + 0.5)
          assert(math.abs(q * step - x) <= step / 2 + 1e-9,
            s"x=$x q=$q scale=$scale")
          assert(q >= -128 && q <= 127, s"q=$q out of int8 range")
        }
      }
    }
  }

  test("streaming CDC applies the feed across genuine micro-batches") {
    val out = Sessionize.streamingCdcApply(spark, dir)
    // fixpoint equals the batch MERGE exactly
    val batch = graft.ops.CdcMerge.cdcUpsert(spark, dir)
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    // and it got there incrementally: one snapshot per non-empty
    // micro-batch (feed pre-split into 4 files, maxFilesPerTrigger=2)
    val root = new java.io.File(Warehouse.layerPath(dir, "cdc_stream"))
    val snaps = root.listFiles().map(_.getName)
      .count(n => n.startsWith("snap_") && n != "snap_seed")
    assert(snaps == 2, s"expected 2 per-batch snapshots, got $snaps")
  }

  test("aggregate maintenance folds micro-batch partials to the batch total") {
    val out = Sessionize.streamingAggMaintain(spark, dir)
    val batch = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    val root = new java.io.File(Warehouse.layerPath(dir, "agg_stream"))
    val snaps = root.listFiles().map(_.getName).count(_.startsWith("agg_"))
    assert(snaps == 2, s"expected 2 per-batch aggregate snapshots, got $snaps")
  }

  test("ivf-index maintenance: appended postings equal the batch index") {
    val out = Sessionize.streamingIvfMaintain(spark, dir)
    // fixpoint: probing the maintained index answers exactly what the
    // batch-built index answers
    val batch = graft.ops.SimilarityOps.ivfTopk(spark, dir)
    assert(out.count() == batch.count() && out.count() > 0)
    assert(out.exceptAll(batch).count() == 0)
    // and the maintained index itself is row-identical to the batch one
    // (same frozen quantizer => same probe-cell assignment per arrival)
    val root = new java.io.File(Warehouse.layerPath(dir, "ivf_stream"))
    val posts = root.listFiles().map(_.getName)
      .filter(_.startsWith("postings_")).sorted
    assert(posts.length == 2, s"expected 2 per-batch appends, got ${posts.toSeq}")
    val maintained = spark.read.parquet(
      posts.map(p => s"${root.getPath}/$p"): _*).select("vec_id", "cell")
    val batchIdx = graft.ops.SimilarityOps.ivfCells(spark, dir)
      .select("vec_id", "cell")
    assert(maintained.count() == batchIdx.count())
    assert(maintained.exceptAll(batchIdx).count() == 0)
  }

  test("release diff: consistent across shard settings, falsifiable on tamper") {
    val diff = graft.ops.Curate.releaseDiff(spark, dir)
    val rows = diff.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("consistent"),
        s"split ${r.getAs[String]("split")} inconsistent across shard settings")
      assert(r.getAs[Long]("digest_a") != 0L) // non-vacuous content digest
    }
    // falsification: a tampered layout (one shard dropped from side b)
    // must change the rolled digest — the diff actually detects loss
    val a = graft.ops.Curate.shardManifest(spark, dir)
      .groupBy("split").agg(sum("digest").as("dg"))
    val bm = graft.ops.Curate
      .shardManifestAt(spark, dir, graft.ops.Curate.trainingShardsAlt)
    // drop each split's most-populated shard (guaranteed non-empty;
    // shard 0 may hold no docs at this tiny sf)
    val victim = bm.groupBy("split")
      .agg(max(struct(col("n_docs"), col("shard"))).as("m"))
      .select(col("split"), col("m.shard").as("drop_shard"))
    val b = bm.join(victim, "split").filter(col("shard") =!= col("drop_shard"))
      .groupBy("split").agg(sum("digest").as("dg"))
    val joined = a.alias("a").join(b.alias("b"), "split")
      .filter(col("a.dg") === col("b.dg"))
    assert(joined.count() == 0, "dropped-shard layout was not detected")
  }

  test("compaction actually reduces the file count at the measured target") {
    Warehouse.compaction(spark, dir).collect() // builds frag + compact layers
    def parquetFiles(layer: String) =
      Option(new java.io.File(Warehouse.layerPath(dir, layer)).listFiles())
        .get.count(_.getName.endsWith(".parquet"))
    val frag = parquetFiles("frag_events")
    val comp = parquetFiles("compact_events")
    assert(frag == 64, s"fragmented layer: $frag files")
    // sf0.001 events are far under one 512 KiB target: one output file
    assert(comp == 1, s"compacted layer: $comp files")
  }

  test("sequence packing matches a per-stratum reference fold") {
    import spark.implicits._
    val got = graft.ops.TextOps.packSequences(spark, dir)
      .select("lang", "shard", "doc_id", "n_tokens", "cum_tokens",
        "seq_first", "seq_last", "crosses_boundary")
      .as[(String, Long, Long, Int, Long, Long, Long, Boolean)].collect()
    val c = graft.ops.TextOps.packCapacity
    got.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._3).foreach {
        case (_, _, _, n, cumGot, first, last, crosses) =>
          // the running sum is the fold, and the cuts derive from it
          assert(cumGot == cum + n)
          assert(first == (cum / c) && last == (cum + n - 1) / c)
          assert(crosses == (first != last))
          // a doc never spans more sequences than its own length requires
          assert(last - first <= n / c + 1)
          cum += n
      }
    }
    // packing is tight: each stratum uses exactly ceil(total/capacity)
    // sequences (splitting leaves no internal gaps)
    got.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      val total = rows.map(_._4.toLong).sum
      assert(rows.map(_._7).max == (total - 1) / c)
    }
  }

  test("overlapping chunks reassemble every document exactly") {
    import spark.implicits._
    val stride = graft.ops.TextOps.chunkStride
    val chunks = graft.ops.TextOps.chunkOverlap(spark, dir)
      .select("doc_id", "chunk_idx", "chunk")
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val texts = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    texts.foreach { case (id, text) =>
      val cs = chunks(id)
      // stride-prefixes concatenate back to the text (overlap is real and
      // consistent), and the final chunk carries the tail unclipped
      assert(cs.map(_.take(stride)).mkString.take(text.length) == text)
      assert(text.endsWith(cs.last))
      assert(cs.size == (math.max(text.length - 1, 0) / stride) + 1)
    }
  }

  test("gap fill matches an independent driver-side forward-fold") {
    import spark.implicits._
    // Independent reference: fold each user's (day → last event value) map
    // across the day span, carrying the previous close through gaps.
    val raw = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).cast("string").as("d"),
        unix_micros(col("ts")), col("event_id"), col("value"))
      .as[(Long, String, Long, Long, Double)].collect()
    val expected = raw.groupBy(_._1).flatMap { case (uid, evs) =>
      val close = evs.groupBy(_._2).view.mapValues(
        _.maxBy(e => (e._3, e._4))._5).toMap
      val days = close.keys.toSeq.sorted
      val d0 = java.time.LocalDate.parse(days.head)
      val d1 = java.time.LocalDate.parse(days.last)
      Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1))
        .scanLeft(("", Option.empty[Double], false)) { case ((_, prev, _), day) =>
          val obs = close.get(day.toString)
          (day.toString, obs.orElse(prev), obs.isDefined)
        }.drop(1).map { case (day, v, obs) => (uid, day) -> ((v, obs)) }
    }.toMap
    val got = graft.ops.TimeSeriesOps.gapFill(spark, dir)
      .select(col("user_id"), col("d").cast("string"), col("filled_value"),
        col("observed"))
      .as[(Long, String, Option[Double], Boolean)].collect()
    assert(got.length == expected.size)
    got.foreach { case (uid, day, v, obs) =>
      val (ev, eobs) = expected((uid, day))
      assert(v == ev && obs == eobs, s"user $uid day $day: got ($v,$obs), expected ($ev,$eobs)")
    }
  }

  test("vocab encoding decodes back to the original in-vocab token stream") {
    import spark.implicits._
    val enc = graft.ops.TextOps.vocabEncode(spark, dir)
      .as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2.split(",").filter(_.nonEmpty).map(_.toInt).toSeq, r._3)))
      .toMap
    // rebuild the inverse vocab exactly as the op defines it
    val texts = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val freq = texts.flatMap(_._2.trim.split("\\s+")).groupBy(identity)
      .view.mapValues(_.length).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(graft.ops.TextOps.vocabV)
    val id2tok = freq.zipWithIndex.map { case ((t, _), i) => (i + 1) -> t }.toMap
    texts.foreach { case (docId, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val (ids, nOov) = enc(docId)
      assert(ids.length == toks.length, s"doc $docId length")
      assert(nOov == ids.count(_ == 0), s"doc $docId oov count")
      ids.zip(toks).foreach { case (id, tok) =>
        if (id == 0) assert(!id2tok.values.toSet.contains(tok))
        else assert(id2tok(id) == tok, s"doc $docId decode mismatch")
      }
    }
  }

  test("global shuffle scatters every shard and numbers it densely") {
    val out = graft.ops.TextOps.globalShuffle(spark, dir).cache()
    val total = Tables.load(spark, dir, "documents").count()
    assert(out.count() == total)
    val byShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("maxpos"),
        countDistinct("pos").as("npos"))
      .collect()
    // md5 nibble bits are uniform: all 8 shards populated at 500 docs
    assert(byShard.length == 8)
    byShard.foreach { r =>
      assert(r.getAs[Int]("shard") >= 0 && r.getAs[Int]("shard") < 8)
      // pos is a dense 1..n ordinal within its shard
      assert(r.getAs[Int]("maxpos").toLong == r.getAs[Long]("n"))
      assert(r.getAs[Long]("npos") == r.getAs[Long]("n"))
    }
    // the shuffle actually breaks id order: positions are not the id order
    val firstShard = out.filter(col("shard") === 0)
      .orderBy("pos").select("doc_id").collect().map(_.getLong(0))
    assert(firstShard.length > 2 && !firstShard.sameElements(firstShard.sorted),
      "within-shard order should be hash order, not doc_id order")
    out.unpersist()
  }

  test("semantic dedup survivors have no remaining in-threshold pair") {
    val pairs = graft.ops.SimilarityOps.ivfNearDup(spark, dir).cache()
    val survivors = graft.ops.SimilarityOps.semanticDedup(spark, dir).cache()
    val all = Tables.load(spark, dir, "embeddings")
    // partition: survivors = corpus minus the dropped (higher-id) pair ends
    val dropped = pairs.select(col("vec_b").as("vec_id")).distinct()
    assert(survivors.count() + dropped.count() == all.count())
    // greedy guarantee: every near-dup pair lost at least its higher id,
    // so no pair survives with both ends intact
    val bothAlive = pairs
      .join(survivors.select(col("vec_id").as("vec_a")), "vec_a")
      .join(survivors.select(col("vec_id").as("vec_b")), "vec_b")
    assert(bothAlive.count() == 0)
    pairs.unpersist(); survivors.unpersist()
  }

  test("importance sampling prefers the target domain and is deterministic") {
    val out = graft.ops.TextOps.importanceSample(spark, dir).cache()
    val mean = out.groupBy(col("lang") === "en")
      .agg(avg("avg_log_ratio")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // target-domain docs must score higher under ln(p_target/q_corpus)
    assert(mean(true) > mean(false),
      s"en mean ${mean(true)} should exceed non-en ${mean(false)}")
    // acceptance is a pure hash of (tier, doc_id): a rerun samples the
    // exact same set (the property engine-RNG sampling does not have)
    val again = graft.ops.TextOps.importanceSample(spark, dir)
    assert(out.select("doc_id", "sampled").exceptAll(
      again.select("doc_id", "sampled")).isEmpty)
    // higher tier ceiling ⇒ higher observed acceptance (hex-prefix coin)
    val rates = out.groupBy("tier")
      .agg(avg(col("sampled").cast("double")).as("rate"),
        count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    for {
      (lo, hi) <- Seq("10" -> "80", "40" -> "d0")
      (rLo, nLo) <- rates.get(lo); (rHi, nHi) <- rates.get(hi)
      if nLo >= 30 && nHi >= 30
    } assert(rHi > rLo, s"tier $hi rate $rHi <= tier $lo rate $rLo")
    out.unpersist()
  }

  test("stream-static enrichment neither drops nor fans out events") {
    val enriched = graft.streaming.Sessionize.streamingEnrich(spark, dir)
    val events = Tables.load(spark, dir, "events")
    // LEFT join on a unique dim key: exactly one output row per event
    assert(enriched.count() == events.count())
    assert(enriched.filter(col("c_mktsegment").isNull).count() == 0,
      "every sf user_id resolves against the customer dim")
  }

  test("bm25 ranks only docs containing a query term, highest score first") {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val queryTerms = toks.groupBy(col("doc_id"), col("tok")).count()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc)
      .limit(graft.ops.TextOps.bm25QueryTerms)
      .collect().map(_.getString(0)).toSet
    val out = graft.ops.TextOps.bm25(spark, dir).collect()
    assert(out.length == graft.ops.TextOps.bm25TopK)
    // descending scores with doc_id tie-break = a total order
    val scores = out.map(r => (r.getAs[Long]("score_micro"), r.getAs[Long]("doc_id")))
    assert(scores.sameElements(scores.sortBy(t => (-t._1, t._2))))
    // every ranked doc really contains a query term (scores > 0 only come
    // from matched terms; idf of a majority term can be near zero but the
    // semi-join means no term, no row)
    val ranked = out.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = toks.filter(col("tok").isin(queryTerms.toSeq: _*))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ranked.subsetOf(withTerm))
  }

  test("domain cap keeps exactly the longest docs of each source") {
    val out = graft.ops.Curate.domainCapped(spark, dir).cache()
    val cap = graft.ops.Curate.domainCap
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= cap))
    // the cut is by (n_chars DESC, doc_id ASC): no dropped doc may
    // strictly out-length a kept doc of the same source
    val all = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "n_chars")
    val dropped = all.join(out.select("doc_id"), Seq("doc_id"), "left_anti")
    val maxDropped = dropped.groupBy("source")
      .agg(max("n_chars").as("max_dropped"))
    val minKept = out.groupBy("source").agg(min("n_chars").as("min_kept"))
    val bad = maxDropped.join(minKept, "source")
      .filter(col("max_dropped") > col("min_kept"))
    assert(bad.count() == 0)
    out.unpersist()
  }

  test("native session_window agrees with the hand-rolled sessionizer") {
    val native = graft.streaming.Sessionize.sessionWindowed(spark, dir)
      .select(col("user_id"), col("session_start"),
        col("session_end"), col("n_events"))
    val handRolled = graft.streaming.Sessionize.sessionizeBatch(spark, dir)
      .select(col("user_id"), col("session_start"),
        (col("session_end") + expr(
          s"INTERVAL ${graft.streaming.Sessionize.gapMinutes} MINUTE"))
          .as("session_end"),
        col("n_events").cast("long").as("n_events"))
    assert(native.exceptAll(handRolled).isEmpty
      && handRolled.exceptAll(native).isEmpty,
      "session_window must assign the identical sessions")
  }

  test("bpe merges match an independent driver-side reference trainer") {
    val words = Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // classic dict BPE: count adjacent pairs over (symbols, freq) words,
    // merge the (count DESC, pair ASC) winner greedily left-to-right
    var reps = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val expected = (1 to graft.ops.TextOps.bpeRounds).flatMap { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((toks, f) <- reps; i <- 0 until toks.length - 1)
        counts.updateWith((toks(i), toks(i + 1)))(v => Some(v.getOrElse(0L) + f))
      if (counts.isEmpty) None
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        reps = reps.map { case (toks, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += toks(i); i += 1 }
          }
          (out.result(), f)
        }
        Some((r, a, b, a + b, c))
      }
    }
    val got = graft.ops.TextOps.bpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == expected, s"spark merges $got != reference $expected")
  }

  test("ivf-pq scans only cell-mates and holds the measured recall floor") {
    val out = graft.ops.PqOps.ivfPqTopk(spark, dir).cache()
    // structural guarantee: every scored candidate shares a probed cell
    // with its query
    val cells = graft.ops.SimilarityOps.ivfCells(spark, dir)
      .select(col("cell"), col("vec_id"))
    val qCells = cells.filter(col("vec_id") < graft.ops.PqOps.pqQueryCount)
      .select(col("cell"), col("vec_id").as("q_id"))
    val legal = cells.join(qCells, "cell")
      .select("q_id", "vec_id").distinct()
    assert(out.join(legal, Seq("q_id", "vec_id"), "left_anti").count() == 0,
      "ivf-pq scored a vector outside the probed cells")
    // measured recall@10 vs exact L2 at sf0.001: 0.30 (PQ full ADC scan:
    // 0.36 — the cell restriction trades 0.06 recall for scanning ~2/8 of
    // the corpus on this structureless random corpus). Deterministic
    // computation, so the floor is tight.
    val exact = {
      val e = Tables.load(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") < graft.ops.PqOps.pqQueryCount)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val d2 = graft.functions.TextFns.dotProduct(col("embedding"), col("embedding")) -
        lit(2) * graft.functions.TextFns.dotProduct(col("embedding"), col("q_emb")) +
        graft.functions.TextFns.dotProduct(col("q_emb"), col("q_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d2").asc, col("vec_id").asc)
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), d2.as("d2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select("q_id", "vec_id")
    }
    val hits = out.select("q_id", "vec_id").join(exact, Seq("q_id", "vec_id"))
      .count().toDouble
    val recall = hits / exact.count()
    assert(recall >= 0.29, s"ivf-pq recall@10 fell to $recall")
    out.unpersist()
  }

  test("hard negatives are dense-ranked, non-self, and never exact dupes") {
    val out = graft.ops.TextOps.hardNegatives(spark, dir).cache()
    val k = graft.ops.TextOps.hnTopK
    val byQ = out.groupBy("q_id").agg(
      count(lit(1)).as("n"), max("rank").as("maxr"),
      countDistinct("rank").as("nr")).collect()
    assert(byQ.length == graft.ops.TextOps.hnQueryDocs)
    byQ.foreach { r =>
      assert(r.getAs[Long]("n") == k && r.getAs[Int]("maxr") == k
        && r.getAs[Long]("nr") == k, s"ranks not dense 1..$k: $r")
    }
    assert(out.filter(col("q_id") === col("doc_id")).count() == 0)
    // no negative may share the query's normalized fingerprint
    val fp = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFns.fingerprint(col("text")).as("fp"))
    val joined = out
      .join(fp.select(col("doc_id").as("q_id"), col("fp").as("q_fp")), "q_id")
      .join(fp, "doc_id")
    assert(joined.filter(col("fp") === col("q_fp")).count() == 0)
    out.unpersist()
  }

  test("curriculum stages are monotone in difficulty and quartile-balanced") {
    val out = graft.ops.Curate.curriculumStages(spark, dir).cache()
    val stages = out.groupBy("stage")
      .agg(count(lit(1)).as("n"), min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("stage").collect()
    assert(stages.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    // stages tile the difficulty axis: each stage's max is below the next
    // stage's min (boundary ties all land in the lower stage)
    stages.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"),
        s"stage overlap: $a vs $b")
    }
    // exact quartiles of 500 docs: ~125 per stage, ties may shift a few
    stages.foreach(r => assert(math.abs(r.getAs[Long]("n") - 125L) <= 25,
      s"stage imbalance: $r"))
    out.unpersist()
  }

  test("epoch plan: probabilities tile the budget, tau<1 upsamples small sources") {
    val out = graft.ops.Curate.epochPlan(spark, dir).cache()
    val rows = out.collect()
    val pSum = rows.map(_.getAs[Double]("p_sample")).sum
    assert(math.abs(pSum - 1.0) < 1e-4, s"p_sample must sum to ~1, got $pSum")
    assert(rows.map(_.getAs[Long]("target_tokens")).sum
      <= graft.ops.Curate.epochTokenBudget,
      "floor'd targets must not exceed the global budget")
    // temperature < 1 compresses the size ratio: the smallest source's
    // sampling share must exceed its raw token share (upsampled), the
    // largest source's must fall below it (downsampled)
    val tot = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val smallest = rows.minBy(_.getAs[Long]("n_tokens"))
    val largest = rows.maxBy(_.getAs[Long]("n_tokens"))
    assert(smallest.getAs[Double]("p_sample") >
      smallest.getAs[Long]("n_tokens") / tot, "smallest source not upsampled")
    assert(largest.getAs[Double]("p_sample") <
      largest.getAs[Long]("n_tokens") / tot, "largest source not downsampled")
    // epochs is exactly target/n_tokens (the repeat factor the trainer consumes)
    rows.foreach { r =>
      val expect = r.getAs[Long]("target_tokens").toDouble /
        r.getAs[Long]("n_tokens")
      assert(math.abs(r.getAs[Double]("epochs") - expect) <= 5e-5, s"epochs drift: $r")
    }
    out.unpersist()
  }

  test("perplexity buckets tile each language into balanced score bands") {
    val out = graft.ops.TextOps.perplexityBuckets(spark, dir).cache()
    val total = Tables.load(spark, dir, "documents").count()
    assert(out.count() == total, "every document lands in exactly one bucket")
    val bands = out.groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"),
        min("score_milli").as("lo"), max("score_milli").as("hi"))
      .collect().groupBy(_.getAs[String]("lang"))
    bands.foreach { case (lang, rows) =>
      val byB = rows.map(r => r.getAs[String]("bucket") -> r).toMap
      assert(byB.keySet == Set("head", "middle", "tail"),
        s"$lang missing a band: ${byB.keySet}")
      // bands tile the score axis: tail <= middle <= head (boundary ties
      // land in the lower band, so ranges may touch but never invert)
      assert(byB("tail").getAs[Long]("hi") <= byB("middle").getAs[Long]("lo"),
        s"$lang tail/middle overlap")
      assert(byB("middle").getAs[Long]("hi") <= byB("head").getAs[Long]("lo"),
        s"$lang middle/head overlap")
      // tertiles of ~100 docs/lang: ~1/3 each, ties may shift a few
      val ns = rows.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= ns.sum / 2,
        s"$lang band imbalance: ${rows.mkString(", ")}")
    }
    out.unpersist()
  }

  test("label centroids partition the corpus and beat the random floor") {
    val out = graft.ops.SimilarityOps.labelCentroids(spark, dir).cache()
    val total = Tables.load(spark, dir, "embeddings").count()
    val agg = out.agg(sum("n_members"), sum("n_correct")).head
    assert(agg.getLong(0) == total, "per-label members must tile the corpus")
    assert(out.filter(col("n_correct") > col("n_members")).count() == 0)
    // 10 labels → random assignment = 0.1 agreement; the prototypes must
    // recover real signal (measured ≈ 0.4 on this corpus)
    val acc = agg.getLong(1).toDouble / agg.getLong(0)
    assert(acc >= 0.2, s"nearest-prototype agreement $acc at the random floor")
    out.unpersist()
  }

  test("pmi bigrams rank by the hand-computed formula, floor enforced") {
    val out = graft.ops.TextOps.pmiBigrams(spark, dir).cache()
    assert(out.count() == graft.ops.TextOps.pmiTopK)
    assert(out.filter(col("c_ab") < graft.ops.TextOps.pmiMinCount).count() == 0)
    val rows = out.orderBy(col("pmi_micro").desc, col("a"), col("b")).collect()
    assert(rows.sliding(2).forall { case Array(x, y) =>
      x.getAs[Long]("pmi_micro") >= y.getAs[Long]("pmi_micro") })
    // hand-verify the top pair from independently derived counts
    val top = rows.head
    val toks = Tables.load(spark, dir, "documents")
      .select(graft.functions.TextFns.tokens(col("text")).as("ts"))
      .collect().map(_.getSeq[String](0))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bigs = toks.flatMap(t => t.zip(t.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (a, b) = (top.getAs[String]("a"), top.getAs[String]("b"))
    val (tTot, bTot) = (uni.values.sum.toDouble, bigs.values.sum.toDouble)
    val want = math.floor(math.log(
      (bigs((a, b)) / bTot) / ((uni(a) / tTot) * (uni(b) / tTot))) * 1e6).toLong
    assert(top.getAs[Long]("c_ab") == bigs((a, b)))
    assert(top.getAs[Long]("pmi_micro") == want,
      s"pmi mismatch: got ${top.getAs[Long]("pmi_micro")} want $want")
    out.unpersist()
  }

  test("phash banding finds exactly the brute-force hamming pairs") {
    import spark.implicits._
    val mm = graft.multimodal.Multimodal
    val got = mm.phashNearDup(spark, dir)
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    // twins are designed to usually land within threshold; a byte change
    // can shift the sample mean and flip several borderline bits, so the
    // guarantee is a high recovery RATE, not totality (sf0.001 measures
    // 24/25 — doc 340's mean shift flips 4 bits)
    val planted = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % mm.twinEvery === 0)
      .select("doc_id").as[Long].collect()
      .map(d => (d, d + mm.twinIdOffset)).toSet
    val found = planted.intersect(got).size.toDouble / planted.size
    assert(found >= 0.8, s"twin recovery $found; missing ${planted -- got}")
    // pigeonhole losslessness: banding ≡ brute-force all-pairs at the
    // threshold (driver-side model over every media hash)
    val hashes = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (d, t) =>
        val twin =
          if (d % mm.twinEvery == 0) {
            val mid = t.length / 2
            Some((d + mm.twinIdOffset,
              t.substring(0, mid) + "z" + t.substring(mid + 1)))
          } else None
        Seq((d, t)) ++ twin
      }
      .map { case (id, t) => id -> mm.aHashBands(t.getBytes("UTF-8")) }
    val model = (for {
      (ia, (a0, a1, a2, a3)) <- hashes
      (ib, (c0, c1, c2, c3)) <- hashes
      if ia < ib
      d = Integer.bitCount(a0 ^ c0) + Integer.bitCount(a1 ^ c1) +
        Integer.bitCount(a2 ^ c2) + Integer.bitCount(a3 ^ c3)
      if d <= mm.phashMaxHamming
    } yield (ia, ib)).toSet
    assert(got == model, s"banding diverged: got ${got.size}, model ${model.size}")
  }

  test("phash survivors: keep set is the transitive-cluster minimum") {
    import spark.implicits._
    val mm = graft.multimodal.Multimodal
    val out = mm.phashSurvivors(spark, dir).cache()
    val pairs = mm.phashNearDup(spark, dir)
      .select("media_a", "media_b").as[(Long, Long)].collect()
    val byId = out.select("media_id", "cluster_id").as[(Long, Long)]
      .collect().toMap
    // driver-side union-find model over the same pair table
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    byId.foreach { case (id, c) =>
      assert(c == find(id), s"media $id: cluster $c, model ${find(id)}")
    }
    // exactly one keeper per cluster, and it is the minimum
    val keeps = out.filter(col("keep")).select("media_id").as[Long]
      .collect().toSet
    assert(keeps == byId.values.toSet, "keepers must be the cluster minima")
    out.unpersist()
  }

  test("embedding leakage audit covers exactly the eval slice, flags consistently") {
    import spark.implicits._
    val sim = graft.ops.SimilarityOps
    val out = sim.embeddingLeakage(spark, dir).cache()
    val ids = out.select("eval_id").as[Long].collect()
    assert(ids.nonEmpty && ids.forall(_ % sim.leakEvalMod == 0),
      "rows outside the deterministic eval slice")
    assert(ids.distinct.length == ids.length, "eval vector reported twice")
    val rows = out.select("n_leaks", "max_sim", "leaked")
      .as[(Long, Double, Boolean)].collect()
    rows.foreach { case (n, mx, l) =>
      assert(l == (n > 0), s"leaked flag inconsistent: n=$n l=$l")
      if (l) assert(mx >= sim.nearDupThreshold, s"leaked but max_sim=$mx")
      else assert(mx == 0.0, s"unleaked but max_sim=$mx")
    }
    // scale shape: rides the memoized cell table — no nested loop, no
    // eval × corpus cross
    val c = Explain.counters(out)
    assert(c("nestedLoopJoins") == 0, s"plan: $c")
    out.unpersist()
    ()
  }

  test("leakage-free split keeps every near-dup cluster in one split") {
    val out = graft.ops.Curate.leakageFreeSplit(spark, dir).cache()
    // the defining invariant: split is constant per cluster
    val spans = out.groupBy("cluster_id")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(spans == 0, s"$spans clusters straddle the split")
    // non-degenerate: both splits appear, and multi-doc clusters exist
    assert(out.select("split").distinct().count() == 2)
    val multi = out.groupBy("cluster_id").count().filter(col("count") > 1)
    assert(multi.count() > 0, "no multi-doc clusters — invariant vacuous")
    // …and the plain doc-id-hash split (text_split_assign) DOES leak on
    // this corpus (measured: 3 of 21 multi-doc clusters at sf0.001) —
    // the evaluation bug this operator exists to fix
    val plain = graft.ops.TextOps.splitAssign(spark, dir)
      .select(col("doc_id"), col("split").as("psplit"))
    val leaked = out.join(plain, "doc_id").groupBy(col("cluster_id"))
      .agg(countDistinct(col("psplit")).as("k")).filter(col("k") > 1).count()
    assert(leaked > 0,
      "doc-id split separates no cluster here — leak demonstration vacuous")
    out.unpersist()
    ()
  }

  test("incremental dedup flags every re-crawl as an exact dup of its source") {
    val dd = graft.ops.DedupOps
    val out = dd.incrementalDedup(spark, dir).cache()
    // re-crawled copies carry batch_id = src + offset and identical text:
    // all must come back exact_dup matched to their own source
    val recrawls = out.filter(col("batch_id") >= dd.recrawlIdOffset)
    assert(recrawls.count() > 0, "the re-crawl branch must be non-vacuous")
    assert(recrawls.filter(col("status") =!= "exact_dup").count() == 0)
    assert(recrawls
      .filter(col("match_id") =!= col("batch_id") - dd.recrawlIdOffset)
      .count() == 0, "re-crawl must match its own source doc")
    // fresh docs are never exact dups (all corpus texts are distinct) and
    // 'new' docs carry no match
    val fresh = out.filter(col("batch_id") < dd.recrawlIdOffset)
    assert(fresh.filter(col("status") === "exact_dup").count() == 0)
    assert(out.filter(col("status") === "new")
      .filter(col("match_id").isNotNull).count() == 0)
    out.unpersist()
  }

  test("anomaly flags equal a driver-side trailing-baseline model") {
    val ts = graft.ops.TimeSeriesOps
    val out = ts.anomalyDays(spark, dir)
      .select("user_id", "day", "n_events", "anomaly")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2), r.getBoolean(3)))
    val byUser = out.groupBy(_._1)
    var flagged = 0
    byUser.foreach { case (_, rows) =>
      val days = rows.map(r => r._2 -> r._3).toMap
      rows.foreach { case (_, d, x, got) =>
        val base = days.filter { case (bd, _) =>
          bd >= d - ts.anomalyBaselineDays && bd <= d - 1 }.values.toSeq
        val n = base.size.toLong
        val want = n >= ts.minBaselineDays && {
          val sx = base.sum; val sxx = base.map(v => v * v).sum
          val dev = x * n - sx
          dev > 0 && dev * dev > 9 * (n * sxx - sx * sx)
        }
        assert(got == want, s"day $d x=$x: got $got want $want")
        if (got) flagged += 1
      }
    }
    assert(flagged > 0, "the anomaly branch must fire on this corpus")
  }

  test("bigram LM scores every doc over exactly its adjacent pairs") {
    val out = graft.ops.TextOps.lmBigramScore(spark, dir).cache()
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).as("n_toks"))
    // every doc with ≥2 tokens appears, with n_bigrams = tokens − 1
    val joined = docs.filter(col("n_toks") >= 2)
      .join(out, Seq("doc_id"), "full_outer")
    assert(joined.filter(col("n_toks").isNull || col("n_bigrams").isNull)
      .count() == 0)
    assert(joined.filter(col("n_bigrams") =!= col("n_toks") - 1).count() == 0)
    // log-probs of a smoothed model are strictly negative
    assert(out.filter(col("avg_logprob_micro") >= 0).count() == 0)
    out.unpersist()
  }

  test("event gap counts tile the feed minus one per (user, type) series") {
    val out = graft.ops.TimeSeriesOps.eventGaps(spark, dir)
    val ev = Tables.load(spark, dir, "events")
    val expected = ev.groupBy("event_type")
      .agg((count(lit(1)) - countDistinct(col("user_id"))).as("want"))
    val bad = out.join(expected, "event_type")
      .filter(col("n_gaps") =!= col("want"))
    assert(bad.count() == 0, "each user's first event of a type has no gap")
    assert(out.filter(col("p95_gap_us") < col("p50_gap_us")).count() == 0)
  }

  test("markov transitions conserve the feed and row-normalize") {
    val out = graft.ops.AnalyticsOps.markovTransitions(spark, dir).cache()
    val ev = Tables.load(spark, dir, "events")
    // one transition per event except each user's last
    val want = ev.count() - ev.select("user_id").distinct().count()
    assert(out.agg(sum("n")).head.getLong(0) == want)
    // every row of the matrix sums to 1 within rounding
    val rows = out.groupBy("src").agg(sum("p").as("psum")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-4,
      s"row ${r.getString(0)} sums to ${r.getDouble(1)}"))
    out.unpersist()
  }

  test("optimizer rule turns the naive range join nested-loop-free") {
    // negative control first: WITHOUT the rule, the naive θ-join plans a
    // nested loop — that is the plan the rule exists to kill
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev.filterNot(_ == graft.plans.RangeJoinRewrite)
    try {
      val ev = Tables.load(spark, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("value").as("p_value"))
      val sg = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("value").as("s_value"))
      val naive = p.join(sg,
        abs(col("p_value") - col("s_value")) <= graft.ops.Joins.rangeJoinDelta,
        "inner")
      assert(Explain.counters(naive)("nestedLoopJoins") >= 1,
        "control failed: the naive plan should nested-loop without the rule")
    } finally spark.experimental.extraOptimizations = prev
    // with the rule (installed by the op itself): zero nested loops, and
    // the 3-branch binned union joins on the bin equality
    val rewritten = graft.ops.Joins.rewrittenRangeJoin(spark, dir)
    val c = Explain.counters(rewritten)
    assert(c("nestedLoopJoins") == 0, s"rule did not fire: $c")
    assert(c("sortMergeJoins") + c("broadcasts") >= 1,
      s"rewritten plan must join on the bin key: $c")
    // and the rewrite is lossless: identical rows to the hand-binned form
    val hand = graft.ops.Joins.binnedRangeJoin(spark, dir)
    assert(rewritten.exceptAll(hand).isEmpty && hand.exceptAll(rewritten).isEmpty)
  }

  test("optimizer rule turns HOF dot-product folds into codegen'd dot_product") {
    def naive(): org.apache.spark.sql.DataFrame = {
      def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b,
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0d), (acc, v) => acc + v)
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), hofDot(col("embedding"), col("embedding")).as("d"))
    }
    graft.plans.DotProductRewrite.install(spark)
    val key = graft.plans.DotProductRewrite.enableKey
    val prev = spark.conf.getOption(key)
    try {
      // negative control: without the opt-in conf the rule must NOT fire
      // (it changes NULL/ragged-array semantics, so firing is a contract)
      spark.conf.set(key, "false")
      val off = naive().queryExecution.executedPlan.toString
      assert(off.contains("aggregate(") && !off.contains("dot_product"),
        s"rule fired without the opt-in conf:\n$off")
      spark.conf.set(key, "true")
      val on = naive()
      val onPlan = on.queryExecution.executedPlan.toString
      assert(onPlan.contains("dot_product") && !onPlan.contains("zip_with"),
        s"rule did not fire with the conf set:\n$onPlan")
      // bit-identical to the direct expression (same strict-order fold)
      val direct = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.TextFns.dotProduct(
            col("embedding"), col("embedding")).as("d"))
      assert(on.exceptAll(direct).isEmpty && direct.exceptAll(on).isEmpty)
      // end to end: the rewritten naive cosine equals the hand-written op
      val rew = graft.ops.SimilarityOps.rewrittenCosineTopK(spark, dir)
      val hand = graft.ops.SimilarityOps.cosineTopK(spark, dir)
      assert(rew.exceptAll(hand).isEmpty && hand.exceptAll(rew).isEmpty)
      assert(!rew.queryExecution.executedPlan.toString.contains("zip_with"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mips augmented-L2 ranking equals direct inner-product order") {
    import spark.implicits._
    val got = graft.ops.SimilarityOps.mipsTopk(spark, dir)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)]
      .collect().map(r => (r._1, r._2)).toSet
    // direct MIPS model: exact double dot products on the driver
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0d)((acc, i) => acc + a(i) * b(i))
    val model = (for {
      qid <- 0L until graft.ops.SimilarityOps.lshQueryCount.toLong
      q = vecs(qid)
      top = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, x) => (id, dot(q, x)) }
        .sortBy { case (id, d) => (-d, id) }
        .take(graft.ops.SimilarityOps.topK)
      (id, _) <- top
    } yield (qid, id)).toSet
    assert(got == model,
      s"augmented ranking diverged: only-got=${got -- model} only-model=${model -- got}")
  }

  test("knn join recall vs brute-force kNN graph") {
    import spark.implicits._
    val k = graft.ops.SimilarityOps.knnK
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0d; var na = 0d; var nb = 0d
      a.indices.foreach { i =>
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val truth = (for {
      (qid, q) <- vecs.toSeq
      (id, _) <- vecs.toSeq.filter(_._1 != qid)
        .map { case (id, x) => (id, cos(q, x)) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
    } yield (qid, id)).toSet
    val got = graft.ops.SimilarityOps.knnJoin(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"knn-join recall@$k: $recall%.3f over ${vecs.size} vectors")
    // measured 0.726 at sf0.001 (same 2-probe IVF trade as sim_ivf_topk's
    // 0.64); the floor guards against a regression in cell assignment
    assert(recall >= 0.5, f"knn graph recall collapsed: $recall%.3f")
    // every vector with candidates ranks a dense 1..k prefix
    val ranks = graft.ops.SimilarityOps.knnJoin(spark, dir)
      .groupBy(col("vec_a"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
      .filter(col("n") =!= col("mx")).count()
    assert(ranks == 0, "rank column is not a dense 1..n prefix")
  }

  /** Driver replay of [[graft.ops.SimilarityOps.pagerank]]: integer
    * power iteration over the collected kNN graph.
    */
  private def pagerankReplay(): Map[Long, Long] = {
    import spark.implicits._
    val edges = graft.ops.SimilarityOps.knnJoin(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val nodes = Tables.load(spark, dir, "embeddings")
      .select("vec_id").as[Long].collect().sorted
    val n = nodes.length.toLong
    val base = 1000000000000L / n
    val teleport = base * 15L / 100L
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var r = nodes.map(_ -> base).toMap
    (1 to graft.ops.SimilarityOps.prIters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / outdeg(src) }.sum
      }
      r = nodes.map(v => v -> (teleport + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  /** Seed flags of [[graft.ops.SimilarityOps.labelPropagation]]. */
  private def lpSeeds(): Map[Long, Boolean] = {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Tables.load(spark, dir, "embeddings").select("vec_id").as[Long]
      .collect().map(v => v -> (md5hex(s"lp|$v").head < '4')).toMap
  }

  /** Driver replay of [[graft.ops.SimilarityOps.labelPropagation]]:
    * vec_id → propagated label, -1 where none.
    */
  private def labelPropagationReplay(): Map[Long, Int] = {
    import spark.implicits._
    val edges = graft.ops.SimilarityOps.knnJoin(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val truth = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val isSeed = lpSeeds()
    val outNb: Map[Long, Seq[Long]] = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).toSeq }
    var lab: Map[Long, Option[Int]] =
      truth.keys.map(v => v -> (if (isSeed(v)) Some(truth(v)) else None)).toMap
    (1 to graft.ops.SimilarityOps.lpIters).foreach { _ =>
      val next = truth.keys.map { v =>
        if (isSeed(v)) v -> Some(truth(v))
        else {
          val votes = outNb.getOrElse(v, Seq.empty[Long]).flatMap(lab(_))
            .groupBy(l => l).map { case (l, vs) => (l, vs.size) }
          v -> (if (votes.isEmpty) None
                else Some(votes.toSeq.minBy { case (l, c) => (-c, l) }._1))
        }
      }.toMap
      lab = next
    }
    lab.map { case (v, l) => v -> l.getOrElse(-1) }
  }

  test("pagerank equals the integer power-iteration model replay") {
    import spark.implicits._
    val r = pagerankReplay()
    val got = graft.ops.SimilarityOps.pagerank(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got == r, "pagerank diverged from the driver integer replay")
    // the same rounds on one vertex partition and on four; nodes and
    // adjacency shuffle once, and past one partition every round adds
    // exactly one shuffle map stage
    Seq(1, 4).foreach { p =>
      var atP = Map.empty[Long, Long]
      val (_, _, maps) = scheduled {
        atP = graft.ops.SimilarityOps.pagerank(spark, dir, p)
          .as[(Long, Long)].collect().toMap
      }
      assert(atP == r, s"pagerank on $p partitions diverged from the replay")
      val want = 2 + (if (p == 1) 0 else graft.ops.SimilarityOps.prIters)
      assert(maps == want, s"pagerank on $p partitions ran $maps shuffle " +
        s"map stages, want $want")
    }
    val edges = graft.ops.SimilarityOps.knnJoin(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val nodes = r.keys.toSeq.sorted
    // total mass stays ≤ 1 (truncation + dangling loss only shrinks it)
    assert(got.values.sum <= 1000000000000L)
    // centrality tracks in-degree: mean rank of above-median-indegree
    // nodes exceeds the mean of the rest (both deterministic here)
    val indeg = edges.groupBy(_._2).map { case (d, es) => d -> es.length }
    val byDeg = nodes.map(v => (indeg.getOrElse(v, 0), got(v)))
    val medianDeg = byDeg.map(_._1).sorted.apply(nodes.length / 2)
    val hi = byDeg.filter(_._1 > medianDeg).map(_._2)
    val lo = byDeg.filter(_._1 <= medianDeg).map(_._2)
    assert(hi.nonEmpty && lo.nonEmpty &&
      hi.sum.toDouble / hi.size > lo.sum.toDouble / lo.size,
      "pagerank does not track in-degree")
  }

  test("random projection preserves pairwise distances within JL bounds") {
    import spark.implicits._
    val orig = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    val proj = graft.ops.SimilarityOps.randProjection(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (1 until r.length).map(r.getDouble).toArray).toMap
    assert(proj.head._2.length == graft.ops.SimilarityOps.jlDims)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0d)((acc, i) =>
        acc + (a(i) - b(i)) * (a(i) - b(i)))
    // deterministic pair sample: consecutive ids
    val ids = orig.keys.toSeq.sorted
    val distortions = ids.sliding(2).collect { case Seq(a, b) =>
      d2(proj(a), proj(b)) / d2(orig(a), orig(b))
    }.toSeq
    val mean = distortions.sum / distortions.size
    val within50 = distortions.count(r => r > 0.5 && r < 1.5).toDouble /
      distortions.size
    info(f"JL distortion: mean $mean%.3f, within +-50%%: $within50%.2f")
    // E[ratio] = 1; at d'=16 the JL ε for this corpus is loose, so the
    // floors are conservative: mean near 1, most pairs inside ±50%
    assert(math.abs(mean - 1.0) < 0.15, f"distortion mean drifted: $mean%.3f")
    assert(within50 >= 0.8, f"too many pairs outside +-50%%: $within50%.2f")
  }

  test("label propagation equals the majority-vote model replay") {
    import spark.implicits._
    val model = labelPropagationReplay()
    // the op's own partitioning, then one vertex partition and four
    Seq(None, Some(1), Some(4)).foreach { p =>
      val df = p.fold(graft.ops.SimilarityOps.labelPropagation(spark, dir))(
        graft.ops.SimilarityOps.labelPropagation(spark, dir, _))
      val got = df.select("vec_id", "prop_label").as[(Long, Int)]
        .collect().toMap
      assert(got == model,
        s"propagation on ${p.getOrElse("default")} partitions diverged " +
          "from the driver replay")
    }
    val isSeed = lpSeeds()
    // spreading must label beyond the seed set
    val seeds = isSeed.count(_._2)
    val labeled = model.count(_._2 >= 0)
    info(s"seeds $seeds, labeled after ${graft.ops.SimilarityOps.lpIters} rounds: $labeled")
    assert(labeled > seeds, "propagation labeled nothing beyond the seeds")
  }

  /** Drop every block of the cache behind each Memo frame in `frames`,
    * as a lost executor would; asserts there were blocks and that none
    * survived.
    */
  private def dropCached(what: String, frames: org.apache.spark.sql.DataFrame*)
      : Unit = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    dropRdds(what, frames.flatMap(_.queryExecution.withCachedData
      .collect { case r: InMemoryRelation =>
        r.cacheBuilder.cachedColumnBuffers.id }))
  }

  /** Drop every block of the RDDs `ids` from all block managers. */
  private def dropRdds(what: String, ids: Seq[Int]): Unit = {
    import org.apache.spark.GraftTestBridge
    val sc = spark.sparkContext
    def blocks = ids.map(GraftTestBridge.rddBlocks(sc, _)).sum
    assert(ids.nonEmpty && blocks > 0, s"$what has no cached blocks to drop")
    ids.foreach(GraftTestBridge.removeRdd(sc, _))
    assert(blocks == 0, s"$what blocks survived removeRdd")
  }

  /** A frame's rows as a sorted multiset, for order-free comparison. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("graph loops recompute a dropped kNN-graph cache to the same rows") {
    // A lost materialized block must recompute or fail loudly, never
    // return different rows. Drop the knnGraph Memo cache's blocks, as a
    // lost executor would, between the build and each call.
    import spark.implicits._
    val prWant = pagerankReplay()
    val lpWant = labelPropagationReplay()
    def drop(): Unit = dropCached("knnGraph",
      graft.ops.SimilarityOps.knnJoin(spark, dir))
    drop()
    val pr = graft.ops.SimilarityOps.pagerank(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(pr == prWant,
      "pagerank changed after the kNN graph's blocks were lost")
    drop()
    val lp = graft.ops.SimilarityOps.labelPropagation(spark, dir)
      .select("vec_id", "prop_label").as[(Long, Int)].collect().toMap
    assert(lp == lpWant,
      "label propagation changed after the kNN graph's blocks were lost")
  }

  test("corpus artifacts and contraction phases recompute dropped blocks") {
    // Each Memo artifact that replaced a per-call checkpoint keeps its
    // lineage: with its blocks dropped, every consumer op returns the
    // rows of an undisturbed call.
    import graft.ops.{DedupOps, SimilarityOps, TextOps}
    val artifacts: Seq[(String, () => org.apache.spark.sql.DataFrame,
        Seq[String])] = Seq(
      ("triangle canonical edges",
        () => SimilarityOps.canonKnnEdges(spark, dir),
        Seq("sim_triangle_count", "sim_triangle_count_deg")),
      ("triangle degree-oriented edges",
        () => SimilarityOps.degreeOrientedKnnEdges(spark, dir),
        Seq("sim_triangle_count_deg")),
      ("corpus k-gram table", () => DedupOps.kgrams(spark, dir),
        Seq("dedup_substring_spans", "dedup_substring_apply")),
      ("quality sample", () => DedupOps.qualitySample(spark, dir,
        DedupOps.qualitySampleBudget), Seq("dedup_quality_report")),
      ("quality sample b125", () => DedupOps.qualitySample(spark, dir, 125L),
        Seq("dedup_quality_report_b125")),
      ("perplexity byLang", () => TextOps.perplexityByLang(spark, dir),
        Seq("text_perplexity_buckets")))
    artifacts.foreach { case (what, build, consumers) =>
      val artifact = build()
      consumers.foreach { op =>
        val want = rowsOf(SparkEntry.queries(op)(spark, dir))
        dropCached(what, artifact)
        assert(rowsOf(SparkEntry.queries(op)(spark, dir)) == want,
          s"$op changed after the $what blocks were lost")
      }
    }
    // star contraction's persisted phase rows: drop the final phase's
    // (and the input edges') blocks behind the returned labels
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    val n = 64L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, phases) = DedupOps.starContraction(chain, localThreshold = 0L)
    assert(phases > 0, "threshold 0 must run the distributed phases")
    val want = (0L until n).map(i => (i, 0L)).toSet
    assert(labels.as[(Long, Long)].collect().toSet == want)
    dropRdds("star contraction phase", labels.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd.id })
    assert(labels.as[(Long, Long)].collect().toSet == want,
      "labels changed after the contraction phase's blocks were lost")
  }

  test("plan shapes: round-4 graph/sampling operators pinned") {
    def c(name: String) = builtCounters(name)
    // JL projection is a pure narrow map: no exchange of any kind
    val jl = c("sim_rand_projection")
    info(s"sim_rand_projection: $jl")
    assert(jl("shuffles") == 0 && jl("broadcasts") == 0 &&
      jl("nestedLoopJoins") == 0, s"sim_rand_projection: $jl")
    // kNN self-join: cell-equi joins only — a nested loop here means the
    // candidate restriction fell back to all-pairs
    val knn = c("sim_knn_join")
    info(s"sim_knn_join: $knn")
    // measured: cell-join broadcast + distinct & rank-window exchanges
    // (2 with the IVF cell memo built, as c() leaves it; the ceiling of
    // 4 is the cold inline cell build's, whose extra pair is the
    // one-time k-means assignment)
    assert(knn("nestedLoopJoins") == 0 && knn("shuffles") <= 4,
      s"sim_knn_join: $knn")
    // MIPS broadcasts the max-norm scalar and the tiny query set; the
    // broadcast nested loop over the non-equi (id <> id) predicate is the
    // intended shape BECAUSE the broadcast side is k rows — same family
    // as cosineTopK's crossJoin(broadcast(q))
    val mips = c("sim_mips_topk")
    info(s"sim_mips_topk: $mips")
    assert(mips("broadcasts") >= 2, s"sim_mips_topk: $mips")
    // pagerank and label propagation run their rounds as one RDD loop
    // (SimilarityOps.graphRounds), whose plan shows no exchange; pin the
    // stages one call runs once the kNN graph exists. Measured 4 and 3:
    // pagerank's node count, the node and adjacency map stages, and one
    // stage for every round. A shuffle or a checkpoint per round adds
    // stages per round and breaks the pin.
    graft.ops.SimilarityOps.knnJoin(spark, dir).count()
    Seq("sim_pagerank", "sim_label_propagation").foreach { name =>
      val (_, stages, _) =
        scheduled(SparkEntry.queries(name)(spark, dir).collect())
      info(s"$name: $stages stages per call")
      assert(stages <= 6, s"$name ran $stages stages per call")
    }
    // containment rides the capped LSH candidate pairs: keyed joins only.
    // c() builds the memoized candidate table first (a cold inline build
    // added the one-time LSH band exchanges, 7 against 4 warm); the
    // invariant worth pinning is "never an all-pairs fallback", plus the
    // cold-build ceiling
    val cont = c("dedup_containment")
    info(s"dedup_containment: $cont")
    assert(cont("nestedLoopJoins") == 0 && cont("shuffles") <= 8,
      s"dedup_containment: $cont")
    // weighted sample: narrow map + TakeOrdered; the only exchange is the
    // single-partition gather for the 100-row rank window (not a hash
    // shuffle)
    val wsamp = c("text_weighted_sample")
    info(s"text_weighted_sample: $wsamp")
    assert(wsamp("shuffles") == 0 && wsamp("sortMergeJoins") == 0,
      s"text_weighted_sample: $wsamp")
    // graph beam search: scores are driver-held between rounds, the
    // final re-rank is a driver-side sort of scores the last round
    // already computed — the visible plan is a LocalTableScan. Any
    // join or exchange appearing here means the bounded query-batch
    // model regressed to a distributed beam
    val gt = c("sim_graph_topk")
    info(s"sim_graph_topk: $gt")
    assert(gt("nestedLoopJoins") == 0 && gt("sortMergeJoins") == 0 &&
      gt("shuffles") == 0, s"sim_graph_topk: $gt")
    // diverse sample: keyed join against the memoized cell index + two
    // rank windows; the global window reads only the cell_rank<=budget
    // stratum, so no operator is corpus-cartesian
    val dv = c("curate_diverse_sample")
    info(s"curate_diverse_sample: $dv")
    assert(dv("nestedLoopJoins") == 0, s"curate_diverse_sample: $dv")
    // novelty: three keyed map-side-combinable stages over the memoized
    // shingle rows — distinct, min-agg, join-back (broadcast at this SF
    // by AQE's choice, sort-merge at scale — both keyed), doc agg
    val nv = c("text_novelty")
    info(s"text_novelty: $nv")
    assert(nv("nestedLoopJoins") == 0 && nv("shuffles") <= 6,
      s"text_novelty: $nv")
    // interval overlap: patient-keyed equi join with the overlap
    // predicate as a residual — a nested loop here means the join
    // degenerated to all-pairs
    val ivo = c("a18_interval_overlap")
    info(s"a18_interval_overlap: $ivo")
    assert(ivo("nestedLoopJoins") == 0, s"a18_interval_overlap: $ivo")
    // census sweep: no joins at all — two-delta union, one day hash-agg,
    // one date-domain prefix-sum window
    val cs = c("ts_census")
    info(s"ts_census: $cs")
    assert(cs("nestedLoopJoins") == 0 && cs("sortMergeJoins") == 0 &&
      cs("broadcasts") == 0, s"ts_census: $cs")
    // scene cuts: the frame diff runs inside the codec flatMap — a
    // shuffle here means someone rewrote it as a per-media lag window
    val sc = c("mm_scene_cuts")
    info(s"mm_scene_cuts: $sc")
    assert(sc("shuffles") == 0 && sc("sortMergeJoins") == 0 &&
      sc("broadcasts") == 0, s"mm_scene_cuts: $sc")
  }

  test("funnel report, lsh curve, source stats: semantics tie to their parents") {
    import spark.implicits._
    // funnel: cumulative gates are monotone non-increasing and the final
    // row IS the curated corpus (same gate chain, one-pass aggregate)
    val f = graft.ops.Curate.funnelReport(spark, dir)
      .orderBy("gate").select("gate", "n_docs", "n_chars")
      .as[(String, Long, Long)].collect()
    assert(f.length == 6 && f.head._1 == "0_total")
    f.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3,
        s"funnel not monotone: $a -> $b")
    }
    val curated = graft.ops.Curate.curatedCorpus(spark, dir).count()
    assert(f.last._2 == curated,
      s"funnel final ${f.last._2} != curate_corpus $curated")
    val total = Tables.load(spark, dir, "documents").count()
    assert(f.head._2 == total)
    // no per-stage re-count: the funnel must not window, and its gate
    // joins are all equi-joins
    val fc = Explain.counters(graft.ops.Curate.funnelReport(spark, dir))
    info(s"curate_funnel_report: $fc")
    assert(fc("nestedLoopJoins") == 0, s"funnel: $fc")
    // lsh curve: strata partition the candidate-pair set exactly, and
    // the per-stratum true-dup counts sum to the verified-dup total
    val curve = graft.ops.DedupOps.lshCurve(spark, dir)
      .select("n_bands", "n_pairs", "n_true")
      .as[(Int, Long, Long)].collect()
    assert(curve.forall(r => r._1 >= 1 && r._1 <= graft.ops.DedupOps.numBands))
    val pairTotal = graft.ops.DedupOps.minhashLsh(spark, dir).count()
    assert(curve.map(_._2).sum == pairTotal,
      s"curve pairs ${curve.map(_._2).sum} != lsh pairs $pairTotal")
    val trueTotal = graft.ops.DedupOps.ngramJaccard(spark, dir)
      .filter(col("jaccard") >= graft.ops.DedupOps.jaccardThreshold).count()
    assert(curve.map(_._3).sum == trueTotal,
      s"curve true ${curve.map(_._3).sum} != verified dups $trueTotal")
    // source stats: rows partition the corpus; near-dup non-survivors
    // across sources equal docs minus cluster survivors
    val ss = graft.ops.DedupOps.sourceStats(spark, dir)
      .select("n_docs", "n_exact_dups", "n_near_dups")
      .as[(Long, Long, Long)].collect()
    assert(ss.map(_._1).sum == total)
    val survivors = graft.ops.DedupOps.nearDupSurvivors(spark, dir).count()
    assert(ss.map(_._3).sum == total - survivors)
    ss.foreach(r => assert(r._2 <= r._1 && r._3 <= r._1))
  }

  test("recall curve and OHLC downsample: semantics and plan shape") {
    import spark.implicits._
    // the curve is monotone: more probed cells can only grow the
    // candidate set, so micro recall is non-decreasing in nprobe
    val curve = graft.ops.SimilarityOps.recallCurve(spark, dir)
      .orderBy("nprobe").select("nprobe", "n_truth", "n_hit")
      .as[(Int, Long, Long)].collect()
    assert(curve.map(_._1).toSeq == (1 to
      graft.ops.SimilarityOps.recallCurveMaxProbe))
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, s"recall curve not monotone: $a -> $b")
    }
    // the nprobe=2 point IS sim_recall_report's operating point: same
    // stored index, same query probes — micro-averaged sums must agree
    val rep = graft.ops.SimilarityOps.recallReport(spark, dir)
      .agg(sum("n_truth"), sum("n_hit")).as[(Long, Long)].head()
    val p2 = curve.find(_._1 == 2).get
    assert((p2._2, p2._3) == rep,
      s"curve@2 ${(p2._2, p2._3)} != recall_report $rep")
    // OHLC: per-bar bounds hold and counts partition the stream; the
    // plan is ONE combinable hash-agg — no window, no join of any kind
    val bars = graft.ops.TimeSeriesOps.ohlcDownsample(spark, dir)
    val bad = bars.filter(col("high_v") < col("low_v") ||
      col("open_v") > col("high_v") || col("open_v") < col("low_v") ||
      col("close_v") > col("high_v") || col("close_v") < col("low_v"))
      .count()
    assert(bad == 0, s"$bad OHLC bars violate bounds")
    val nTotal = Tables.load(spark, dir, "events").count()
    assert(bars.agg(sum("n_events")).as[Long].head() == nTotal)
    val oc = Explain.counters(bars)
    info(s"ts_downsample: $oc")
    assert(oc("shuffles") == 1 && oc("sortMergeJoins") == 0 &&
      oc("nestedLoopJoins") == 0 && oc("broadcasts") == 0,
      s"ts_downsample: $oc")
    assert(!bars.queryExecution.executedPlan.toString.contains("Window"),
      "ts_downsample must not window")
  }

  test("plan shapes: round-9 additions pinned; margin semantics hold") {
    def c(name: String) = builtCounters(name)
    // classifier inference: one codegen map + ONE per-doc agg exchange —
    // token rows never shuffle (map-side partial), no join of any kind.
    // The frame is Memo-persisted (three consumers) so the plan STRING
    // can reprint the cached subtree's exchange under two plan_ids —
    // shufflesTree (tree-walked, cache-deduped, same discipline as the
    // join counters) is immune to the reprint, so the pin is exact: a
    // genuine second exchange fails here instead of hiding under a <=.
    val cf = c("curate_classifier_filter")
    info(s"curate_classifier_filter: $cf")
    assert(cf("shufflesTree") == 1 && cf("sortMergeJoins") == 0 &&
      cf("nestedLoopJoins") == 0 && cf("broadcasts") == 0,
      s"curate_classifier_filter: $cf")
    // seasonal index: two agg exchanges over one scan + a types-row join
    val si = c("ts_seasonal_index")
    info(s"ts_seasonal_index: $si")
    assert(si("shuffles") <= 2 && si("nestedLoopJoins") == 0,
      s"ts_seasonal_index: $si")
    // margin mining rides the memoized kNN graph: id-keyed joins only;
    // ceiling covers the cold inline graph build
    val mg = c("sim_margin_topk")
    info(s"sim_margin_topk: $mg")
    assert(mg("nestedLoopJoins") == 0 && mg("shuffles") <= 10,
      s"sim_margin_topk: $mg")
    // semantics: per-vector neighbor lists are k-bounded with a rank-1
    // row; accept implies the quantized threshold; a uniform-density
    // neighborhood (every sim equal) yields margin ~ 1.0 exactly when
    // both endpoints share the uniform mean — checked via the invariant
    // margin_q of a self-consistent row: sim_u == both means => 10000
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.marginTopk(spark, dir)
      .select(col("vec_a"), col("margin_rank"), col("accept"),
        col("margin_q")).collect()
    val byVec = rows.groupBy(_.getLong(0))
    byVec.foreach { case (v, rs) =>
      assert(rs.length <= graft.ops.SimilarityOps.knnK,
        s"vec $v has ${rs.length} margin rows")
      assert(rs.exists(_.getInt(1) == 1), s"vec $v lacks a rank-1 row")
    }
    rows.filter(_.getBoolean(2)).foreach { r =>
      assert(!r.isNullAt(3) &&
        r.getLong(3) >= graft.ops.SimilarityOps.marginAcceptQ,
        s"accepted row under threshold: $r")
    }
  }

  test("plan shapes: late round-9 additions pinned") {
    def c(name: String) = builtCounters(name)
    // a20: one per-user agg exchange + one single-partition global fold —
    // no join, no window, no broadcast anywhere
    val ab = c("a20_ab_test")
    info(s"a20_ab_test: $ab")
    assert(ab("shuffles") <= 1 && ab("sortMergeJoins") == 0 &&
      ab("nestedLoopJoins") == 0 && ab("broadcasts") == 0, s"a20_ab_test: $ab")
    // a21: the single-row cutoff cross is the only non-equi join; one
    // conditional-sum fold over the purchase scan
    val dd = c("a21_diff_in_diff")
    info(s"a21_diff_in_diff: $dd")
    assert(dd("nestedLoopJoins") <= 1 && dd("sortMergeJoins") == 0,
      s"a21_diff_in_diff: $dd")
    // changepoint: day-grain agg + broadcast stats join + two window
    // passes — the corpus shuffles once (to day grain), never row-grain
    val cp = c("ts_changepoint")
    info(s"ts_changepoint: $cp")
    assert(cp("nestedLoopJoins") == 0 && cp("sortMergeJoins") == 0,
      s"ts_changepoint: $cp")
    // skew report: agg + single-row cross + TakeOrdered, no window node
    val sk = SparkEntry.queries("s_skew_report")(spark, dir)
    assert(sk.queryExecution.executedPlan.toString.contains("TakeOrdered"),
      "s_skew_report must cut via TakeOrdered, not a global sort")
    assert(WindowAudit.globalWindowCount(sk) == 0 &&
      WindowAudit.violations(sk).isEmpty)
    // fertility: one hash-agg to |langs| rows, no join
    val tf = c("text_tokenizer_fertility")
    info(s"text_tokenizer_fertility: $tf")
    assert(tf("shuffles") <= 1 && tf("sortMergeJoins") == 0 &&
      tf("nestedLoopJoins") == 0, s"text_tokenizer_fertility: $tf")
  }

  test("hnsw layered search: well-formed top-k, recall comparable to the flat beam") {
    import org.apache.spark.sql.expressions.Window
    val so = graft.ops.SimilarityOps
    val hnsw = SparkEntry.queries("sim_hnsw_topk")(spark, dir).cache()
    // shape: every query has a contiguous 1..k rank list, k-bounded
    val byQ = hnsw.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
        min(col("rank")).as("mn"))
    assert(byQ.filter(col("n") > so.lshTopK || col("mx") =!= col("n") ||
      col("mn") =!= 1).count() == 0, "malformed rank lists")
    assert(byQ.count() == so.lshQueryCount)
    // recall vs brute force, reported next to the flat beam's: layered
    // entry discovery must not LOSE recall against the same fine search
    // from fixed entries (it starts nearer the answer by construction)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", graft.functions.TextFns.l2norm(col("embedding")))
    val q = e.filter(col("vec_id") < so.lshQueryCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.TextFns.dotProduct(col("embedding"), col("qe"))
          / (col("nrm") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= so.lshTopK)
      .select("q_id", "vec_id")
    val nTruth = truth.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      truth.join(df.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
        .count().toDouble / nTruth
    val rH = recallOf(hnsw)
    val rG = recallOf(SparkEntry.queries("sim_graph_topk")(spark, dir))
    info(f"hnsw recall@${so.lshTopK}: $rH%.3f  flat beam: $rG%.3f")
    assert(rH >= rG - 0.11,
      f"layered entries lost recall: hnsw $rH%.3f vs flat $rG%.3f")
    hnsw.unpersist()
  }

  test("clustered graph twin: near-perfect recall where NSW wins, neighbors in-cluster") {
    import org.apache.spark.sql.expressions.Window
    val so = graft.ops.SimilarityOps
    val got = SparkEntry.queries("sim_graph_topk_clustered")(spark, dir)
      .select(col("q_id"), col("vec_id")).cache()
    // truth: brute-force top-k per query over an INLINE re-derivation of
    // the clustered fixture (same formula, independent code path)
    val center = (col("vec_id") % so.clusterCount) * 16 + 1
    val emb2 = transform(sequence(lit(1), lit(64)), i =>
      (when(i === center, lit(1.0d)).otherwise(lit(0.0d)) +
        element_at(col("embedding"), i).cast("double") / lit(50.0d))
        .cast("float"))
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), emb2.as("embedding"))
      .withColumn("nrm", graft.functions.TextFns.l2norm(col("embedding")))
    val q = e.filter(col("vec_id") < so.lshQueryCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.TextFns.dotProduct(col("embedding"), col("qe"))
          / (col("nrm") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= so.lshTopK)
      .select("q_id", "vec_id")
    val nTruth = truth.count().toDouble
    val hit = truth.join(got, Seq("q_id", "vec_id")).count().toDouble
    info(f"clustered twin recall@${so.lshTopK}: ${hit / nTruth}%.3f")
    // the registered twin exists to exercise the regime where graph
    // navigation WINS — recall must decisively beat the ~0.52 the
    // structureless corpus yields for the same search. Measured 0.88 at
    // sf0.001 (22/25): WITHIN a cluster the fixture is structureless
    // again (ranking among in-cluster neighbors rides the ±2% jitter),
    // so the last point of recall is the same regime the 0.52 figure
    // measures — the clusters are what the graph navigates, and it
    // finds them every time (zero cross-cluster rows below).
    assert(hit / nTruth >= 0.8,
      s"clustered recall ${hit / nTruth} < 0.8 — twin lost its point")
    // cluster coherence: on well-separated clusters every returned
    // neighbor shares the query's cluster
    val cross = got.filter(col("vec_id") % so.clusterCount
      =!= col("q_id") % so.clusterCount).count()
    assert(cross == 0, s"$cross cross-cluster neighbors returned")
    got.unpersist()
  }

  test("ood score equals the diagonal-Gaussian model replay; drift PSI replays exactly") {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    // HALF_UP rounding, matching Spark's Round expression and DuckDB round()
    def rnd(x: Double, scale: Int): Double =
      new JBD(java.lang.Double.toString(x)).setScale(scale, RM.HALF_UP)
        .doubleValue()
    def qLong(x: Double): Long =
      new JBD(java.lang.Double.toString(x)).setScale(0, RM.HALF_UP).longValue()

    // --- sim_ood_score: replay the full quantized pipeline in plain Scala
    val embRows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    val byLabel = embRows.groupBy(_._2)
    val expected = byLabel.toSeq.flatMap { case (label, rs) =>
      val n = rs.length.toDouble
      val dims = 0 until 64
      val m = new Array[Double](64)
      val w = new Array[Double](64)
      dims.foreach { i =>
        val qs = rs.map(r => qLong(r._3(i).toDouble * 1e6))
        val sq = qs.sum // exact at suite scale; the op sums decimal(38,0)
        val sq2 = qs.map(q => q * q).sum
        m(i) = rnd(sq.toDouble / (n * 1e6), 6)
        val ex2 = rnd(sq2.toDouble / (n * 1e12), 6)
        val v = math.max(rnd(ex2 - m(i) * m(i), 6), 0.0)
        w(i) = rnd(1.0 / (v + graft.ops.SimilarityOps.oodVarEps), 6)
      }
      val scored = rs.map { case (vid, _, x) =>
        var acc = 0.0
        dims.foreach { i =>
          val d = x(i).toDouble - m(i); acc += (d * d) * w(i)
        }
        (vid, qLong(rnd(acc / 64, 6) * 1e6))
      }
      scored.sortBy { case (vid, key) => (-key, vid) }
        .take(graft.ops.SimilarityOps.oodTopK)
        .zipWithIndex
        .map { case ((vid, key), p) =>
          (label, vid, rnd(key.toDouble / 1e6, 6), p + 1)
        }
    }.toSet
    val got = SparkEntry.queries("sim_ood_score")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == expected,
      s"ood mismatch: extra=${got -- expected}, missing=${expected -- got}")
    // plan shape: no label-keyed rank window (bounded-stratum trap), no
    // loop join — the top-k is the BoundedTopK aggregate
    val oodDf = SparkEntry.queries("sim_ood_score")(spark, dir)
    assert(WindowAudit.globalWindowCount(oodDf) == 0 &&
      WindowAudit.violations(oodDf).isEmpty &&
      Explain.counters(oodDf)("nestedLoopJoins") == 0,
      "sim_ood_score plan regressed")

    // --- curate_drift_report: replay PSI from the collected corpus
    val docRows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .collect()
    val kept = SparkEntry.queries("curate_corpus")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val feats = docRows.flatMap { r =>
      val id = r.getLong(0)
      Seq(("source", r.getString(1), id), ("lang", r.getString(2), id),
        ("len_log2",
          math.floor(math.log(r.getLong(3).toDouble + 1) / math.log(2.0))
            .toLong.toString, id))
    }
    val expectedDrift = feats.groupBy(_._1).map { case (f, rows) =>
      val buckets = rows.groupBy(_._2)
      val b = buckets.size.toLong
      val nRaw = rows.length.toLong
      val nCur = rows.count(r => kept.contains(r._3)).toLong
      val psiNano = buckets.values.map { brs =>
        val cRaw = brs.length.toLong
        val cCur = brs.count(r => kept.contains(r._3)).toLong
        val pr = (cRaw + 1).toDouble / (nRaw + b)
        val pc = (cCur + 1).toDouble / (nCur + b)
        math.floor((pc - pr) * math.log(pc / pr) * 1e9).toLong
      }.sum
      (f, b, rnd(psiNano.toDouble / 1e9, 6))
    }.toSet
    val gotDrift = SparkEntry.queries("curate_drift_report")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(gotDrift == expectedDrift,
      s"drift mismatch: got=$gotDrift expected=$expectedDrift")
    // every stratification is present and bounded; PSI terms share the
    // (p−q)·ln(p/q) ≥ 0 sign, so each feature's PSI is non-negative
    assert(gotDrift.map(_._1) == Set("source", "lang", "len_log2"))
    gotDrift.foreach { case (f, b, psi) =>
      assert(b > 0 && b <= 64, s"$f bucket count $b out of bounds")
      assert(psi >= 0.0, s"$f PSI $psi negative")
    }
  }

  test("containment matches set model and explains the jaccard gap") {
    import spark.implicits._
    // driver model: exact shingle-set containment per LSH candidate pair
    val sets = graft.ops.DedupOps.shingleRows(spark, dir)
      .select("doc_id", "x").as[(Long, String)].collect()
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val got = graft.ops.DedupOps.containment(spark, dir)
      .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.nonEmpty, "no candidate pairs to verify")
    got.foreach { case (a, b, cab, cba) =>
      val inter = (sets(a) & sets(b)).size.toDouble
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r4(inter / sets(a).size) == cab && r4(inter / sets(b).size) == cba,
        s"containment mismatch for ($a,$b)")
    }
    // containment dominates jaccard: |∩|/|A| >= |∩|/|∪| always — the
    // asymmetric metric can only reveal MORE overlap than jaccard
    val joined = graft.ops.DedupOps.containment(spark, dir)
      .join(graft.ops.DedupOps.ngramJaccard(spark, dir), Seq("doc_a", "doc_b"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a"))
        < col("jaccard") - lit(1e-9)).count()
    assert(joined == 0, "containment fell below jaccard on some pair")
  }

  test("weighted sample equals the exponential-key model and skews long") {
    import spark.implicits._
    val corpus = Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    // driver model: same md5-derived u, same ln(u)/w pico-key, top-N
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val n = graft.ops.TextOps.weightedSampleN
    val model = corpus.map { case (id, chars) =>
      val v = java.lang.Long.parseLong(md5hex(s"wsamp|$id").take(8), 16)
      val u = (v + 1).toDouble / 4294967297.0
      val key = math.floor(math.log(u) / math.max(chars, 1L) * 1e12).toLong
      (id, key)
    }.sortBy { case (id, key) => (-key, id) }.take(n).map(_._1).toSet
    val got = graft.ops.TextOps.weightedSample(spark, dir)
    val gotIds = got.select("doc_id").as[Long].collect().toSet
    assert(gotIds == model,
      s"sample diverged from model: extra=${gotIds -- model} missing=${model -- gotIds}")
    // length-weighted draw skews long vs the corpus mean (statistical,
    // but deterministic here: the draw is a fixed function of the data)
    val corpusMean = corpus.map(_._2).sum.toDouble / corpus.length
    val sampleMean = got.agg(avg(col("n_chars"))).head.getDouble(0)
    info(f"corpus mean n_chars $corpusMean%.0f, sample mean $sampleMean%.0f")
    assert(sampleMean > corpusMean, "length-weighted sample did not skew long")
    // scale shape: the cut is a TakeOrdered, not a global-window sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "weighted sample must cut via TakeOrdered, not a global window")
  }

  test("unpivot is the exact inverse of pivoting back") {
    val long = graft.ops.Relational.unpivotReport(spark, dir)
    val back = long.groupBy("n_name").pivot("metric", Seq("customers", "suppliers"))
      .agg(first("value"))
    val wideAgain = back.select(col("n_name"), col("customers"), col("suppliers"))
    // 2 metrics per nation, and the pivot round-trip loses nothing
    assert(long.count() == wideAgain.count() * 2)
    val nations = Tables.load(spark, dir, "nation").count()
    assert(wideAgain.count() == nations)
    val c = Tables.load(spark, dir, "customer").count()
    assert(wideAgain.agg(sum("customers")).head.getLong(0) == c)
  }

  test("sequence packing conserves tokens and fills every non-final sequence") {
    import spark.implicits._
    val packed = graft.ops.Curate.packSequences(spark, dir)
    val l = graft.ops.Curate.packLen
    // conservation: every token of every non-empty doc lands in exactly
    // one (doc, seq) assignment
    val docTok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("tc"))
      .agg(sum("tc")).head.getLong(0)
    val packedTok = packed.agg(sum("n_tokens")).head.getLong(0)
    assert(packedTok == docTok, s"packed $packedTok of $docTok tokens")
    // density: every sequence except the last is exactly packLen full —
    // the no-padding-waste property that distinguishes packing from
    // per-doc truncation
    val fills = packed.groupBy("seq_id").agg(sum("n_tokens").as("fill"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val lastSeq = fills.map(_._1).max
    fills.foreach { case (sq, fill) =>
      if (sq != lastSeq) assert(fill == l, s"seq $sq holds $fill != $l")
      else assert(fill <= l && fill > 0, s"final seq $sq holds $fill")
    }
    // assignments are contiguous non-overlapping doc slices
    val bad = packed.groupBy("doc_id")
      .agg(min("doc_from").as("f"), max("doc_to").as("t"),
        sum("n_tokens").as("n"))
      .filter(col("f") =!= 0L || col("t") =!= col("n"))
    assert(bad.isEmpty, "doc slices must tile [0, tok_cnt) exactly")
  }

  test("star contraction converges in O(log n) phases on a worst-case chain") {
    import spark.implicits._
    // A 400-node path is the DIAMETER worst case: plain min-label
    // propagation needs ~diameter rounds (log-diameter with pointer
    // jumping); star contraction must close it in O(log n) phases with
    // the edge set shrinking as components contract. 2·log2(400) ≈ 17
    // is generous headroom over the paper's bound constants.
    val n = 400
    val chain = (0L until (n - 1L)).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // localThreshold = 0 forces the DISTRIBUTED phases (the default
    // would resolve a 400-edge graph in the single-task finish)
    val (labels, phases) =
      graft.ops.DedupOps.starContraction(chain, localThreshold = 0L)
    info(s"chain of $n nodes: $phases phases")
    assert(phases <= 17, s"star contraction took $phases phases on a $n-chain")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L),
      "chain must collapse to one component rooted at 0")
    // degenerate inputs: empty graph and pure self-loops
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.ops.DedupOps.connectedComponents(empty).isEmpty)
    val selfOnly = Seq((7L, 7L), (9L, 9L)).toDF("doc_a", "doc_b")
    assert(graft.ops.DedupOps.connectedComponents(selfOnly)
      .as[(Long, Long)].collect().toSet == Set((7L, 7L), (9L, 9L)))
  }

  test("ab test readout equals the driver-side two-proportion model") {
    val out = graft.ops.AnalyticsOps.abTest(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1),
      r.getLong(3), r.getLong(4))
    // variant totals tile the user population
    val users = Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(na + nb == users, s"$na + $nb != $users users")
    assert(ca <= na && cb <= nb && na > 0 && nb > 0)
    // z statistic replays from the four counts; degenerate pooled
    // variance (p at 0 or 1) must surface as NULL, not a crash
    val zIdx = r.fieldIndex("z_conv")
    if (ca + cb > 0 && ca + cb < na + nb) {
      val pa = ca.toDouble / na; val pb = cb.toDouble / nb
      val p = (ca + cb).toDouble / (na + nb)
      val z = BigDecimal(
        (pa - pb) / math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val zGot = r.getDouble(zIdx)
      assert(math.abs(zGot - z) < 1e-9, s"z got $zGot want $z")
      assert(r.getBoolean(r.fieldIndex("significant")) ==
        (math.abs(zGot) > 1.96))
    } else {
      assert(r.isNullAt(zIdx))
      assert(!r.getBoolean(r.fieldIndex("significant")))
    }
    // hash assignment populates both arms; exact balance is a law of
    // large numbers, not an invariant — at 21 users the split can be
    // 6/15 — so only pin that neither arm degenerates to empty (the
    // na > 0 && nb > 0 assert above) and that the split is not all-one-arm
    assert(math.abs(na - nb) < na + nb)
  }

  test("cusum changepoint equals the sequential-recursion model replay") {
    // the op computes S via the prefix-min closed form; the textbook
    // definition is the sequential recursion S_t = max(0, S_{t-1} + dev).
    // Prove them equal on the real feed, in the op's own n-scaled
    // integer units (S'_t = n·S_t).
    val out = graft.ops.TimeSeriesOps.changepoint(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (tp, rows) =>
      val seq0 = rows.sortBy(_._2)
      val xs = seq0.map(_._3)
      val n = xs.length.toLong; val sx = xs.sum
      var sUp = 0L; var sDn = 0L
      seq0.zip(xs).foreach { case ((_, d, _, gotUp, gotDn), x) =>
        val dev = n * x - sx // n·(x − μ)
        sUp = math.max(0L, sUp + dev)
        sDn = math.max(0L, sDn - dev)
        assert(gotUp == sUp, s"$tp day $d: S+ got $gotUp want $sUp")
        assert(gotDn == sDn, s"$tp day $d: S- got $gotDn want $sDn")
      }
    }
  }

  test("threshold sweep is monotone and consistent with the pinned filter") {
    val c = graft.ops.Curate
    val sweep = c.thresholdSweep(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(sweep.keySet == c.sweepThresholds.toSet)
    // keep count is non-increasing in the threshold
    val ordered = c.sweepThresholds.map(t => sweep(t)._1)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b },
      s"keep counts not monotone: $ordered")
    // the threshold-0 row IS the shipped filter's keep count
    val pinned = c.classifierFilter(spark, dir)
      .filter(col("keep")).count()
    assert(sweep(0L)._1 == pinned)
    // the sweep must separate: not all thresholds keep the same set
    assert(ordered.distinct.size > 1, "sweep is flat — thresholds don't bite")
  }

  test("filter calibration cells tile the corpus and agree consistently") {
    val out = graft.ops.Curate.filterCalibration(spark, dir).cache()
    val docs = Tables.load(spark, dir, "documents").count()
    assert(out.agg(sum("n_docs")).head.getLong(0) == docs)
    assert(out.count() <= 4)
    // agree is keep == (quality == 'good'), cell by cell
    assert(out.filter(col("agree") =!=
      (col("keep") === (col("quality") === "good"))).count() == 0)
    // shares are floor-ppm of the corpus
    val bad = out.filter(col("share_ppm") =!=
      (col("n_docs") * 1000000L) / lit(docs))
    assert(bad.count() == 0)
    out.unpersist()
  }

  test("skew report ranks true heavy hitters with exact shares") {
    val out = graft.ops.ProfileOps.skewReport(spark, dir).collect()
    val ev = Tables.load(spark, dir, "events")
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t = counts.values.sum; val k = counts.size
    val want = counts.toSeq.sortBy(c => (-c._2, c._1))
      .take(graft.ops.ProfileOps.skewTopN)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / t)
      assert(r.getLong(3) == r.getLong(1) * k * 1000000L / t)
    }
  }

  test("keyframes tile the sampled frames and pick true per-scene argmax") {
    val frames = Multimodal.sceneCuts(spark, dir)
      .select("media_id", "frame_idx", "energy", "is_cut").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val kf = Multimodal.keyframes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getInt(5), r.getLong(6)))
    // per media: scene sizes tile sceneFrames, rep is the max-energy
    // frame of its scene (earliest on ties), scenes are contiguous
    kf.groupBy(_._1).foreach { case (m, scenes) =>
      assert(scenes.map(_._5).sum == Multimodal.sceneFrames.toLong)
      val fs = frames.filter(_._1 == m).sortBy(_._2)
      var scene = 0
      val want = fs.map { case (_, i, _, cut) =>
        if (cut) scene += 1; (i, scene)
      }.toMap
      scenes.foreach { case (_, sc, s0, s1, n, rep, re) =>
        assert((s0 to s1).count(want(_) == sc) == n && want(rep) == sc)
        val inScene = fs.filter(f => want(f._2) == sc)
        val best = inScene.minBy(f => (-f._3, f._2))
        assert(rep == best._2 && re == best._3,
          s"media $m scene $sc: rep $rep/$re want ${best._2}/${best._3}")
      }
    }
    // non-vacuous: some media must have >1 scene
    assert(kf.exists(_._2 > 0), "no media segmented into multiple scenes")
  }

  test("forecast baseline replays the calendar-aligned MAE") {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2)))
    val byType = daily.groupBy(_._1)
    val out = graft.ops.TimeSeriesOps.forecastBaseline(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rows = byType(r.getString(0)).map(t => t._2 -> t._3).toMap
      def mae(lag: Int): (Long, Long) = {
        val sc = rows.toSeq.flatMap { case (d, x) =>
          rows.get(d - lag).map(f => math.abs(x - f))
        }
        (sc.size.toLong, if (sc.isEmpty) 0L else sc.sum * 1000 / sc.size)
      }
      val (n1, m1) = mae(1); val (n7, m7) = mae(7)
      assert(r.getLong(r.fieldIndex("n_scored_1")) == n1 &&
        r.getLong(r.fieldIndex("mae1_milli")) == m1, s"lag1: $r")
      assert(r.getLong(r.fieldIndex("n_scored_7")) == n7 &&
        r.getLong(r.fieldIndex("mae7_milli")) == m7, s"lag7: $r")
      assert(r.getBoolean(r.fieldIndex("seasonal_wins")) == (m7 < m1))
    }
  }

  test("power analysis replays the sample-size formula and orders sanely") {
    val a = graft.ops.AnalyticsOps
    val out = a.powerAnalysis(spark, dir).collect()
      .map(r => r.getDouble(r.fieldIndex("mde_rel")) ->
        r.getLong(r.fieldIndex("n_per_arm"))).toMap
    assert(out.keySet == a.powerMdeGrid.toSet)
    // replay from the raw per-user conversion rate
    val users = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= a.abConvMinValue, 1L).otherwise(0L)).as("c"))
      .agg(count(lit(1)), sum("c")).head
    val p = users.getLong(1).toDouble / users.getLong(0)
    val z = a.powerZAlpha + a.powerZBeta
    a.powerMdeGrid.foreach { m =>
      val d = p * m
      val want = math.ceil(2 * z * z * p * (1 - p) / (d * d)).toLong
      assert(out(m) == want, s"mde $m: got ${out(m)} want $want")
    }
    // a smaller effect always needs more users
    val sorted = a.powerMdeGrid.sorted.map(out)
    assert(sorted.zip(sorted.tail).forall { case (big, small) => big >= small })
  }

  test("cuped replays from raw purchases and reduces variance by corr^2") {
    val r = graft.ops.AnalyticsOps.cuped(spark, dir).collect().head
    // independent driver-side replay from the raw feed
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val span = Tables.load(spark, dir, "events")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head
    val cutoff = (span.getLong(0) + span.getLong(1)) / 2
    val per = ev.groupBy(_._1).map { case (_, rows) =>
      (rows.filter(_._2 < cutoff).map(_._3).sum,
        rows.filter(_._2 >= cutoff).map(_._3).sum)
    }.toSeq
    val n = per.size.toDouble
    def mean(f: ((Long, Long)) => Long) = per.map(f).sum / n
    val (mx, my) = (mean(_._1), mean(_._2))
    val cov = per.map { case (x, y) => (x - mx) * (y - my) }.sum / n
    val varX = per.map { case (x, _) => (x - mx) * (x - mx) }.sum / n
    val varY = per.map { case (_, y) => (y - my) * (y - my) }.sum / n
    val theta = r.getDouble(r.fieldIndex("theta"))
    assert(math.abs(theta - cov / varX) < 1e-4, s"theta $theta vs ${cov / varX}")
    val vr = r.getDouble(r.fieldIndex("var_reduction"))
    assert(math.abs(vr - cov * cov / (varX * varY)) < 1e-4)
    assert(vr > 0 && vr < 1, s"degenerate variance reduction $vr")
    // the adjustment must not move the OVERALL mean (CUPED's unbiasedness
    // at the pooled level): n_a·adjA + n_b·adjB ≈ n·meanY
    val na = r.getLong(r.fieldIndex("n_a")).toDouble
    val pooled = na * r.getDouble(r.fieldIndex("adj_y_a_cents")) +
      (n - na) * r.getDouble(r.fieldIndex("adj_y_b_cents"))
    assert(math.abs(pooled / n - my) < 1e-3,
      s"adjustment moved the pooled mean: ${pooled / n} vs $my")
  }

  test("srm check replays the chi-square from its own counts") {
    val r = graft.ops.AnalyticsOps.srmCheck(spark, dir).collect().head
    val (na, nb) = (r.getLong(0), r.getLong(1))
    val users = Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(na + nb == users)
    val diff = na - nb
    assert(r.getLong(2) == diff * diff * 1000000L / (na + nb))
    val chi2x1e5 = BigInt(diff) * BigInt(diff) * 100000
    assert(r.getBoolean(3) == (chi2x1e5 > BigInt(384146) * (na + nb)))
  }

  test("diff-in-diff cells tile the purchases and the estimate replays") {
    val r = graft.ops.AnalyticsOps.diffInDiff(spark, dir).collect().head
    def l(n: String) = r.getLong(r.fieldIndex(n))
    val purchases = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase").count()
    assert(l("n_pre_a") + l("n_post_a") + l("n_pre_b") + l("n_post_b")
      == purchases, "the four (arm, period) cells must tile the purchases")
    // the estimate is exactly the integer arithmetic of the cell means
    val did = (l("mean_post_a_mc") - l("mean_pre_a_mc")) -
      (l("mean_post_b_mc") - l("mean_pre_b_mc"))
    assert(l("did_mc") == did)
  }

  test("hybrid rrf equals the fusion of its two parent lists") {
    val so = graft.ops.SimilarityOps
    val lex = graft.ops.TextOps.hardNegatives(spark, dir)
      .select("q_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val vec = so.ivfTopk(spark, dir)
      .filter(col("q_id") < graft.ops.TextOps.hnQueryDocs)
      .select("q_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    def term(r: Option[Int]): Long =
      r.map(k => 1000000L / (so.hybridRrfK + k)).getOrElse(0L)
    val want = (lex.keySet ++ vec.keySet).toSeq
      .map { k => (k._1, k._2, term(lex.get(k)) + term(vec.get(k))) }
      .groupBy(_._1).flatMap { case (_, cands) =>
        cands.sortBy(c => (-c._3, c._2)).zipWithIndex
          .filter(_._2 < so.hybridTopK)
          .map { case ((q, d, s), i) => (q, d, s, i + 1) }
      }.toSet
    val got = so.hybridRrf(spark, dir)
      .select("q_id", "doc_id", "rrf_micro", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got == want, s"fusion mismatch: got ${got.size} want ${want.size}")
    // fusion is non-vacuous: some doc must appear in BOTH parent lists
    assert((lex.keySet intersect vec.keySet).nonEmpty ||
      got.nonEmpty, "hybrid produced nothing")
  }

  test("vacuum: retained reads unchanged, expired dirs physically gone") {
    // the safety contract: retained versions read identically through
    // the republished manifest, and expired directories no longer exist
    val pre = Warehouse.timeTravel(spark, dir)
      .filter(col("version") >= Warehouse.vacuumRetainFrom)
      .select("version", "n_rows", "cents_total")
    val post = Warehouse.vacuum(spark, dir)
    val postRetained = post.filter(col("status") === "retained")
      .select("version", "n_rows", "cents_total")
    assert(postRetained.exceptAll(pre).count() == 0 &&
      pre.exceptAll(postRetained).count() == 0,
      "retained version reads changed across vacuum")
    val root = new java.io.File(Warehouse.layerPath(dir, "vacuum_tt"))
    val dirs = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    assert(!dirs.contains("v0") && !dirs.contains("v1"),
      s"expired dirs still present: $dirs")
    assert(dirs.contains("v2") && dirs.contains("d3") &&
      dirs.contains("manifest"), s"retained dirs missing: $dirs")
    // the republished manifest holds only retained versions
    val vs = spark.read.parquet(s"${root.getPath}/manifest")
      .select("version").collect().map(_.getInt(0)).toSet
    assert(vs == Set(2, 3), s"manifest versions: $vs")
  }

  test("streaming dedup state survives a checkpoint restart") {
    // The recovery property the harness queries don't exercise: stop a
    // stateful query mid-feed, start a NEW query over the SAME
    // checkpoint, and prove the second run resumes from recovered state
    // — keys deduped in phase 1 must NOT re-emit in phase 2. This is
    // what makes a 100 TB/day always-on dedup restartable at all.
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
      .toFile.getPath
    try {
      val ev = Tables.load(spark, dir, "events")
        .select(col("ts"), col("event_id"), col("user_id"),
          col("event_type"))
      val mid = ev.agg(expr("percentile(event_id, 0.5)")).head.getDouble(0)
      val feed = s"$root/feed"
      def phase(half: org.apache.spark.sql.DataFrame): Unit = {
        half.write.mode("append").parquet(feed)
        val q = spark.readStream.schema(ev.schema).parquet(feed)
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt") // SHARED across phases
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      val h1 = ev.filter(col("event_id") <= mid)
      val h2 = ev.filter(col("event_id") > mid)
      // the restart is only a real test if the halves share keys
      val shared = h1.select("user_id", "event_type").distinct()
        .intersect(h2.select("user_id", "event_type").distinct()).count()
      assert(shared > 0, "halves must share dedup keys")
      phase(h1)
      phase(h2)
      val got = spark.read.parquet(s"$root/out")
      val want = ev.select("user_id", "event_type").distinct()
      assert(got.count() == want.count(),
        s"restarted dedup re-emitted ${got.count() - want.count()} rows — " +
          "state did not recover from the checkpoint")
      assert(got.exceptAll(want).count() == 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
    }
  }

  test("generation ledger is replay-idempotent by construction") {
    // the at-least-once property the maintains rely on: a batch's merge
    // input is its PREDECESSOR generation, and recording the batch's own
    // output does not change what a replay of that batch would read
    val g = new Sessionize.GenLedger[String]
    assert(g.predecessor(0L).isEmpty && g.latestOption.isEmpty)
    g.record(0L, "gen0")
    assert(g.predecessor(0L).isEmpty, "batch 0 replay must re-seed, not self-read")
    assert(g.predecessor(1L).contains("gen0"))
    g.record(1L, "gen1")
    assert(g.predecessor(1L).contains("gen0"),
      "batch 1 replay must merge from gen0 again, not from its own gen1")
    assert(g.predecessor(2L).contains("gen1") && g.latestOption.contains("gen1"))
    // a replayed record overwrites in place — the ledger never grows a
    // duplicate generation for the same batch id
    g.record(1L, "gen1")
    assert(g.latestOption.contains("gen1") && g.predecessor(2L).contains("gen1"))
    assert(g.all == Seq("gen0", "gen1"))
  }

  test("maintain's per-batch step: a replayed batch id changes nothing") {
    // foreachBatch is at-least-once: applying a batch id again must leave
    // the same generations and the same latest rows as applying it once
    import spark.implicits._
    type F = org.apache.spark.sql.DataFrame
    val partial = (b: F) => b.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val merge = (run: F, part: F) =>
      run.join(part, Seq("k"), "full_outer").select(col("k"),
        (coalesce(run("n"), lit(0L)) + coalesce(part("n"), lit(0L))).as("n"))
    val (b0, b1) = (Seq(1L, 2L, 2L).toDF("k"), Seq(2L, 3L).toDF("k"))
    def fold(batches: (F, Long)*): (Set[(Long, Long)], Int) = {
      val root = java.nio.file.Files.createTempDirectory("graft_gens").toFile
      val gens = new Sessionize.GenLedger[Sessionize.Gen]
      batches.foreach { case (b, id) =>
        Sessionize.maintainStep(gens, s"$root/gen_", partial, merge)(b, id)
      }
      val rows = gens.latestOption.get.read(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (rows, root.listFiles().count(_.getName.startsWith("gen_")))
    }
    val once = fold(b0 -> 0L, b1 -> 1L)
    assert(once == ((Set((1L, 1L), (2L, 3L), (3L, 1L)), 2)), s"$once")
    assert(fold(b0 -> 0L, b0 -> 0L, b1 -> 1L, b1 -> 1L) == once)
    // an empty micro-batch writes no generation
    assert(fold(b0 -> 0L, b1 -> 1L, b1.limit(0) -> 2L) == once)
  }

  test("a warm maintain or vacuum call infers no parquet schema") {
    // every generation, view, postings and version dir these ops read
    // back was written in the same call, so the read passes the writer's
    // schema instead of inferring it from a new footer
    val ops: Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Seq(
      Sessionize.streamingCdcApply, Sessionize.streamingAggMaintain,
      Sessionize.streamingManifestMaintain, Sessionize.streamingTopKMaintain,
      Sessionize.streamingAbMaintain, Sessionize.streamingCusumMaintain,
      Sessionize.streamingJoinMaintain, Sessionize.streamingIvfMaintain,
      Warehouse.vacuum)
    def pass(): Unit = ops.foreach(op =>
      op(spark, dir).write.format("noop").mode("overwrite").save())
    pass()
    val (live, inferred) =
      (graft.ops.Memo.schemaCount, graft.ops.Memo.schemaInferences)
    pass()
    assert(graft.ops.Memo.schemaInferences == inferred,
      s"${graft.ops.Memo.schemaInferences - inferred} schemas inferred")
    assert(graft.ops.Memo.schemaCount == live)
  }

  test("cusum maintenance equals the batch changepoint and really merged") {
    val maintained = Sessionize.streamingCusumMaintain(spark, dir)
    val batch = graft.ops.TimeSeriesOps.changepoint(spark, dir)
    assert(maintained.count() == batch.count())
    assert(maintained.exceptAll(batch).count() == 0,
      "maintained support must reach the batch fixpoint exactly")
    // the 4-file feed at maxFilesPerTrigger=2 must have produced >1
    // micro-batch — the full-outer merge branch, not just the seed
    val root = new java.io.File(Warehouse.layerPath(dir, "cusum_stream"))
    val gens = Option(root.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("counts_"))
    assert(gens >= 2, s"expected >=2 support generations, got $gens")
  }

  test("ab-readout maintenance equals the batch readout and really merged") {
    val maintained = Sessionize.streamingAbMaintain(spark, dir)
    val batch = graft.ops.AnalyticsOps.abTest(spark, dir)
    assert(maintained.exceptAll(batch).count() == 0 &&
      batch.exceptAll(maintained).count() == 0,
      "maintained readout must equal the batch a20 readout exactly")
    // the 4-file feed at maxFilesPerTrigger=2 must have produced >1
    // micro-batch — the greatest/+ merge branch, not just the seed —
    // and the support holds exactly the distinct users of the feed
    val root = new java.io.File(Warehouse.layerPath(dir, "ab_stream"))
    val gens = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("users_")).sortBy(_.getName)
    assert(gens.length >= 2, s"expected >=2 support generations, got " +
      gens.length)
    val support = spark.read.parquet(gens.last.getPath)
    val users = Tables.load(spark, dir, "events")
      .select(col("user_id")).distinct().count()
    assert(support.count() == users,
      s"support rows ${support.count()} != distinct users $users")
    // conv is a 0/1 max, cents a non-negative sum — merge invariants
    assert(support.filter(!col("conv").isin(0L, 1L) ||
      col("cents") < 0L).count() == 0)
  }

  test("cpu budgets: the top task-second queries stay under 3× measured") {
    // Plan-shape pins can't see a CPU regression with an unchanged plan
    // (an interpreted expression slipping into the hot path, a lost
    // map-side combine): this pins executor-task-seconds for the five
    // most expensive queries at sf0.01 under generous caps (≈3× the
    // ProfQuery warm steady-state measured 2026-08: sim_graph_topk 3.7,
    // er_resolve 1.3, dedup_minhash_lsh 1.7, stream_join 7.3,
    // s_warehouse_sql 5.0 task-sec at local[32]; this suite runs
    // local[4], which only lowers per-task overhead). A breach means a
    // class of regression the driver bench would otherwise surface two
    // rounds later.
    val sfDir = "/root/testdata/sf0.01"
    val budgets = Seq(
      ("sim_graph_topk", 15.0), ("er_resolve", 8.0),
      ("dedup_minhash_lsh", 10.0), ("stream_join", 30.0),
      ("s_warehouse_sql", 25.0))
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // warm pass: first-touch index/layer builds and codegen compilation
    // are one-time costs the budget does not charge
    budgets.foreach { case (n, _) => run(n) }
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) taskMs.addAndGet(m.executorRunTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try budgets.foreach { case (name, cap) =>
      // listener events are delivered async — drain before reading
      Thread.sleep(300); taskMs.set(0L)
      run(name)
      Thread.sleep(500)
      val sec = taskMs.get / 1e3
      info(f"$name%-20s $sec%6.2f task-sec (cap $cap)")
      assert(sec <= cap,
        f"$name burned $sec%.1f executor-task-sec at sf0.01 " +
          f"(budget $cap) — a CPU regression with no plan-shape change")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("multi-probe LSH: candidate superset, recall never below single-bucket") {
    val single = SparkEntry.queries("sim_lsh_topk")(spark, dir)
      .select(col("q_id"), col("vec_id")).cache()
    val multi = SparkEntry.queries("sim_lsh_multiprobe")(spark, dir)
      .select(col("q_id"), col("vec_id")).cache()
    // the subset-flip probe set includes the empty subset (= the own
    // bucket), so every single-bucket CANDIDATE is a multiprobe
    // candidate; at equal k the multiprobe top-k can only displace a
    // single-bucket result with a STRICTLY closer one, so per-query
    // recall is monotone — the invariant that makes the probe dial safe
    // to turn in production
    val report = SparkEntry.queries("sim_lsh_recall_report")(spark, dir)
      .groupBy(col("path"))
      .agg(sum(col("n_hit")).as("h"), sum(col("n_truth")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    info(s"recall sums: $report")
    assert(report("lsh_multiprobe") >= report("lsh_single"),
      s"multiprobe lost recall vs single bucket: $report")
    // structural superset: the multiprobe candidate pool contains the
    // single-bucket pool, so at equal k the result LIST can only grow
    // (a sparse bucket returns <k rows; 32 probed buckets can only add)
    assert(multi.count() >= single.count(),
      s"multiprobe returned fewer rows (${multi.count()}) than " +
        s"single-bucket (${single.count()})")
    single.unpersist(); multi.unpersist()
    ()
  }

  test("hll distinct: driver replay of registers and integer estimator") {
    val row = SparkEntry.queries("a28_hll_distinct")(spark, dir)
      .collect().head
    // replay the whole sketch on the driver from the raw user ids:
    // same md5, same register split, same integer bit-length rank,
    // same pure-integer estimator — any divergence (hash chunking,
    // rank off-by-one, estimator rounding) fails exactly here
    val users = Tables.load(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id").cast("string")).collect().map(_.getString(0))
    val m = 1 << graft.ops.AnalyticsOps.hllRegisterBits
    val regs = new Array[Int](m)
    users.foreach { u =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hll|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val w1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      val w2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      val bucket = (w1 % m).toInt
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(w2)
      val rank = 33 - bitlen // w2 = 0 => bitlen 0 => rank 33
      if (rank > regs(bucket)) regs(bucket) = rank
    }
    val ssum = regs.map(r => 1L << (33 - r)).sum
    val est = graft.ops.AnalyticsOps.hllNumerMilli / ssum
    assert(row.getAs[Long]("est_milli") == est,
      s"estimator replay mismatch: query ${row.getAs[Long]("est_milli")} " +
        s"vs driver $est")
    assert(row.getAs[Long]("n_zero_registers") == regs.count(_ == 0))
    assert(row.getAs[Long]("exact_distinct") == users.distinct.length)
    ()
  }

  test("triangle count: driver replay over the collected edge list") {
    val row = SparkEntry.queries("sim_triangle_count")(spark, dir)
      .collect().head
    val canon = SparkEntry.queries("sim_knn_join")(spark, dir)
      .select(least(col("vec_a"), col("vec_b")).as("a"),
        greatest(col("vec_a"), col("vec_b")).as("b"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrs = canon.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tris = canon.toSeq.map { case (a, b) =>
      // canonical orientation: count only the third vertex above b
      (nbrs(a) & nbrs(b)).count(c => c > b)
    }.sum
    val wedges = nbrs.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(row.getAs[Long]("n_edges") == canon.size.toLong)
    assert(row.getAs[Long]("n_triangles") == tris.toLong,
      s"triangle replay mismatch: query ${row.getAs[Long]("n_triangles")} " +
        s"vs driver $tris")
    assert(row.getAs[Long]("n_wedges") == wedges)
    ()
  }

  test("degree-ordered triangle orientation: equal count, bounded hub fan-out") {
    import spark.implicits._
    // Skew graph: hub 50 connected to leaves 0..100 (hub id in the
    // MIDDLE of the id range — the id-order worst case: ~half its
    // edges point in, half out, so (d/2)² path wedges center on it),
    // plus a leaf triangle (1,2),(2,3),(1,3). Degree ordering ranks
    // the hub LAST: every hub edge points in, zero wedges center on
    // it, and the wedge-join row count collapses.
    val leaves = (0L to 100L).filter(_ != 50L)
    val canon = (leaves.map(v => (math.min(v, 50L), math.max(v, 50L))) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L))).toDF("a", "b")
    val idOriented = canon.select(col("a").as("src"), col("b").as("dst"))
    val degOriented = graft.ops.SimilarityOps.degreeOriented(canon)
    val idWedges = graft.ops.SimilarityOps.pathWedges(idOriented).count()
    val degWedges = graft.ops.SimilarityOps.pathWedges(degOriented).count()
    // id-order: 50 in-edges × 50 out-edges center on the hub (+ a few
    // leaf-triangle wedges); degree-order: no wedge centers on the hub
    assert(idWedges >= 2500L,
      s"skew fixture lost its id-order hub blow-up: $idWedges")
    assert(degWedges <= 10L,
      s"degree orientation must bound hub fan-out, got $degWedges wedges")
    // triangles counted once under ANY acyclic orientation
    val triId = graft.ops.SimilarityOps.trianglesOriented(idOriented)
      .collect().head.getLong(0)
    val triDeg = graft.ops.SimilarityOps.trianglesOriented(degOriented)
      .collect().head.getLong(0)
    // hub triangles: (50,1,2),(50,2,3),(50,1,3) + leaf (1,2,3) = 4
    assert(triId == 4L && triDeg == 4L,
      s"orientation changed the triangle count: id=$triId deg=$triDeg")
    // the registered twin agrees with the id-order op end-to-end
    val a = SparkEntry.queries("sim_triangle_count")(spark, dir)
      .collect().head
    val b = SparkEntry.queries("sim_triangle_count_deg")(spark, dir)
      .collect().head
    assert(a == b, s"twin diverged from id-order op: $a vs $b")
  }

  test("dedup quality report: driver replay of the exhaustive sample truth") {
    val row = SparkEntry.queries("dedup_quality_report")(spark, dir)
      .collect().head
    // replay the truth side on the driver from the raw docs: same
    // trigram shingles (via the engine's own shingle query — the
    // shingle definition is proven by the green ngram_jaccard oracle),
    // same CORPUS-level DF cap on the shingle universe, then the same
    // budget-derived modulus, same exact-rational tau gate
    val docsTbl = Tables.load(spark, dir, "documents")
    val mod = graft.ops.DedupOps.qualitySampleModFor(
      docsTbl.count(), graft.ops.DedupOps.qualitySampleBudget)
    val raw = docsTbl
      .select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("w"))
      .collect()
      .map { r =>
        val w = r.getSeq[String](1)
        val sh = if (w.length < 3) Set(w.mkString(" "))
          else w.sliding(3).map(_.mkString(" ")).toSet
        r.getLong(0) -> sh
      }
    val docFreq = raw.iterator.flatMap(_._2).toSeq
      .groupBy(identity).map { case (x, xs) => x -> xs.size }
    val sets = raw
      .filter(_._1 % mod == 0L)
      .map { case (d, sh) =>
        d -> sh.filter(x =>
          docFreq(x) <= graft.ops.DedupOps.truthShingleCap)
      }
      .filter(_._2.nonEmpty)
    val ids = sets.map(_._1).sorted
    val truth = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = sets.find(_._1 == ids(i)).get._2
      b = sets.find(_._1 == ids(j)).get._2
      cap = (a & b).size
      if cap * 5 >= (a.size + b.size - cap) * 4
    } yield 1).sum
    assert(row.getAs[Long]("n_sample_docs") == sets.length.toLong)
    assert(row.getAs[Long]("n_truth") == truth.toLong,
      s"truth replay mismatch: query ${row.getAs[Long]("n_truth")} " +
        s"vs driver $truth")
    assert(row.getAs[Long]("n_hits") <= row.getAs[Long]("n_truth"))
    assert(row.getAs[Long]("n_hits") <= row.getAs[Long]("n_candidates"))
    ()
  }

  test("jackknife ratio: driver replay of the leave-one-out SE") {
    val rows = SparkEntry.queries("a29_jackknife_ratio")(spark, dir)
      .collect().map(r => r.getAs[String]("arm") -> r).toMap
    // replay per arm from the raw per-user supports: same hash arm
    // split, same integer micro quantization of each theta_minus_i,
    // same (m-1)/m variance over the exact moments
    val users = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") >= graft.ops.AnalyticsOps.abConvMinValue, 1L)
          .otherwise(0L)).as("conv"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
          .as("cents"))
      .collect().map { r =>
        val uid = r.getLong(0)
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"exp1|$uid".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (if (hex.charAt(0) < '8') "A" else "B", r.getLong(1), r.getLong(2))
      }
    for (arm <- Seq("A", "B")) {
      val au = users.filter(_._1 == arm)
      val x = au.map(_._3).sum
      val y = au.map(_._2).sum
      val qs = au.filter(u => y - u._2 > 0)
        .map(u => ((x - u._3) * 1000000L) / (y - u._2))
      val m = qs.length
      val expSe =
        if (m > 1 && y > 0) {
          val sq = qs.sum.toDouble
          val sq2 = qs.map(q => BigDecimal(q) * BigDecimal(q)).sum.toDouble
          val v = ((m - 1).toDouble / m) * (sq2 - sq * sq / m)
          BigDecimal(math.sqrt(math.max(v, 0.0)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        } else Double.NaN
      val row = rows(arm)
      assert(row.getAs[Long]("n_users") == au.length.toLong)
      assert(row.getAs[Long]("ratio_micro") == x * 1000000L / y)
      val got = row.getAs[Double]("jk_se_micro")
      assert(math.abs(got - expSe) < 1e-3,
        s"arm $arm SE replay mismatch: query $got vs driver $expSe")
    }
    ()
  }

  test("quality-report budget twin: same plan shape at 1250 and 125 docs") {
    // The sample budget is a deployment parameter (qualitySampleModFor
    // derives the modulus from corpus size); the twin proves the ENGINE
    // side is setting-invariant: identical exchange/join shape, only
    // the modulus literal differs. A budget-dependent plan would mean
    // the labeled-sample size changes the execution strategy — the
    // same failure mode the IVF cell-count twin guards.
    val base = builtCounters("dedup_quality_report")
    val twin = builtCounters("dedup_quality_report_b125")
    info(s"base: $base\ntwin: $twin")
    for (k <- Seq("shufflesTree", "sortMergeJoins", "nestedLoopJoins",
        "broadcasts"))
      assert(base.getOrElse(k, 0) == twin.getOrElse(k, 0),
        s"$k differs across budgets: base=$base twin=$twin")
    ()
  }

  test("ivf cell-count twin: same plan shape at 8 and 16 cells") {
    // k is a deployment parameter (seedBitsFor derives it from corpus
    // size); the twin proves the ENGINE side is setting-invariant: the
    // physical plan must be identical in shape — same exchanges, same
    // join strategies — with only the broadcast centroid literals
    // differing, exactly like the curate shard twins. A k-dependent
    // plan would mean cell-count scaling changes the execution
    // strategy, which is the failure mode the r10 clustered-twin
    // measurement warned about (N²/cells blowup when k can't move).
    // Both memoized cell tables are built first: a materialized cache
    // plans with its real (single) partition, which drops the probe's
    // exchanges, so an unbuilt twin next to a built base would make the
    // comparison depend on which suites ran before this one.
    val base = builtCounters("sim_ivf_topk")
    val twin = builtCounters("sim_ivf_topk_s16")
    info(s"base: $base\ntwin: $twin")
    for (k <- Seq("shufflesTree", "sortMergeJoins", "nestedLoopJoins",
        "broadcasts"))
      assert(base.getOrElse(k, 0) == twin.getOrElse(k, 0),
        s"$k differs across cell counts: base=$base twin=$twin")
    ()
  }

  test("term index equals the inline tokenize-then-count derivation; eviction unpersists it") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    import graft.ops.TextOps.{docLengths, termFreqs, termStats}
    // repeated tokens, surrounding whitespace, a text that is empty after
    // trim (its one token is ""), a null text (no tokens, null length)
    val fx = java.nio.file.Files.createTempDirectory("graft_term_index").toString
    Seq((1L, Some("a b a  c")), (2L, Some("  a\tb  ")), (3L, Some("   ")),
        (4L, None: Option[String]), (5L, Some("b b b")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$fx/documents.parquet")
    // a session of its own: the fixture's index never meets the suite's
    val s = spark.newSession()
    val toks = Tables.load(s, fx, "documents").select(col("doc_id"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.schema.map(f => (f.name, f.dataType)) ==
        b.schema.map(f => (f.name, f.dataType)))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"${a.collect().toSeq} vs ${b.collect().toSeq}")
    }
    same(termFreqs(s, fx), tf)
    same(termStats(s, fx), df)
    // one row per document; a null text's null length is the only extra
    same(docLengths(s, fx).filter(col("dl").isNotNull), dl)
    assert(docLengths(s, fx).as[(Long, Option[Long])].collect().toMap ==
      Map(1L -> Some(4L), 2L -> Some(2L), 3L -> Some(1L), 4L -> None,
        5L -> Some(3L)))
    assert(termFreqs(s, fx).filter(col("doc_id") === 1L)
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 2L), (1L, "b", 1L), (1L, "c", 1L)))
    assert(termStats(s, fx).filter(col("tok") === "")
      .as[(String, Long, Long)].collect().toSeq == Seq(("", 1L, 1L)))

    // each frame is its own Memo key: pushing the index out of the
    // bounded store unpersists all three
    val frames = Seq(termFreqs(s, fx), termStats(s, fx), docLengths(s, fx))
    assert(frames.forall(_.storageLevel != StorageLevel.NONE))
    val tag = s"termIndexEvictProbe_${System.nanoTime()}"
    (1 to 192).foreach(i => graft.ops.Memo.of(s, fx, s"$tag$i")(i))
    assert(frames.forall(_.storageLevel == StorageLevel.NONE),
      frames.map(_.storageLevel).toString)
  }

  test("text_bm25 and text_tfidf read only the cached term index") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // built here, not by whichever suite ran before: the pin holds in any
    // suite order
    graft.ops.TextOps.buildTermIndex(spark, dir)
    val walk = new AdaptiveSparkPlanHelper {}
    def cachesRead(p: org.apache.spark.sql.execution.SparkPlan) =
      walk.collectWithSubqueries(p) {
        case m: InMemoryTableScanExec => m.relation.cacheBuilder }
    val index = Seq(graft.ops.TextOps.termFreqs _,
        graft.ops.TextOps.termStats _, graft.ops.TextOps.docLengths _)
      .flatMap(f => cachesRead(f(spark, dir).queryExecution.executedPlan))
    assert(index.size == 3)
    for (name <- Seq("text_bm25", "text_tfidf")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      // the final (post-AQE) plan, subqueries included; a cached frame's
      // own build plan is not part of the query's execution
      val plan = q.queryExecution.executedPlan
      val nodes = walk.collectWithSubqueries(plan) { case p => p }
      assert(nodes.collect { case g: GenerateExec => g }.isEmpty,
        s"$name tokenizes per call:\n$plan")
      assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty,
        s"$name scans a source file:\n$plan")
      val read = cachesRead(plan)
      assert(read.nonEmpty && read.forall(b => index.exists(_ eq b)),
        s"$name reads a cache outside the term index:\n$plan")
    }
  }
}
