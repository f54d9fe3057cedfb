package graft.sources

import graft.Tables
import graft.expressions.RollingHash
import graft.ops.{Op, OpGroup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink surface (SURVEY.md §2.1): layered materialization (S2-S5),
  * catalog listing (S8), plus the custom rolling-hash fingerprint query
  * backed by the native Catalyst expression [[graft.expressions.RollingHash]].
  *
  * The reference materializes every statement into MariaDB tables; here a
  * layer is a `Map[String, DataFrame]` written as parquet in one pass —
  * the fact partitioned by its low-cardinality source_type so downstream
  * per-source reads prune partitions (C3's index replacement).
  */
object Warehouse extends OpGroup {

  /** S3/S4/S5: materialize a layer (CTAS semantics, overwrite =
    * idempotent DROP+CREATE).
    *
    * The fact is written FIRST and alone — every dim derives from the
    * (cached) enriched fact, so its write is the one that fills the
    * cache; racing the dims against it would materialize the fact build
    * 2-7×. The small dim writes then run concurrently: each is a tiny
    * job and Spark's scheduler interleaves them, so wall time ≈ the
    * slowest dim, not the sum.
    */
  def writeLayer(layer: Map[String, DataFrame], basePath: String,
      partitionFact: Boolean = true): Unit = {
    // Output file sizing (guide §6): the build plans run at the session's
    // shuffle partitioning, so an unhinted write emits one file per
    // partition — ~32 KB-sized files PER TABLE at bench scale (the
    // small-files problem: listing + footer reads on every downstream
    // scan, 32 write-commit tasks per tiny dim). REBALANCE is the
    // scale-adaptive fix: AQE coalesces to its advisory partition size,
    // so a dim collapses to one file here while a 100 TB fact still
    // splits into advisory-sized files (REBALANCE(source_type) also
    // splits a skewed partition instead of writing it as one giant
    // file). The hint is a no-op without AQE.
    def write(name: String, df: DataFrame): Unit = {
      val isFact = name == "fact" && partitionFact &&
        df.columns.contains("source_type")
      val sized =
        if (isFact) df.hint("rebalance", col("source_type"))
        else df.hint("rebalance")
      val w = sized.write.mode("overwrite")
      val withPart = if (isFact) w.partitionBy("source_type") else w
      withPart.parquet(s"$basePath/$name")
    }
    layer.get("fact").foreach(write("fact", _))
    val dims = (layer - "fact").toSeq
    if (dims.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(dims.size, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      try Await.result(
        Future.sequence(dims.map { case (n, df) => Future(write(n, df)) }),
        Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** Read a materialized layer back (S1). */
  def readLayer(spark: SparkSession, basePath: String,
      names: Seq[String]): Map[String, DataFrame] =
    names.map(n => n -> Tables.parquet(spark, s"$basePath/$n")).toMap

  /** Per-JVM materialization ROOT: two concurrent JVMs (tests alongside a
    * verify run, two CI jobs on one box) must never overwrite each
    * other's live layer files, so the root carries the pid; a shutdown
    * hook removes it. On a cluster this would be a job-unique staging
    * prefix on the shared filesystem — same idea.
    */
  private lazy val whRoot: String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_wh/" +
      s"p${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
    }))
    root
  }

  /** Absolute materialization path for a (scale-factor dir, layer) pair —
    * never cwd-relative; a dir-hash suffix keeps sanitized names from
    * colliding ("/a/b" vs "/a_b").
    */
  private[graft] def layerPath(dir: String, layer: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_") +
      f"_${dir.hashCode & 0xffffff}%06x"
    s"$whRoot/$tag/$layer"
  }

  private val layerBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Materialize a layer ONCE per (session, dir, layer) through
    * [[graft.ops.Memo]]: write it with [[writeLayer]], read the files
    * back, and keep the file-backed map so every later consumer gets
    * parquet scans instead of a plan re-derivation. `build` is by-name —
    * a memo hit never constructs the layer. Columns are re-selected into
    * the pre-write order (partitionBy moves the partition column last on
    * read). Each build writes its own directory, so a second session's
    * build never deletes the files a first session's layer still reads.
    */
  def materializedLayer(s: SparkSession, dir: String, layer: String)(
      build: => Map[String, DataFrame]): Map[String, DataFrame] =
    graft.ops.Memo.of(s, dir, s"layer:$layer") {
      val m = build
      val base = layerPath(dir, s"${layer}_b${layerBuilds.incrementAndGet()}")
      writeLayer(m, base)
      val back = readLayer(s, base, m.keys.toSeq)
      m.map { case (n, df) => n -> back(n).select(df.columns.map(col): _*) }
    }

  /** S4 in other interchange formats: CSV (header) and JSON lines.
    * Text formats erase types, so reads take the original schema
    * explicitly — the round-trip op below hash-verifies fidelity.
    */
  def writeTable(df: DataFrame, path: String, format: String): Unit =
    df.write.mode("overwrite").format(format)
      .option("header", "true").save(path)

  def readTable(s: SparkSession, path: String, format: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.format(format).option("header", "true").schema(schema).load(path)

  /** CSV + JSON + ORC round-trip of the nation table: write all three
    * interchange formats, read each back with the source schema, require
    * they agree row-for-row, return the CSV read (oracle = the source
    * table, so the hash check proves end-to-end fidelity through every
    * format — the two text formats erase types, ORC is the columnar
    * interchange peer to parquet).
    */
  def formatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(s, dir, "nation")
    // Per-JVM absolute temp path (layerPath): never cwd-relative, never
    // shared with a concurrent JVM, removed on shutdown.
    val base = layerPath(dir, "format_roundtrip")
    def roundtrip(format: String): DataFrame = {
      writeTable(src, s"$base/$format", format)
      readTable(s, s"$base/$format", format, src.schema)
    }
    val csvBack = roundtrip("csv")
    val jsonBack = roundtrip("json")
    val orcBack = roundtrip("orc")
    // Order-insensitive content signature: count + sum-of-row-hashes is
    // one narrow agg job per side (the previous exceptAll pair cost two
    // full hash-agg shuffles; the guarantee — both text formats decode to
    // identical multisets — is the same up to 64-bit hash collision).
    def sig(df: DataFrame): org.apache.spark.sql.Row = df.agg(
      count(lit(1)).as("n"),
      // decimal accumulator: a Long sum of 64-bit hashes overflows (ANSI)
      sum(xxhash64(df.columns.map(col): _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h")).head()
    val ref = sig(csvBack)
    require(ref == sig(jsonBack) && ref == sig(orcBack),
      "format round-trips disagree")
    csvBack
  }

  /** Schema evolution at the ingest boundary: a long-lived table's files
    * never share one schema — generation 2 adds `region_fk` after
    * generation 1 landed. `mergeSchema` unions the footers at read time
    * and null-extends the old files; the aggregate proves it (every gen-1
    * row reads region_fk as NULL, no gen-2 row does). At 100 TB this is
    * why ADD COLUMN is metadata-only: no rewrite of landed data, and the
    * per-file schema stays prunable. (The reference's ALTER TABLE ADD
    * COLUMN + UPDATE backfill, Stage_area.sql:139-147, maps to exactly
    * this plus a lazy backfill view.) mergeSchema's footer pass is the
    * documented cost — production pins the merged schema in a catalog
    * rather than re-deriving it per read.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = layerPath(dir, "schema_evo")
    val n = Tables.load(s, dir, "nation")
    n.select(col("n_nationkey"), col("n_name"), lit(1).as("gen"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    n.select(col("n_nationkey"), col("n_name"), lit(2).as("gen"),
        col("n_regionkey").cast("long").as("region_fk"))
      .write.mode("overwrite").parquet(s"$base/gen2")
    val merged = s.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
    merged.groupBy(col("gen"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("region_fk").isNull.cast("long")).as("missing_region_fk"))
  }

  private val schemaEvolutionSql =
    """SELECT 1 AS gen, COUNT(*) AS n_rows, COUNT(*) AS missing_region_fk
      |FROM nation
      |UNION ALL
      |SELECT 2 AS gen, COUNT(*), CAST(0 AS BIGINT) FROM nation""".stripMargin

  /** Malformed-input ingest: a JSON-lines feed where every 5th record is
    * deterministically truncated mid-object, read back PERMISSIVE with a
    * `_corrupt_record` column. Bad rows parse to NULL fields + the raw
    * line in the corrupt column — quarantined, counted, never fatal. At
    * 100 TB this is the only viable read mode for third-party feeds: one
    * mangled line out of 10^11 must not kill the job (FAILFAST's
    * behavior, proven in ExtensionsSpec), and DROPMALFORMED silently
    * changes row counts — PERMISSIVE plus a corrupt-rate QA gate keeps
    * both the data and the evidence. The aggregate proves exactly the
    * planted lines (key % 5 = 0) were quarantined and every surviving
    * field parsed.
    */
  def corruptRecords(s: SparkSession, dir: String): DataFrame = {
    val base = layerPath(dir, "corrupt_feed")
    if (!new java.io.File(base).exists()) {
      val n = Tables.load(s, dir, "nation")
      val line = to_json(struct(col("n_nationkey"), col("n_name"),
        col("n_regionkey")))
      n.select(
        when(col("n_nationkey") % 5 === 0,
          // drop the closing brace (and a char) => malformed JSON
          expr("substring(" +
            "to_json(struct(n_nationkey, n_name, n_regionkey)), 1, " +
            "length(to_json(struct(n_nationkey, n_name, n_regionkey))) - 2)"))
          .otherwise(line).as("value"))
        .write.mode("overwrite").text(base)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_nationkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_regionkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    // cache: Spark disallows aggregating a just-parsed frame through the
    // corrupt column alone (the parser would need a second pass); the
    // tiny cached frame sidesteps the restriction for any column mix
    val parsed = s.read.schema(schema)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(base).cache()
    // PERMISSIVE keeps PARTIALLY parsed fields on corrupt rows (Spark 3+
    // semantics: a truncated line still yields its leading fields), so
    // "good" aggregates must be gated on `_corrupt_record IS NULL` — a
    // bare count(n_nationkey) would silently include quarantined rows.
    parsed.agg(
      count(lit(1)).as("n_lines"),
      count(when(col("_corrupt_record").isNull, lit(1))).as("n_good"),
      count(col("_corrupt_record")).as("n_corrupt"),
      sum(when(col("_corrupt_record").isNull, col("n_nationkey")))
        .as("key_sum"))
  }

  private val corruptRecordsSql =
    """SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_good,
      |  CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_corrupt,
      |  CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END)
      |       AS BIGINT) AS key_sum
      |FROM nation""".stripMargin

  /** S2/S8: register the harness tables as namespaced temp views and list
    * them from the catalog (SHOW TABLES semantics, DWH.sql:215).
    */
  def catalogTables(s: SparkSession, dir: String): DataFrame = {
    Tables.all.foreach(n =>
      Tables.load(s, dir, n).createOrReplaceTempView(s"graft_$n"))
    import s.implicits._
    s.catalog.listTables()
      .filter(_.name.startsWith("graft_"))
      .map(_.name.stripPrefix("graft_"))
      .toDF("table_name")
  }

  private val catalogTablesSql = Tables.all
    .map(n => s"SELECT '$n' AS table_name").mkString("\nUNION ALL\n")

  /** The switch path for reference users: register the whole warehouse —
    * raw tables, the materialized stage layer (`stage_*`), the DWH layer
    * (`dwh_*` dedup dims + guarded fact + pre-aggregation), and the QA
    * report (`qa_report`) — as temp views, so reference-style SQL runs
    * directly via `spark.sql`. Views over the stage/DWH names resolve to
    * the parquet-materialized layer (file scans, partition-pruned), not
    * re-derivations.
    */
  def registerWarehouse(s: SparkSession, dir: String): Unit = {
    Tables.registerAll(s, dir)
    graft.etl.Stage.materialized(s, dir).foreach { case (n, df) =>
      df.createOrReplaceTempView(s"stage_$n")
    }
    graft.etl.Dwh.materialized(s, dir).foreach { case (n, df) =>
      df.createOrReplaceTempView(if (n.startsWith("dwh_")) n else s"dwh_$n")
    }
    graft.etl.Qa.report(s, dir).createOrReplaceTempView("qa_report")
  }

  /** C3+ — BUCKETED co-located join: both sides written with
    * `bucketBy(k, join_key)` + `sortBy`, so the join needs NO exchange on
    * either side (bucket files ARE the hash partitions — at 100 TB that
    * deletes the two largest shuffles of a fact-to-fact join; the only
    * remaining exchange is the final small aggregation's). External table
    * paths live under the per-JVM warehouse root; table metadata in the
    * session catalog carries the bucket spec.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val base = layerPath(dir, "bucketed")
    val nb = 8
    def bucketed(name: String, df: DataFrame, key: String): DataFrame = {
      // dir-scoped table name: one session benches several scale factors
      // (Bench warms at sf0.001 then measures sf0.1) and must never serve
      // one dir's bucketed files for another.
      val tag = dir.replaceAll("[^A-Za-z0-9_]", "_")
      val tbl = s"graft_bkt_${name}_${tag}_${dir.hashCode & 0xffffff}"
      if (!s.catalog.tableExists(tbl)) {
        df.write.mode("overwrite")
          .option("path", s"$base/$name")
          .bucketBy(nb, key).sortBy(key)
          .saveAsTable(tbl)
      }
      s.table(tbl)
    }
    val o = bucketed("orders",
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    val l = bucketed("lineitem",
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")), "l_orderkey")
    // merge hint: at verification scale the planner would broadcast the
    // small side, hiding the co-location this op demonstrates; at 100 TB
    // neither side broadcasts and SMJ-over-buckets is the real plan.
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
  }

  private val bucketedJoinSql =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** C3+ — SORTED data layout for min-max pruning: events written
    * range-partitioned + sorted on `ts`, so every parquet row group
    * covers a narrow time slice and a time-range scan skips the rest on
    * footer statistics alone — the layout-side complement to partition
    * pruning, and the difference between reading 2 days and 30 days of
    * a 100 TB event table. The filter is pushed to the scan
    * (plan-tested) and the read projects only the needed columns.
    */
  def sortedLayoutScan(s: SparkSession, dir: String): DataFrame = {
    val base = layerPath(dir, "sorted_events")
    if (!new java.io.File(base).exists()) {
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("value"))
        .repartitionByRange(8, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(base)
    }
    Tables.parquet(s, base)
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
  }

  private val sortedLayoutScanSql =
    """SELECT COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-12 00:00:00'""".stripMargin

  /** C3+ — DATE-PARTITIONED layout for partition pruning: events written
    * `partitionBy(event_date)`, so a date filter never opens a
    * non-matching partition's files — the directory-level complement to
    * [[sortedLayoutScan]]'s row-group stats (a deployment uses BOTH:
    * partition on the coarse key, sort within partitions on the fine
    * one). Pruning happens at planning time from the filter alone
    * (plan-tested: the scan carries PartitionFilters and lists only the
    * two matching directories).
    */
  def partitionedLayoutScan(s: SparkSession, dir: String): DataFrame = {
    val base = layerPath(dir, "part_events")
    if (!new java.io.File(base).exists()) {
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("value"),
          to_date(col("ts")).as("event_date"))
        .write.mode("overwrite").partitionBy("event_date").parquet(base)
    }
    Tables.parquet(s, base)
      .filter(col("event_date").between(
        lit("2024-01-10").cast("date"), lit("2024-01-11").cast("date")))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
  }

  private val partitionedLayoutScanSql =
    """SELECT COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-11'""".stripMargin

  /** Morton/Z-ORDER clustering: interleave the low 16 bits of two keys so
    * sorting on the result co-locates rows that are close in EITHER
    * dimension — the multi-column generalization of [[sortedLayoutScan]]'s
    * single-dim sort. After a z-sorted write, every parquet row group has
    * tight min-max stats on BOTH columns, so filters on either (or both)
    * skip row groups; a single-column sort only prunes its leading column.
    * Built from codegen'd bit functions (shift/and/or) — no UDF.
    */
  def zorder2(a: Column, b: Column): Column = {
    def spread16(x: Column): Column = {
      // classic bit-spread: 16 significant bits → every other bit of 32
      val m = x.bitwiseAND(lit(0xFFFFL))
      val s1 = m.bitwiseOR(shiftleft(m, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    shiftleft(spread16(a), 1).bitwiseOR(spread16(b))
  }

  /** Events written z-ordered on (day-of-range, user_id) and probed with
    * a filter on BOTH dimensions. The z-keys are data-independent
    * (calendar day; user id low bits), so the layout needs no stats pass
    * and stays stable under appends — each new file z-sorts its own rows.
    */
  def zorderLayoutScan(s: SparkSession, dir: String): DataFrame = {
    val base = layerPath(dir, "zorder_events")
    if (!new java.io.File(base).exists()) {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      ev.withColumn("_z",
          zorder2(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")),
            col("user_id")))
        .repartitionByRange(8, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
        .write.mode("overwrite").parquet(base)
    }
    Tables.parquet(s, base)
      .filter(col("user_id") === 42 &&
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
  }

  private val zorderLayoutScanSql =
    """SELECT COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id = 42
      |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin

  /** Rolling-hash fingerprint via the custom codegen'd Expression. */
  def rollingHash(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      RollingHash(org.apache.spark.sql.GraftSqlBridge.expression(c)))

  def rollingFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), rollingHash(col("text")).as("rhash"))

  private val rollingFingerprintSql =
    """SELECT doc_id,
      |  CAST(list_reduce(list_transform(range(1, len(text) + 1),
      |    i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
      |    (a, c) -> (a * 31 + c) % 1000000007) AS BIGINT) AS rhash
      |FROM documents""".stripMargin

  /** S-op — small-files compaction: the operational fix for streaming /
    * CDC sinks that splinter a table into thousands of tiny files (each
    * file costs a task + an open at scan time; 100 TB of 1 MB files is
    * unschedulable). A deliberately fragmented copy of events (64
    * splinter files) is rewritten into ceil(measured bytes / target)
    * right-sized files — the file count comes from the layer's ACTUAL
    * size, not a guessed constant. Content fidelity is enforced in-op by
    * the same count + hash-sum signature as the format roundtrip; the
    * returned aggregate is oracle-checked against the source table.
    */
  val compactTargetBytes: Long = 512L * 1024

  def compaction(s: SparkSession, dir: String): DataFrame = {
    val frag = layerPath(dir, "frag_events")
    val comp = layerPath(dir, "compact_events")
    val src = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    if (!new java.io.File(frag).exists())
      src.repartition(64).write.mode("overwrite").parquet(frag)
    if (!new java.io.File(comp).exists()) {
      val bytes = Option(new java.io.File(frag).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val n = math.max(1L, (bytes + compactTargetBytes - 1)
        / compactTargetBytes).toInt
      val frg = Tables.parquet(s, frag)
      frg.repartition(n).write.mode("overwrite").parquet(comp)
      def sig(df: DataFrame): org.apache.spark.sql.Row = df.agg(
        count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      require(sig(Tables.parquet(s, comp)) == sig(frg),
        "compaction changed table content")
    }
    Tables.parquet(s, comp).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
  }

  private val compactionSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** SQL-function surface: the library's custom codegen expressions
    * (fast_md5 / rolling_hash / dot_product) called purely through
    * `spark.sql`, resolved via the registry [[graft.plans.GraftFunctions]]
    * installs (same descriptions [[graft.plans.GraftExtensions]] injects
    * at session build). Proves a SQL-only consumer — the reference's user
    * profile — reaches the whole custom surface with no DataFrame code.
    */
  def sqlFunctions(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    Tables.load(s, dir, "documents").createOrReplaceTempView("graft_fn_docs")
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("graft_fn_emb")
    s.sql(
      """SELECT d.doc_id, fast_md5(d.text) AS md5_hex,
        |  rolling_hash(d.text) AS rhash,
        |  round(dot_product(e.embedding, e.embedding), 6) AS norm2
        |FROM graft_fn_docs d JOIN graft_fn_emb e ON e.vec_id = d.doc_id
        |""".stripMargin)
  }

  private val sqlFunctionsSql =
    """SELECT d.doc_id, md5(d.text) AS md5_hex,
      |  CAST(list_reduce(list_transform(range(1, len(d.text) + 1),
      |    i -> CAST(ascii(substring(d.text, i, 1)) AS BIGINT)),
      |    (a, c) -> (a * 31 + c) % 1000000007) AS BIGINT) AS rhash,
      |  round(list_reduce(list_transform(range(1, 65),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      |    (acc, v) -> acc + v), 6) AS norm2
      |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Time travel: snapshot-versioned reads through a manifest — the
  // lakehouse (Iceberg/Delta) mechanism on plain parquet. Three commits
  // build immutable version directories (v0 = base load, v1 = an update
  // batch applied copy-on-write, v2 = a delete batch), and a manifest
  // records the version → directory binding; a reader pins a version by
  // resolving the manifest FIRST and scanning only that version's files,
  // so concurrent writers publishing v3 never disturb a running v1 scan
  // — snapshot isolation from immutability + metadata indirection, no
  // locks. The driver-side manifest read is the metadata-plane lookup
  // every table format performs (rows = versions, never data-sized).
  // At 100 TB the only change is sharing: a version references the
  // predecessor's unchanged files plus its own delta files instead of a
  // full copy (copy-on-write per file, or merge-on-read with delete
  // files); the reader contract — manifest first, then a pinned file
  // set — is identical. Balances are integer cents end-to-end so the
  // three version aggregates are order-independent in any engine.
  // ---------------------------------------------------------------------
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = layerPath(dir, "time_travel")
    val read = (rel: String) => Tables.parquet(s, s"$root/$rel")
    val manifestOk = new java.io.File(s"$root/manifest").exists() &&
      read("manifest").columns.contains("del")
    if (!manifestOk) {
      val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), cents)
        .write.mode("overwrite").parquet(s"$root/v0")
      Tables.parquet(s, s"$root/v0")
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 10 === 0, col("cents") + 1000L)
            .otherwise(col("cents")).as("cents"))
        .write.mode("overwrite").parquet(s"$root/v1")
      Tables.parquet(s, s"$root/v1")
        .filter(col("c_custkey") % 97 =!= 0)
        .write.mode("overwrite").parquet(s"$root/v2")
      // v3 commits MERGE-ON-READ: no data files rewritten — the commit
      // is v2's file set plus a delete file (keys only); the reader
      // subtracts it. This is how a delete against a 100 TB version
      // costs O(deleted keys), not a table rewrite.
      Tables.parquet(s, s"$root/v2")
        .filter(col("c_custkey") % 31 === 0).select(col("c_custkey"))
        .write.mode("overwrite").parquet(s"$root/d3")
      s.createDataFrame(Seq(
          (0, "v0", ""), (1, "v1", ""), (2, "v2", ""), (3, "v2", "d3")))
        .toDF("version", "rel", "del")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
    }
    resolveVersions(read).map { case (v, agg) =>
      agg.select(lit(v).as("version"), col("n_rows"), col("cents_total"))
    }.reduce(_.unionByName(_))
  }

  /** Each version the manifest lists, resolved through the reader
    * contract — manifest first, then the pinned base files minus the
    * version's delete file — to its (n_rows, cents_total) aggregate, in
    * version order. `read(rel)` reads the directory `rel` of the table.
    */
  private def resolveVersions(
      read: String => DataFrame): Seq[(Int, DataFrame)] =
    read("manifest").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
      .toSeq.map { case (v, rel, del) =>
        val base = read(rel)
        val resolved =
          if (del.isEmpty) base
          else base.join(read(del), Seq("c_custkey"), "left_anti")
        v -> resolved.agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("cents_total"))
      }

  private val timeTravelSql =
    """WITH v0 AS (
      |  SELECT c_custkey,
      |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |  FROM customer),
      |v1 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN cents + 1000 ELSE cents END AS cents
      |  FROM v0),
      |v2 AS (SELECT c_custkey, cents FROM v1 WHERE c_custkey % 97 <> 0),
      |v3 AS (SELECT c_custkey, cents FROM v2 WHERE c_custkey % 31 <> 0)
      |SELECT CAST(0 AS INT) AS version, COUNT(*) AS n_rows,
      |       CAST(SUM(cents) AS BIGINT) AS cents_total FROM v0
      |UNION ALL
      |SELECT CAST(1 AS INT), COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT CAST(2 AS INT), COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT CAST(3 AS INT), COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v3""".stripMargin

  // ---------------------------------------------------------------------
  // Snapshot expiration (Delta VACUUM / Iceberg expire_snapshots): the
  // other half of time travel — retention. Builds its OWN copy of the
  // four-commit versioned table (never the shared s_time_travel layer:
  // that one must keep all versions readable), then expires every
  // version below the retention floor: the manifest is republished with
  // only retained versions FIRST (readers pinning via the manifest can
  // no longer reach an expired version), and only then are data
  // directories unreferenced by any retained version deleted — the
  // two-phase order that makes vacuum safe under concurrent readers
  // (metadata unpublish, then physical delete). Reads of retained
  // versions are bit-identical before and after (pinned in the suite).
  //
  // Scale shape: the manifest is versions-sized (metadata plane); the
  // reference-set difference is set arithmetic over directory names,
  // never a data scan; deletes are O(expired files). At 100 TB with
  // file-sharing commits the same reference-counting runs over the
  // per-version FILE lists — unreferenced-by-any-retained is the
  // identical rule, one more indirection deep.
  // ---------------------------------------------------------------------
  val vacuumRetainFrom = 2

  def vacuum(s: SparkSession, dir: String): DataFrame = {
    val root = layerPath(dir, "vacuum_tt")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    // deterministic start state every run: vacuum is only testable from
    // a known pre-vacuum table
    rm(new java.io.File(root))
    val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")
    // Each commit is a pure deterministic transform of the same source
    // snapshot, so the four version directories are INDEPENDENT write
    // jobs — built as a lazy plan chain (v1 derives from v0's plan, not
    // v0's files; identical rows either way) and submitted from a small
    // thread pool so later writes back-fill the earlier jobs' task tails
    // (guide §2.6). Only the VACUUM itself is order-constrained, and that
    // two-phase barrier (manifest republish, THEN physical delete) is
    // untouched below.
    val v0 = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), cents)
    val v1 = v0.select(col("c_custkey"), col("c_name"),
      when(col("c_custkey") % 10 === 0, col("cents") + 1000L)
        .otherwise(col("cents")).as("cents"))
    val v2 = v1.filter(col("c_custkey") % 97 =!= 0)
    val d3 = v2.filter(col("c_custkey") % 31 === 0).select(col("c_custkey"))
    val manifest = Seq((0, "v0", ""), (1, "v1", ""), (2, "v2", ""),
      (3, "v2", "d3"))
    val retained = manifest.filter(_._1 >= vacuumRetainFrom)
    val manifestDf = s.createDataFrame(retained).toDF("version", "rel", "del")
    // every directory is written here, so its reads pass the writer's
    // schema and infer nothing
    val schemas = Map("v0" -> v0.schema, "v1" -> v1.schema,
      "v2" -> v2.schema, "d3" -> d3.schema, "manifest" -> manifestDf.schema)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(Seq(
          Future(v0.write.mode("overwrite").parquet(s"$root/v0")),
          Future(v1.write.mode("overwrite").parquet(s"$root/v1")),
          Future(v2.write.mode("overwrite").parquet(s"$root/v2")),
          Future(d3.write.mode("overwrite").parquet(s"$root/d3")))),
        Duration.Inf)
      finally pool.shutdown()
    }
    // phase 1 — metadata unpublish: republish the manifest with only
    // retained versions, so no reader can pin an expired one
    manifestDf.coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
    // phase 2 — physical delete: directories unreferenced by ANY
    // retained version (set arithmetic over names, no data scan)
    val referenced = retained.flatMap(r => Seq(r._2, r._3)).filter(_.nonEmpty)
      .toSet
    val expiredDirs = manifest.flatMap(r => Seq(r._2, r._3))
      .filter(_.nonEmpty).toSet -- referenced
    expiredDirs.foreach(d => rm(new java.io.File(s"$root/$d")))
    // the report: retained versions re-read THROUGH the republished
    // manifest (proving the post-vacuum read path), expired as tombstones
    val liveRows = resolveVersions(rel =>
        s.read.schema(schemas(rel)).parquet(s"$root/$rel"))
      .map { case (v, agg) =>
        agg.select(lit(v).as("version"), lit("retained").as("status"),
          col("n_rows"), col("cents_total"))
      }.reduce(_.unionByName(_))
    val gone = manifest.map(_._1).filter(_ < vacuumRetainFrom)
    val goneRows = s.createDataFrame(gone.map(v => Tuple1(v)))
      .toDF("version")
      .select(col("version"), lit("expired").as("status"),
        lit(null).cast("long").as("n_rows"),
        lit(null).cast("long").as("cents_total"))
    liveRows.unionByName(goneRows)
  }

  private val vacuumSql =
    s"""WITH v0v AS (
       |  SELECT c_custkey,
       |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
       |  FROM customer),
       |v1v AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 10 = 0 THEN cents + 1000 ELSE cents END AS cents
       |  FROM v0v),
       |v2v AS (SELECT c_custkey, cents FROM v1v WHERE c_custkey % 97 <> 0),
       |v3v AS (SELECT c_custkey, cents FROM v2v WHERE c_custkey % 31 <> 0)
       |SELECT CAST(2 AS INT) AS version, 'retained' AS status,
       |       COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS cents_total
       |FROM v2v
       |UNION ALL
       |SELECT CAST(3 AS INT), 'retained', COUNT(*),
       |       CAST(SUM(cents) AS BIGINT) FROM v3v
       |UNION ALL
       |SELECT CAST(0 AS INT), 'expired', CAST(NULL AS BIGINT),
       |       CAST(NULL AS BIGINT)
       |UNION ALL
       |SELECT CAST(1 AS INT), 'expired', CAST(NULL AS BIGINT),
       |       CAST(NULL AS BIGINT)""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("s_vacuum", vacuum, Some(vacuumSql),
      "snapshot expiration: manifest republished with retained versions first, unreferenced directories deleted second; retained reads unchanged"),
    Op("s_time_travel", timeTravel, Some(timeTravelSql),
      "snapshot time travel: manifest-pinned versioned reads over immutable parquet commits"),
    Op("s_sql_functions", sqlFunctions, Some(sqlFunctionsSql),
      "custom codegen expressions on the pure-SQL surface (registry injection)"),
    Op("s_compaction", compaction, Some(compactionSql),
      "small-files compaction to measured-size-targeted files, hash-sum fidelity check"),
    Op("s_catalog_tables", catalogTables, Some(catalogTablesSql),
      "DWH.sql:215 SHOW TABLES via spark.catalog.listTables"),
    Op("fp_rolling_hash", rollingFingerprint, Some(rollingFingerprintSql),
      "Rabin-Karp fingerprint via native codegen Catalyst expression"),
    Op("s_format_roundtrip", formatRoundtrip,
      Some("SELECT * FROM nation"),
      "CSV + JSON + ORC write/read round-trip with schema-pinned reads"),
    Op("s_schema_evolution", schemaEvolution, Some(schemaEvolutionSql),
      "mergeSchema ingest across file generations: added column null-extends old files"),
    Op("s_corrupt_records", corruptRecords, Some(corruptRecordsSql),
      "PERMISSIVE malformed-JSON ingest: planted bad lines quarantined to _corrupt_record, counted"),
    Op("s_bucketed_join", bucketedJoin, Some(bucketedJoinSql),
      "bucketBy co-located join: zero exchanges on either join side"),
    Op("s_sorted_layout", sortedLayoutScan, Some(sortedLayoutScanSql),
      "time-sorted parquet layout: range scan prunes row groups on stats"),
    Op("s_partitioned_layout", partitionedLayoutScan,
      Some(partitionedLayoutScanSql),
      "date-partitioned parquet layout: filter prunes whole partitions at plan time"),
    Op("s_zorder_layout", zorderLayoutScan, Some(zorderLayoutScanSql),
      "Morton z-order clustering: row-group skipping on two filter dimensions"))
}
