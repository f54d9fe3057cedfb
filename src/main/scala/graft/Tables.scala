package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Loaders for the harness parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All operator queries read from a scale-factor directory passed by the
  * driver (`/root/testdata/sf{0.001,0.01,0.1}`); nothing is hard-coded to a
  * single scale. Reads are plain parquet scans so Catalyst pushes filters
  * and prunes columns down to the file source.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Repartition a small frame to the session's shuffle partitioning so
    * CPU-heavy map-side work after it parallelizes regardless of the
    * input's FILE layout. The harness tables are one parquet file per
    * table, so a builder that explodes/hashes/tokenizes straight off the
    * scan runs as ONE task (measured: the fuzzy-join probe was 1.8 s of
    * single-task wall on an idle 32-thread box) — and a generator that
    * concatenates a 100× corpus into one file serializes 100× the work.
    * The exchange itself moves only the narrow pre-fan-out rows (KBs to
    * MBs); call sites apply it ONLY where the downstream per-row work
    * dominates that cost. At 100 TB scans have thousands of splits and
    * AQE coalesces the exchange away.
    *
    * Apply ONLY where the single task is the WALL bottleneck (the fuzzy
    * probe: 2× wall win). A/B on the shingle/BPE builders showed walls
    * flat and summed task-sec 2-10× worse — their single-task build
    * overlaps other stages, so spreading only bought 32-thread
    * memory-bus contention on this box.
    *
    * HALF the session partitioning, not all of it: fan-out probe stages
    * are compute-dense (no per-row shuffle volume to balance), and the
    * width A/B on er_resolve measured wall flat from 8 through 32
    * partitions while summed task-sec tripled at 32 (warm 5.3 @8 /
    * 7.5 @16 / ~31 @32 — hyperthread + shared-cache occupancy, not
    * work). Half stays proportional to data on a real cluster, where
    * shuffle partitions track volume.
    */
  private[graft] def spread(df: DataFrame): DataFrame =
    df.repartition(math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions / 2))

  /** Resolved-relation memo: `spark.read.parquet` pays a driver-side
    * relation resolution on EVERY call — a file listing plus the footer
    * schema read, and the footer read is a one-task Spark JOB. Measured
    * at sf0.01 on a 4-vCPU VM (medians of 150 fresh-session reads of the
    * ten tables): 97-113 ms per read that infers, 9-11 ms per read given
    * the schema, ~0.1 ms to stamp the file. The footer job now runs once
    * per file identity per JVM ([[parquet]]); this memo returns the same
    * LAZY DataFrame per (session, dir, table), so a session lists each
    * table once. Executions still scan the parquet files every time
    * (this caches plan resolution, never data or results), and
    * downstream plans share one canonical relation. Kept in
    * [[graft.ops.Memo]], under its retention and staleness contract.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.Memo.of(spark, dir, s"srcTable:$name")(
      doLoad(spark, dir, name))

  /** The SQL confs that change what parquet schema inference returns;
    * part of every [[parquet]] schema key.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
    "spark.sql.caseSensitive")

  /** File identity of `path`: its qualified path plus the sorted
    * (relative name, length, mtime) of every regular file under it. A
    * rewrite changes a length, an mtime or (Spark's part files carry a
    * per-job UUID) a name; a missing path stamps as empty, and the
    * inference that follows raises Spark's own error.
    */
  private def fileStamp(s: SparkSession,
      path: String): (String, Seq[(String, Long, Long)]) = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus, rel: String): Seq[(String, Long, Long)] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.flatMap(c =>
          walk(c, s"$rel/${c.getPath.getName}"))
      else Seq((rel, st.getLen, st.getModificationTime))
    val files =
      try walk(fs.getFileStatus(p), "")
      catch { case _: java.io.FileNotFoundException => Nil }
    (fs.makeQualified(p).toString, files.sortBy(_._1))
  }

  /** The one parquet read of the library. Schema inference reads a
    * footer in a Spark job; this runs it once per JVM for each
    * (file identity of `paths`, inference confs) and every later read
    * passes the memoized schema, so it lists the files but launches no
    * job. The schemas live in [[graft.ops.Memo]]'s session-free scope.
    * The one read that does not come here is `schemaEvolution`'s
    * `mergeSchema` read: inference across footers is that op's subject.
    */
  def parquet(s: SparkSession, paths: String*): DataFrame = {
    var inferred: Option[DataFrame] = None
    val schema = schemaFor(s, paths) {
      val df = s.read.parquet(paths: _*)
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(s.read.schema(schema).parquet(paths: _*))
  }

  /** The schema [[parquet]] reads `paths` with. */
  def parquetSchema(s: SparkSession, paths: String*): StructType =
    schemaFor(s, paths)(s.read.parquet(paths: _*).schema)

  private def schemaFor(s: SparkSession, paths: Seq[String])(
      infer: => StructType): StructType =
    graft.ops.Memo.schema((paths.map(fileStamp(s, _)),
      inferenceConfs.map(s.conf.getOption)))(infer)

  private def doLoad(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    // The harness regenerates events.parquet between rounds and its `ts`
    // physical type has drifted across generations; accept ALL of them and
    // conform to session-zoned TIMESTAMP so every downstream consumer
    // (unix_micros, watermarks, the AsOfJoin type check) sees one type:
    //  - TIMESTAMP(NANOS): Spark 4 only reads it as LongType behind the
    //    legacy flag; DuckDB truncates the same value to micros, so mirror
    //    that with integer division (no double rounding).
    //  - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: the session
    //    zone is pinned UTC, so a plain cast maps to the same instant
    //    DuckDB reads.
    // The UTC pin lives HERE, not only in the entrypoints' builders: the
    // NTZ→TIMESTAMP cast below resolves wall-clock values through the
    // session zone, so a driver that builds its own SparkSession (the
    // SURVEY §7 external-driver contract, ad-hoc profilers) must not
    // silently diverge from the DuckDB oracle on a host with a non-UTC
    // default zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if name == "events" && f.name == "ts" =>
          acc.withColumn(f.name, timestamp_micros(expr(s"${f.name} DIV 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => acc
      }
    }
  }

  /** Register every table as a temp view (SURVEY.md §2.1 S1/S2: the
    * reference's `CREATE DATABASE`/`USE` namespaces map to catalog views).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
