package graft.etl

import graft.Tables
import graft.ops.Relational
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stage phase — Stage_area.sql semantics (raw → staging) over the
  * role-mapped harness tables (SURVEY.md §7.2):
  * customer→patients, orders→admissions, part→d_labitems (Lab concepts),
  * o_orderpriority→ICD codes (Diagnosis concepts), events→OMR + transfers
  * (signup events open careunit windows, purchase events are providers).
  *
  * Dataflow order mirrors Stage_area.sql (SURVEY.md §3.1): dims → concepts
  * → omr_filtered + numeric parse → fact from 3 sources (U2) → enrichment
  * chain M2→M3→M4→M5 (sequential dependency: careunit backfill precedes
  * the junk-dim build which reads it) → dim_date fill.
  *
  * Scale notes: concept/junk/provider dims are broadcast-sized; the fact
  * enrichment interval joins shuffle on patient_id once each and resolve
  * multi-matches with a row_number window partitioned by the fact surrogate
  * key. The surrogate event_key is a patient-partitioned composite
  * (`patient_id * 1e9 + row_number within the patient`, [[factRaw]]) —
  * one hash shuffle, no single-partition window, no global coordination;
  * dense global numbering, when a consumer needs it, lives in
  * [[graft.ops.SurrogateKeys]] (SURVEY.md §7.4.1).
  */
object Stage {

  val loTs = "1900-01-01 00:00:00"
  val hiTs = "2999-12-31 23:59:59"

  /** OMR keyword filter terms (Stage_area.sql:136-138 analog). */
  val omrTerms: Seq[String] = Seq("click", "view", "purchase")

  private def events(s: SparkSession, dir: String) = Tables.load(s, dir, "events")

  // ---- dims --------------------------------------------------------------

  /** dim_patients (Stage_area.sql:25-30). Broadcast-sized; cached because
    * the fact build, DWH guards and QA families all re-read it.
    */
  def dimPatients(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "dimPatients")(
      Relational.projectRename(s, dir).cache())

  /** dim_admissions with sentinel conform (Stage_area.sql:36-50). */
  def dimAdmissions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "dimAdmissions")(
      Relational.sentinelConform(s, dir).cache())

  /** dim_provider (Stage_area.sql:56-70): transfers analog = purchase
    * events; ROW_NUMBER surrogate key over a pinned natural order.
    *
    * The provider source is a per-transfer-row stream — fact-sized, not
    * dim-sized — so the numbering goes through
    * [[graft.ops.SurrogateKeys.withGlobalRowNumber]] (range-repartitioned
    * sort + zipWithIndex) rather than a bare
    * `row_number().over(Window.orderBy(..))`, which would move every
    * purchase event through ONE task's sort. provider_id is unique, so
    * the numbering is identical to `ROW_NUMBER() OVER (ORDER BY
    * provider_id)` and the DuckDB oracle is unchanged; the INT cast
    * mirrors the oracle's `CAST(.. AS INT)` (the reference's INT
    * AUTO_INCREMENT-style key). Cached — the sort + numbering runs once
    * per (session, dir).
    */
  def dimProvider(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "dimProvider")(
      graft.ops.SurrogateKeys.withGlobalRowNumber(
        events(s, dir).filter(col("event_type") === "purchase")
          .select(col("event_id").as("provider_id"),
            col("user_id").as("patient_id"),
            col("ts").as("intime"),
            (col("ts") + expr("INTERVAL 2 DAY")).as("outtime")),
        "provider_key", Seq(col("provider_id").asc))
        .withColumn("provider_key", col("provider_key").cast("int"))
        .cache())

  /** Lab concepts (Stage_area.sql:85-95 keyword-filtered d_labitems). */
  def conceptsLab(s: SparkSession, dir: String): DataFrame =
    Relational.conceptKeywordFilter(s, dir)

  /** Diagnosis concepts (Stage_area.sql:98-109 analog: order priorities). */
  def conceptsDx(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("code"),
        col("o_orderpriority").as("concept_name"),
        lit("Diagnosis").as("concept_type"))
      .distinct()

  /** omr_filtered working table (Stage_area.sql:133-147): keyword filter +
    * ALTER TABLE ADD COLUMN (S7) + regex-guarded numeric parse (M1).
    */
  def omrFiltered(s: SparkSession, dir: String): DataFrame = {
    val extracted =
      regexp_extract(col("props"), "\"k\": ([0-9]+(\\.[0-9]+)?)", 1)
    events(s, dir)
      .filter(Relational.keywordFilter(col("event_type"), omrTerms))
      .withColumn("result_value_numeric",
        when(extracted.rlike("^[0-9]+(\\.[0-9]+)?$"),
          extracted.cast(DecimalType(10, 2))))
  }

  /** OMR concepts, joined back by case-insensitive name (J3 feed). */
  def conceptsOmr(s: SparkSession, dir: String): DataFrame =
    omrFiltered(s, dir)
      .select(upper(col("event_type")).as("code"),
        upper(col("event_type")).as("concept_name"),
        lit("OMR").as("concept_type"))
      .distinct()

  /** dim_concepts: 3-source union + conditional Unknown member
    * (Stage_area.sql:76-113, S6/J8).
    */
  def dimConcepts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "dimConcepts") {
      val all3 = conceptsLab(s, dir)
        .unionByName(conceptsDx(s, dir))
        .unionByName(conceptsOmr(s, dir))
      val unknown = s.createDataFrame(
        java.util.List.of(Row("UNK", "Unknown concept", "NA")),
        StructType(Seq(
          StructField("code", StringType, nullable = false),
          StructField("concept_name", StringType, nullable = false),
          StructField("concept_type", StringType, nullable = false))))
      all3.unionByName(unknown.join(all3, Seq("code"), "left_anti")).cache()
    }

  // ---- fact (U2: 3-source union, Stage_area.sql:153-222) -----------------

  private val factCols = Seq("patient_id", "admission_id", "concept_code",
    "event_datetime", "measurement_value", "measurement_unit", "source_type")

  /** Lab source (Stage_area.sql:169-185): cast-conformed concept join (J1),
    * orders joined for the patient key (J2), P4 null guards.
    */
  def factLab(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = conceptsLab(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, li("l_partkey").cast(StringType) === c("code") &&
        c("concept_type") === "Lab", "left")
      .filter(o("o_custkey").isNotNull && li("l_orderkey").isNotNull)
      .select(
        o("o_custkey").as("patient_id"),
        li("l_orderkey").as("admission_id"),
        c("code").as("concept_code"),
        li("l_shipdate").as("event_datetime"),
        // Decimal round-trip: Java 17 Double.toString is not shortest-
        // round-trip (unlike DuckDB's), so raw double→string would drift.
        li("l_quantity").cast(DecimalType(12, 2)).cast(StringType)
          .as("measurement_value"),
        lit("qty").as("measurement_unit"),
        lit("lab").as("source_type"))
  }

  /** Diagnosis source (Stage_area.sql:188-204): COALESCE event time (P7). */
  def factDx(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val d = conceptsDx(s, dir)
    o.join(d, o("o_orderpriority") === d("code"), "left")
      .filter(o("o_custkey").isNotNull && o("o_orderkey").isNotNull)
      .select(
        o("o_custkey").as("patient_id"),
        o("o_orderkey").as("admission_id"),
        d("code").as("concept_code"),
        coalesce(o("o_orderdate"), to_timestamp(lit(loTs)))
          .as("event_datetime"),
        lit(null).cast(StringType).as("measurement_value"),
        lit(null).cast(StringType).as("measurement_unit"),
        lit("diagnosis").as("source_type"))
  }

  /** OMR source (Stage_area.sql:207-222): expression-key concept join (J3). */
  def factOmr(s: SparkSession, dir: String): DataFrame = {
    val m = omrFiltered(s, dir)
    val c = dimConcepts(s, dir)
    m.join(c, trim(lower(m("event_type"))) === trim(lower(c("concept_name"))),
        "left")
      .filter(m("user_id").isNotNull)
      .select(
        m("user_id").as("patient_id"),
        lit(null).cast(LongType).as("admission_id"),
        c("code").as("concept_code"),
        m("ts").as("event_datetime"),
        m("result_value_numeric").cast(StringType).as("measurement_value"),
        lit(null).cast(StringType).as("measurement_unit"),
        lit("omr").as("source_type"))
  }

  /** Raw fact: U2 union + deterministic surrogate event_key (W1/C1,
    * SURVEY.md §7.4.1). The key is composite: `patient_id * 1e9 +
    * row_number within the patient` over a pinned order — AUTO_INCREMENT
    * semantics need unique, deterministic BIGINTs, not dense ones (MariaDB
    * auto-increment has gaps too). One hash shuffle + per-partition sort,
    * no sampling pass, no global coordination, and a pure DataFrame plan
    * (an RDD zipWithIndex hop would break cache-plan canonicalization).
    * A bare `row_number().over(Window.orderBy(..))` would single-partition
    * the fact; dense global numbering, when a consumer really needs it,
    * lives in [[graft.ops.SurrogateKeys]].
    */
  def factRaw(s: SparkSession, dir: String): DataFrame = {
    val u = factLab(s, dir)
      .unionByName(factDx(s, dir))
      .unionByName(factOmr(s, dir))
    val w = Window.partitionBy(col("patient_id")).orderBy(
      col("source_type").asc_nulls_last,
      col("admission_id").asc_nulls_last,
      col("event_datetime").asc_nulls_last,
      col("concept_code").asc_nulls_last,
      col("measurement_value").asc_nulls_last)
    // Bounds: unique iff row_number < 1e9 per patient AND patient_id <
    // ~9.2e9 (Long.MaxValue / 1e9); beyond that Spark's non-ANSI multiply
    // wraps silently while strict engines error. At 100 TB with realistic
    // patient cardinality both hold by orders of magnitude; widen the
    // split (patient_id << 33 | rn) before ingesting key spaces that don't.
    u.withColumn("event_key",
      col("patient_id") * lit(1000000000L) + row_number().over(w))
  }

  /** Enrichment chain (Stage_area.sql:225-283), order-sensitive:
    * M2 Unknown backfill → M3 careunit interval backfill (LEFT: no match ⇒
    * NULL) → M4 provider interval link (INNER-update: no match ⇒ untouched,
    * here NULL) → M5 junk-dim null-safe linkage.
    */
  def factEnriched(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "factEnriched")(buildFactEnriched(s, dir))

  private def buildFactEnriched(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)

    // M2: scalar Unknown backfill (Stage_area.sql:225-231)
    val f2 = factRaw(s, dir)
      .withColumn("concept_code", coalesce(col("concept_code"), lit("UNK")))

    // The interval backfills (match = earliest window covering the event,
    // tie-break smallest window id — SURVEY.md §7.4.2) run as the custom
    // as-of MERGE on a mirrored timeline (AsOf.joinEarliestInWindow):
    // one shuffle+sort per side, a single O(|L|+|R|) scan per partition,
    // and NO (event × window) candidate table — the relational
    // join+row_number form (kept as the standalone J4/J5 ops in
    // ops/Joins.scala) shuffles every candidate match and re-sorts the
    // full-width fact per round. Because the merge's left ordering is a
    // pure function of (patient_id, event_datetime), the M4 merge reuses
    // the M3 output's partitioning AND sort — EnsureRequirements inserts
    // nothing for its left side.
    val dayUs = 24L * 3600 * 1000000

    // M3: careunit backfill from signup windows (Stage_area.sql:237-245)
    val cuW = ev.filter(col("event_type") === "signup").select(
      col("user_id").as("w_user"), col("ts").as("intime"),
      (col("event_id") % 4).cast(StringType).as("w_careunit"),
      col("event_id").as("w_id"))
    val f3 = graft.plans.AsOf.joinEarliestInWindow(
        f2, cuW, "patient_id", "w_user", "event_datetime", "intime",
        3 * dayUs, "w_id")
      .select((("event_key" +: factCols) :+ "w_careunit").map(col): _*)
      .withColumnRenamed("w_careunit", "careunit")

    // M4: provider linkage from purchase windows (Stage_area.sql:251-256)
    val pvW = ev.filter(col("event_type") === "purchase").select(
      col("user_id").as("w_user"), col("ts").as("intime"),
      col("event_id").as("w_provider"))
    // Cached: the junk-dim distinct AND the junk linkage join both scan
    // f4 — uncached, the whole union + key window + two as-of merges
    // would execute twice.
    val f4 = graft.plans.AsOf.joinEarliestInWindow(
        f3, pvW, "patient_id", "w_user", "event_datetime", "intime",
        2 * dayUs, "w_provider")
      .select((("event_key" +: factCols :+ "careunit") :+ "w_provider")
        .map(col): _*)
      .withColumnRenamed("w_provider", "provider_id")
      .cache()

    // M5: junk dim + null-safe linkage (Stage_area.sql:262-283).
    // The enriched fact is referenced by dim_date, dim_junk, the DWH dedup
    // and ~20 QA scalar checks — cache it (Spark's cache manager matches
    // canonicalized plans, so every Stage.build call shares one entry).
    val junk = dimJunkFrom(f4)
    f4.join(broadcast(junk),
        f4("source_type") <=> junk("j_source_type") &&
          f4("measurement_unit") <=> junk("j_unit") &&
          f4("careunit") <=> junk("j_careunit"), "left")
      .select((("event_key" +: factCols).map(col) :+ col("careunit") :+
        col("provider_id") :+ col("junk_id")): _*)
      .cache()
  }

  /** dim_junk from the enriched fact (Stage_area.sql:262-275). */
  private[graft] def dimJunkFrom(f: DataFrame): DataFrame = {
    val w = Window.orderBy(col("j_source_type").asc_nulls_last,
      col("j_unit").asc_nulls_last, col("j_careunit").asc_nulls_last)
    f.select(col("source_type").as("j_source_type"),
        col("measurement_unit").as("j_unit"), col("careunit").as("j_careunit"))
      .distinct()
      .withColumn("junk_id", row_number().over(w))
  }

  def dimJunk(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "dimJunk") {
      val f = factEnriched(s, dir)
      f.select(col("source_type"), col("measurement_unit"), col("careunit"),
        col("junk_id")).distinct().cache()
    }

  /** dim_date at distinct-timestamp grain from the fact
    * (Stage_area.sql:119-127, 289-301).
    */
  def dimDate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "dimDate") {
      // Distinct-timestamp grain ⇒ ~1 row per fact event; cached because
      // the DWH guards, QA parity/dup/orphan checks and pipe_stage_dim_date
      // all re-derive it from the fact (a full-fact shuffle each time).
      dimDateFrom(factEnriched(s, dir)).cache()
    }

  private[etl] def dimDateFrom(fact: DataFrame): DataFrame =
    fact.select(col("event_datetime").as("date_id")).distinct()
      .select(
        col("date_id"),
        year(col("date_id")).as("year"),
        month(col("date_id")).as("month"),
        (weekday(col("date_id")) + 1).as("day_of_week"),
        date_format(col("date_id"), "EEEE").as("day_name"),
        date_format(col("date_id"), "MMMM").as("month_name"),
        dayofweek(col("date_id")).isin(1, 7).as("is_weekend"))

  /** Full stage layer as a named map (SURVEY.md §3.4 lifecycle). */
  def build(s: SparkSession, dir: String): Map[String, DataFrame] = {
    val fact = factEnriched(s, dir)
    Map(
      "dim_patients" -> dimPatients(s, dir),
      "dim_admissions" -> dimAdmissions(s, dir),
      "dim_provider" -> dimProvider(s, dir),
      "dim_concepts" -> dimConcepts(s, dir),
      "dim_junk" -> dimJunk(s, dir),
      "dim_date" -> dimDate(s, dir),
      "fact" -> fact)
  }

  /** Stage layer MATERIALIZED at the stage→DWH boundary — the reference's
    * own layered architecture (every Stage_area.sql statement lands in a
    * MariaDB table before DWH.sql reads it; README.md:42-57). Everything
    * downstream of the stage (DWH dedup/guards, the pre-aggregation, all
    * QA families) reads the parquet files instead of re-deriving a
    * 60+-shuffle mega-plan whose runtime cost hinges on cache hits.
    * At 100 TB this is the scale-safe shape: the boundary write is one
    * linear pass, the files are columnar and partition-pruned
    * (fact partitioned by source_type), and no downstream plan depends on
    * executor cache residency.
    */
  def materialized(s: SparkSession, dir: String): Map[String, DataFrame] =
    graft.sources.Warehouse.materializedLayer(s, dir, "stage")(build(s, dir))
}
