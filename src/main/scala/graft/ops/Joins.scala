package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join operators from SURVEY.md §2.3 (J1-J10) and the mutation→
  * recomputation mappings of §2.9 (M2-M6). Role mapping per SURVEY.md §7.2.
  *
  * Mutation coverage: M1≡p5_regex_numeric_parse, M2≡j10 scalar backfill,
  * M3≡j4 left interval backfill, M4≡j5 inner interval coalesce,
  * M5≡j6 null-safe junk linkage, M6≡m6 guarded retention filter.
  *
  * Scale notes: dimension sides (part-derived concepts, customer, nation,
  * region, junk dim, signup windows) are broadcast by Catalyst under the
  * 10 MB default threshold; at 100 TB the fact side streams through
  * BroadcastHashJoin with no shuffle. The interval joins shuffle once on
  * the equi key (user_id) and resolve multi-matches with a window that
  * reuses the same hash partitioning (event_id ⊂ shuffle on event_id).
  */
object Joins extends OpGroup {

  // ---------------------------------------------------------------------
  // J1/P6 — equi LEFT JOIN on cast-conformed key + constant predicate
  // (Stage_area.sql:180-182: CAST(itemid AS CHAR)=code AND type='Lab').
  // ---------------------------------------------------------------------
  def leftJoinConformedKey(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val c = Relational.conceptKeywordFilter(s, dir)
    li.join(c,
        li("l_partkey").cast(StringType) === c("code") &&
          c("concept_type") === "Lab", "left")
      .select(li("l_orderkey"), li("l_linenumber"),
        li("l_quantity").as("measurement_value"), c("concept_name"))
  }

  private val leftJoinConformedKeySql =
    s"""SELECT l_orderkey, l_linenumber, l_quantity AS measurement_value, concept_name
       |FROM lineitem l LEFT JOIN (${Relational.conceptSubquerySql}) c
       |  ON CAST(l.l_partkey AS VARCHAR) = c.code AND c.concept_type = 'Lab'""".stripMargin

  // ---------------------------------------------------------------------
  // J2 — multi-way LEFT JOIN chain (Stage_area.sql:199-202): fact →
  // admissions → concepts becomes events → customer → nation → region.
  // ---------------------------------------------------------------------
  def multiWayLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    e.join(c, e("user_id") === c("c_custkey"), "left")
      .join(n, c("c_nationkey") === n("n_nationkey"), "left")
      .join(r, n("n_regionkey") === r("r_regionkey"), "left")
      .select(e("event_id"), e("user_id"),
        c("c_name").as("patient_name"),
        n("n_name").as("careunit"),
        r("r_name").as("careunit_region"))
  }

  private val multiWayLeftJoinSql =
    """SELECT e.event_id, e.user_id, c.c_name AS patient_name,
      |       n.n_name AS careunit, r.r_name AS careunit_region
      |FROM events e
      |LEFT JOIN customer c ON e.user_id = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  // ---------------------------------------------------------------------
  // J3 — expression-key LEFT JOIN: TRIM(LOWER(a)) = TRIM(LOWER(b))
  // (Stage_area.sql:218-220, OMR name match).
  // ---------------------------------------------------------------------
  def expressionKeyJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val d = e.select(upper(col("event_type")).as("type_name")).distinct()
    e.join(d,
        trim(lower(e("event_type"))) === trim(lower(d("type_name"))), "left")
      .select(e("event_id"), d("type_name"))
  }

  private val expressionKeyJoinSql =
    """SELECT e.event_id, d.type_name
      |FROM events e LEFT JOIN
      |  (SELECT DISTINCT upper(event_type) AS type_name FROM events) d
      |  ON trim(lower(e.event_type)) = trim(lower(d.type_name))""".stripMargin

  // ---------------------------------------------------------------------
  // J4/M3 — interval LEFT join with deterministic tie-break
  // (Stage_area.sql:237-245: event BETWEEN transfer window → careunit
  // backfill; LEFT ⇒ no match overwrites with NULL). Transfers analog:
  // signup events open a [ts, ts+3d] window per user. MariaDB's UPDATE
  // picks an arbitrary match; we pin (earliest intime, smallest id) —
  // SURVEY.md §7.4.2.
  // ---------------------------------------------------------------------
  def intervalJoinBackfill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val f = ev.select(col("event_id"), col("user_id"), col("ts"))
    val w = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("w_user_id"), col("ts").as("intime"),
        (col("ts") + expr("INTERVAL 3 DAY")).as("outtime"),
        col("event_id").as("careunit_id"))
    val joined = f.join(w,
      f("user_id") === col("w_user_id") &&
        f("ts").between(col("intime"), col("outtime")), "left")
    val rankW = Window.partitionBy(col("event_id"))
      .orderBy(col("intime").asc_nulls_last, col("careunit_id").asc_nulls_last)
    joined.withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("careunit_id"))
  }

  private val intervalJoinBackfillSql =
    """WITH w AS (
      |  SELECT user_id AS w_user_id, ts AS intime,
      |         ts + INTERVAL 3 DAY AS outtime, event_id AS careunit_id
      |  FROM events WHERE event_type = 'signup'),
      |m AS (
      |  SELECT f.event_id, f.user_id, f.ts, w.careunit_id,
      |         ROW_NUMBER() OVER (PARTITION BY f.event_id
      |           ORDER BY w.intime ASC NULLS LAST, w.careunit_id ASC NULLS LAST) AS rn
      |  FROM events f LEFT JOIN w
      |    ON f.user_id = w.w_user_id AND f.ts BETWEEN w.intime AND w.outtime)
      |SELECT event_id, user_id, ts, careunit_id FROM m WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // J5/M4 — interval INNER-update semantics (Stage_area.sql:251-256):
  // matched rows take the joined provider_id, unmatched keep the old
  // value → left join + COALESCE(new, old). Provider windows: purchase
  // events open [ts, ts+2d]; prior provider is a derived non-null value
  // so the kept-on-no-match path is observable.
  // ---------------------------------------------------------------------
  def intervalJoinCoalesce(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val f = ev.select(col("event_id"), col("user_id"), col("ts"),
      (col("user_id") % 7).as("old_provider"))
    val w = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("w_user_id"), col("ts").as("intime"),
        (col("ts") + expr("INTERVAL 2 DAY")).as("outtime"),
        col("event_id").as("new_provider"))
    val joined = f.join(w,
      f("user_id") === col("w_user_id") &&
        f("ts").between(col("intime"), col("outtime")), "left")
    val rankW = Window.partitionBy(col("event_id"))
      .orderBy(col("intime").asc_nulls_last, col("new_provider").asc_nulls_last)
    joined.withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("event_id"),
        coalesce(col("new_provider"), col("old_provider")).as("provider_id"))
  }

  private val intervalJoinCoalesceSql =
    """WITH w AS (
      |  SELECT user_id AS w_user_id, ts AS intime,
      |         ts + INTERVAL 2 DAY AS outtime, event_id AS new_provider
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT f.event_id, f.user_id % 7 AS old_provider, w.new_provider,
      |         ROW_NUMBER() OVER (PARTITION BY f.event_id
      |           ORDER BY w.intime ASC NULLS LAST, w.new_provider ASC NULLS LAST) AS rn
      |  FROM events f LEFT JOIN w
      |    ON f.user_id = w.w_user_id AND f.ts BETWEEN w.intime AND w.outtime)
      |SELECT event_id, COALESCE(new_provider, old_provider) AS provider_id
      |FROM m WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // J6/M5 — null-safe equality join for junk-dimension linkage
  // (Stage_area.sql:262-283: DISTINCT triple → surrogate key → UPDATE
  // join on (a IS NULL AND b IS NULL) OR a=b). Spark `<=>`; DuckDB
  // IS NOT DISTINCT FROM.
  // ---------------------------------------------------------------------
  private def junkFact(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id"),
      col("event_type").as("source_type"),
      when(col("value") < 50, lit("mg"))
        .when(col("value") < 150, lit("ml")).as("unit"),
      when(col("user_id") % 5 === 0, lit(null).cast(StringType))
        .otherwise((col("user_id") % 3).cast(StringType)).as("care"))

  def nullSafeJunkJoin(s: SparkSession, dir: String): DataFrame = {
    val f = junkFact(s, dir)
    val w = Window.orderBy(col("source_type").asc_nulls_last,
      col("unit").asc_nulls_last, col("care").asc_nulls_last)
    val junk = f.select(col("source_type"), col("unit"), col("care"))
      .distinct()
      .select(col("source_type").as("j_source_type"), col("unit").as("j_unit"),
        col("care").as("j_care"), row_number().over(w).as("junk_id"))
    f.join(junk,
        f("source_type") <=> col("j_source_type") &&
          f("unit") <=> col("j_unit") && f("care") <=> col("j_care"), "left")
      .select(col("event_id"), col("junk_id"))
  }

  private val nullSafeJunkJoinSql =
    """WITH f AS (
      |  SELECT event_id, event_type AS source_type,
      |    CASE WHEN value < 50 THEN 'mg' WHEN value < 150 THEN 'ml' END AS unit,
      |    CASE WHEN user_id % 5 = 0 THEN NULL
      |         ELSE CAST(user_id % 3 AS VARCHAR) END AS care
      |  FROM events),
      |j AS (
      |  SELECT source_type, unit, care,
      |    CAST(ROW_NUMBER() OVER (ORDER BY source_type ASC NULLS LAST,
      |      unit ASC NULLS LAST, care ASC NULLS LAST) AS INT) AS junk_id
      |  FROM (SELECT DISTINCT source_type, unit, care FROM f) d)
      |SELECT f.event_id, j.junk_id
      |FROM f LEFT JOIN j
      |  ON f.source_type IS NOT DISTINCT FROM j.source_type
      | AND f.unit IS NOT DISTINCT FROM j.unit
      | AND f.care IS NOT DISTINCT FROM j.care""".stripMargin

  // ---------------------------------------------------------------------
  // J7 — anti-join (LEFT JOIN … WHERE right IS NULL): orphan detection
  // (DWH.sql:150-177, QA.sql:79-116). Parts never ordered.
  // ---------------------------------------------------------------------
  def antiJoinOrphans(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    // Restrict the right side so the orphan set is non-empty at every SF
    // (every part appears in lineitem overall, none would be orphaned).
    val li = Tables.load(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1995)
    p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
  }

  private val antiJoinOrphansSql =
    """SELECT p_partkey, p_name FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_partkey = p_partkey AND year(l_shipdate) = 1995)""".stripMargin

  // ---------------------------------------------------------------------
  // J8 — NOT EXISTS conditional insert (DWH.sql:138-144: insert the
  // 'Unknown' concept only if absent). Anti-join the candidate row
  // against the dim, then union.
  // ---------------------------------------------------------------------
  def notExistsInsert(s: SparkSession, dir: String): DataFrame = {
    val concepts = Relational.conceptKeywordFilter(s, dir)
    val unknown = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("UNK", "Unknown concept", "NA")),
      StructType(Seq(
        StructField("code", StringType, nullable = false),
        StructField("concept_name", StringType, nullable = false),
        StructField("concept_type", StringType, nullable = false))))
    concepts.unionByName(
      unknown.join(concepts, Seq("code"), "left_anti"))
  }

  private val notExistsInsertSql =
    s"""WITH concepts AS (${Relational.conceptSubquerySql})
       |SELECT code, concept_name, concept_type FROM concepts
       |UNION ALL
       |SELECT 'UNK' AS code, 'Unknown concept' AS concept_name, 'NA' AS concept_type
       |WHERE NOT EXISTS (SELECT 1 FROM concepts WHERE code = 'UNK')""".stripMargin

  // ---------------------------------------------------------------------
  // J9 — USING(col) join for QA orphan counts (QA.sql:83-115).
  // ---------------------------------------------------------------------
  def usingJoinOrphanCounts(s: SparkSession, dir: String): DataFrame = {
    val checks: Seq[(String, DataFrame, DataFrame, String, String)] = Seq(
      ("orders_without_customer",
        Tables.load(s, dir, "orders").select(col("o_custkey").as("k")),
        Tables.load(s, dir, "customer").select(col("c_custkey").as("k"), col("c_name")),
        "k", "c_name"),
      ("lineitem_without_part",
        Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k")),
        Tables.load(s, dir, "part").select(col("p_partkey").as("k"), col("p_name")),
        "k", "p_name"),
      ("events_without_customer",
        Tables.load(s, dir, "events").select(col("user_id").as("k")),
        Tables.load(s, dir, "customer").select(col("c_custkey").as("k"), col("c_name")),
        "k", "c_name"))
    checks.map { case (name, fact, dim, key, probe) =>
      fact.join(dim, Seq(key), "left")
        .filter(col(probe).isNull)
        .agg(count(lit(1)).as("orphans"))
        .select(lit(name).as("check_name"), col("orphans"))
    }.reduce(_ unionByName _)
  }

  private val usingJoinOrphanCountsSql =
    """SELECT 'orders_without_customer' AS check_name, COUNT(*) AS orphans
      |FROM (SELECT o_custkey AS k FROM orders) f
      |LEFT JOIN (SELECT c_custkey AS k, c_name FROM customer) d USING (k)
      |WHERE d.c_name IS NULL
      |UNION ALL
      |SELECT 'lineitem_without_part', COUNT(*)
      |FROM (SELECT l_partkey AS k FROM lineitem) f
      |LEFT JOIN (SELECT p_partkey AS k, p_name FROM part) d USING (k)
      |WHERE d.p_name IS NULL
      |UNION ALL
      |SELECT 'events_without_customer', COUNT(*)
      |FROM (SELECT user_id AS k FROM events) f
      |LEFT JOIN (SELECT c_custkey AS k, c_name FROM customer) d USING (k)
      |WHERE d.c_name IS NULL""".stripMargin

  // ---------------------------------------------------------------------
  // J10/O1/M2 — uncorrelated scalar subquery backfill
  // (Stage_area.sql:225-231: SET concept_id = (SELECT id … LIMIT 1)
  // WHERE concept_id IS NULL). LIMIT 1 without ORDER BY is
  // nondeterministic in MariaDB; pinned to MIN (SURVEY.md §7.4.2). The
  // 1-row scalar is cross-joined (broadcast nested loop), never
  // collect()ed.
  // ---------------------------------------------------------------------
  def scalarSubqueryBackfill(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val c = Relational.conceptKeywordFilter(s, dir).select(col("code"))
    val unknown = Tables.load(s, dir, "part")
      .agg(min(col("p_partkey")).cast(StringType).as("unknown_code"))
    li.join(c, li("l_partkey").cast(StringType) === c("code"), "left")
      .crossJoin(broadcast(unknown))
      .select(col("l_orderkey"), col("l_linenumber"),
        coalesce(col("code"), col("unknown_code")).as("concept_code"))
  }

  private val scalarSubqueryBackfillSql =
    s"""SELECT l_orderkey, l_linenumber,
       |  COALESCE(c.code, (SELECT CAST(MIN(p_partkey) AS VARCHAR) FROM part)) AS concept_code
       |FROM lineitem l
       |LEFT JOIN (SELECT code FROM (${Relational.conceptSubquerySql}) cc) c
       |  ON CAST(l.l_partkey AS VARCHAR) = c.code""".stripMargin

  // ---------------------------------------------------------------------
  // M6 — guarded orphan delete (DWH.sql:150-177): DELETE fact rows whose
  // non-NULL FK has no dim match; NULL-FK rows are kept (guarded form
  // `fk IS NOT NULL AND no-match`). Retention filter = NULL-FK rows ∪
  // semi-join survivors.
  // ---------------------------------------------------------------------
  def guardedOrphanDelete(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.load(s, dir, "events").select(
      col("event_id"),
      when(col("event_type") === "error", lit(null).cast(LongType))
        .otherwise(col("user_id")).as("patient_id"))
    val dim = Tables.load(s, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("patient_id"))
    f.filter(col("patient_id").isNull)
      .unionByName(f.join(dim, Seq("patient_id"), "left_semi"))
  }

  private val guardedOrphanDeleteSql =
    """WITH f AS (
      |  SELECT event_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE user_id END AS patient_id
      |  FROM events),
      |d AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      |SELECT event_id, patient_id FROM f
      |WHERE patient_id IS NULL
      |   OR EXISTS (SELECT 1 FROM d WHERE d.c_custkey = f.patient_id)""".stripMargin

  // ---------------------------------------------------------------------
  // As-of join via the custom operator (graft.plans.AsOfJoinExec): for
  // each event, the most recent signup of the same user at-or-before the
  // event time. DuckDB verifies with its native ASOF LEFT JOIN.
  // ---------------------------------------------------------------------
  def asofLastSignup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val sgn = Tables.load(s, dir, "events")
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
    graft.plans.AsOf.join(e, sgn, "user_id", "s_user", "ts", "s_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("s_id").as("last_signup_id"), col("s_ts").as("last_signup_ts"))
  }

  private val asofLastSignupSql =
    """WITH s AS (SELECT user_id AS s_user, ts AS s_ts, event_id AS s_id
      |           FROM events WHERE event_type = 'signup')
      |SELECT e.event_id, e.user_id, e.ts,
      |       s.s_id AS last_signup_id, s.s_ts AS last_signup_ts
      |FROM events e ASOF LEFT JOIN s
      |  ON e.user_id = s.s_user AND e.ts >= s.s_ts""".stripMargin

  // ---------------------------------------------------------------------
  // J11+ — runtime BLOOM-FILTER semi-join reduction: the selective dim
  // filter (urgent orders) is turned into a bloom filter that pre-filters
  // the fact scan BEFORE its shuffle, so non-matching fact rows never
  // enter the exchange. At 100 TB this is the difference between
  // shuffling the whole fact table and shuffling the ~20% that can
  // match; false positives are removed by the exact join, so the result
  // is identical to the plain join (the oracle). Spark's optimizer
  // injects the filter (InjectRuntimeFilter → BloomFilterAggregate +
  // might_contain) when the creation side is small and filtered and the
  // join shuffles.
  //
  // The bloom confs live on a CLONED session (`newSession`: own conf,
  // shared context) because injection happens at optimization time —
  // i.e. when the caller executes the returned frame, long after a
  // set/restore wrapper would have restored them — and the
  // zeroed application-side threshold must never leak into other
  // queries' plans. At production scale the default thresholds (10 GB
  // scan) trigger by themselves; zeroing is harness-scale-only.
  // ---------------------------------------------------------------------
  /** The bloom clone of `s`: one per session, not per dir (no dir key). */
  private[graft] def bloomSession(s: SparkSession): SparkSession =
    Memo.of(s, "", "runtimeBloomSession") {
      import org.apache.spark.sql.internal.SQLConf
      val n = s.newSession()
      n.conf.set(SQLConf.RUNTIME_BLOOM_FILTER_ENABLED.key, "true")
      n.conf.set(SQLConf
        .RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD.key, "0")
      // the rule treats a join as shuffle-join by SIZE, not by hint — at
      // harness scale the dim side is broadcast-able, which would veto
      // injection, so broadcast-by-size is off here (the 100 TB shape)
      n.conf.set(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key, "-1")
      // partition count mirrors the parent session (newSession resets it)
      n.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      n
    }

  def runtimeBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val bs = bloomSession(s)
    val urgent = Tables.load(bs, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val items = Tables.load(bs, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    // merge hint: the shuffle-join scenario is the one the bloom serves
    // (a broadcast join already filters on the stream side for free)
    items.hint("merge").join(urgent, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"))
  }

  private val runtimeBloomJoinSql =
    """SELECT COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin

  // ---------------------------------------------------------------------
  // J12 — salted skew JOIN (the join-side complement of a6's salted
  // aggregation). A shuffle join on a power-law key sends every row of a
  // hot key to one reducer; salting replicates the DIM side k ways
  // (explode over 0..k-1) and routes each fact row to one replica by a
  // deterministic per-row salt, so a hot key spreads over k reducers.
  // The salt never escapes the join — results are identical to the plain
  // join, which is exactly what the oracle runs. The merge hint keeps
  // the plan in the shuffle-join regime the technique addresses (AQE
  // would broadcast the dim at harness scale and the salt would test
  // nothing); segment grouping after the join is the usual small agg.
  // ---------------------------------------------------------------------
  val joinSaltBuckets = 8

  def saltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.load(s, dir, "events")
      .withColumn("_salt", pmod(hash(col("event_id")), lit(joinSaltBuckets)))
      .select(col("user_id"), col("value"), col("_salt"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(sequence(lit(0), lit(joinSaltBuckets - 1))).as("_salt"))
    facts.hint("merge")
      .join(dim, facts("user_id") === dim("c_custkey") &&
        facts("_salt") === dim("_salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_value"))
  }

  private val saltedSkewJoinSql =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // J14 (beyond reference) — binned range join: a PURE range predicate
  // (|p.value − s.value| ≤ δ) with NO equi key. Naively Spark plans this
  // as BroadcastNestedLoopJoin — O(N·M) row compares, the canonical
  // non-equi scale-killer. Binning recovers an equi join: bucket both
  // sides by floor(value/δ); any in-range pair is within ±1 bin, so the
  // probe side explodes to its 3 candidate bins, joins on the bin key,
  // and the exact predicate filters the candidates. Each true pair is
  // emitted exactly once (the build row has ONE bin; the probe's 3 bins
  // are distinct). δ a power of two keeps the bucketing float-exact in
  // any engine. Candidate cost: O(N+M) shuffle + per-bin products — the
  // same discipline as the LSH band join, applied to scalar ranges.
  // Plan-pinned: zero nested-loop/cartesian operators.
  // ---------------------------------------------------------------------
  val rangeJoinDelta = 0.5

  /** The binning core over (p_id, p_value) × (s_id, s_value) inputs —
    * exposed for the equivalence property test, which proves it equal to
    * the naive θ-join on generated data.
    */
  private[graft] def binnedRangePairs(probe: DataFrame, build: DataFrame,
      delta: Double): DataFrame = {
    val probes = probe.withColumn("bin", explode(array(
      floor(col("p_value") / delta).cast("long") - 1,
      floor(col("p_value") / delta).cast("long"),
      floor(col("p_value") / delta).cast("long") + 1)))
    val binned = build.withColumn("bin",
      floor(col("s_value") / delta).cast("long"))
    probes.join(binned, Seq("bin"))
      .filter(abs(col("p_value") - col("s_value")) <= delta)
      .select(col("p_id"), col("s_id"), col("p_value"), col("s_value"))
  }

  def binnedRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    binnedRangePairs(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("value").as("p_value")),
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("value").as("s_value")),
      rangeJoinDelta)
  }

  // Oracle note: the semantics is the exact-abs residual (bit-identical
  // to the Spark filter); the per-side range pair exists only so DuckDB
  // plans an IEJoin instead of a blockwise nested loop (measured 5.6 s
  // → 0.6 s at sf0.1, identical row set + hash). The band is widened by
  // 1e-7, which strictly contains the ≤1-ulp (~1.2e-10 at |value|≤1e6)
  // rounding gap between fl(p−s) and the per-side fl(s±δ) bounds, so no
  // abs-true pair can be pre-filtered away.
  private val binnedRangeJoinSql =
    s"""SELECT p.event_id AS p_id, s.event_id AS s_id,
       |       p.value AS p_value, s.value AS s_value
       |FROM events p JOIN events s
       |  ON p.event_type = 'purchase' AND s.event_type = 'signup'
       | AND p.value >= s.value - ${rangeJoinDelta + 1e-7}
       | AND p.value <= s.value + ${rangeJoinDelta + 1e-7}
       |WHERE abs(p.value - s.value) <= $rangeJoinDelta""".stripMargin

  // ---------------------------------------------------------------------
  // J15 (beyond reference) — fuzzy string join, edit distance ≤ 1, via
  // DELETION NEIGHBORHOODS (the SymSpell trick): every key emits itself
  // plus each single-character deletion; two strings within one edit
  // (insert/delete/substitute) ALWAYS share a neighborhood entry, so
  // candidates meet in an equi join on the variant — never the O(N·M)
  // levenshtein nested loop. The neighborhood over-generates (e.g.
  // "ab"/"ba" share variants at distance 2), so an exact levenshtein
  // verifies candidates only — LSH-band discipline on strings. Cost:
  // (len+1) variants per key, linear in data; the oracle is the naive
  // θ-join, which DuckDB can afford at sf scale.
  //
  // The corpus has no typos, so the probe side is a deterministic
  // typo'd copy of the customer names (digit deleted at a key-derived
  // position), mirrored in the oracle — same pattern as the phash twins.
  // ---------------------------------------------------------------------
  /** The deletion-neighborhood core over (l_id, l_name) × (r_id, r_name)
    * — exposed for the equivalence property test against the naive
    * levenshtein θ-join on generated strings.
    */
  private[graft] def fuzzyPairs(left: DataFrame, right: DataFrame): DataFrame = {
    // The natural spelling — array_distinct(transform(sequence(...),
    // i -> delete-at-i)) — runs interpreted: higher-order array
    // functions are CodegenFallback, so every row paid a boxed
    // 19-element array + lambda evals + O(k²) array_distinct outside
    // whole-stage codegen (measured: ~4 task-sec per 15k-row side at
    // sf0.1). This generator form stays inside codegen: explode the
    // position range, build each variant with substr/concat. The
    // within-row duplicates array_distinct removed arise ONLY from
    // equal-char runs (delete(i) == delete(j), i<j ⇔ s[i..j] is one
    // repeated char), so keeping just the LAST deletion of each run —
    // s[i] ≠ s[i+1], trivially true at i = len against the empty
    // suffix — dedups identically, one codegen'd comparison per
    // variant instead of a per-row array pass.
    def variants(df: DataFrame, id: String, name: String) = {
      val n = col(name)
      df.select(col(id), n, explode(sequence(lit(0), length(n))).as("i"))
        .filter(col("i") === 0 ||
          n.substr(col("i"), lit(1)) =!= n.substr(col("i") + 1, lit(1)))
        .select(col(id), n,
          when(col("i") === 0, n)
            .otherwise(concat(n.substr(lit(1), col("i") - 1),
              n.substr(col("i") + 1, length(n)))).as("variant"))
    }
    // Probe parallelism tracks the session's shuffle partitioning, not
    // the input's FILE layout: at sf0.1 each registry is ONE parquet
    // file, so without the repartition the whole explode + broadcast
    // probe + levenshtein verify ran as a single task (measured 1.8
    // task-sec = 1.8 s of wall on an otherwise idle 32-thread box). The
    // repartition shuffles only the narrow (id, name) rows — KBs —
    // before the ~20× variant fan-out; at 100 TB the scan already has
    // thousands of splits and the exchange coalesces away under AQE.
    // Single-box caveat (measured r8): 32 concurrent string-heavy probe
    // tasks contend on one memory bus, inflating SUMMED task-sec ~4×
    // (warm 2.2 → 11.4 @32; the 8-thread control shows 3.1 — near the
    // sequential cost) while wall still halves (j14 3.0 → 1.5 s,
    // er_resolve 4.8 → 3.3 s). Same artifact the scale-exponent table
    // pins with its 8-thread controls; on separate executors the
    // parallelism is a clean win.
    val lv = variants(graft.Tables.spread(left), "l_id", "l_name")
    val rv = variants(graft.Tables.spread(right), "r_id", "r_name")
    // verify BEFORE distinct: a candidate pair occurs once per shared
    // variant (≤3 for distance ≤ 1), so the extra levenshtein evals are
    // bounded, while the dedup shuffle shrinks from every candidate ×
    // (two ids + two full name strings) to true matches × three small
    // columns — the shuffle, not the scalar function, is the scale cost.
    // Join strategy crossover (measured at 100×): once the variant
    // tables outgrow broadcast, Spark's default picks sort-merge and
    // SORTS ~75M variant strings — 60% of the query's task-sec. A
    // shuffled-hash join needs no sort (327 → 211 task-sec @8 threads,
    // wall 56 → 32 s with rv.hint("shuffle_hash")), but hinting it
    // unconditionally FORCES the shuffle at small scale where broadcast
    // is 3× better, so no hint is hard-coded: a deployment at corpus
    // scale sets spark.sql.join.preferSortMergeJoin=false, which keeps
    // auto-broadcast for small sides and picks hash over sort when
    // shuffling. Candidate volume itself is measured sublinear
    // (370k → 1.6M → 7.6M across base/10×/100×, max bucket flat at 46).
    // THRESHOLDED levenshtein (Spark 3.5+ 3-arg form): the verify only
    // needs distances ≤ 1, and the bounded form runs the banded
    // O(threshold·len) algorithm with early exit instead of filling the
    // full O(len²) matrix per candidate — same matched pairs, same
    // distance values (non-matches return -1 and are dropped exactly
    // where the old `distance <= 1` filter dropped them).
    lv.join(rv, Seq("variant"))
      .select(col("l_id"), col("r_id"),
        levenshtein(col("l_name"), col("r_name"), 1).cast("int")
          .as("distance"))
      .filter(col("distance") >= 0)
      .distinct()
  }

  /** The NAIVE range θ-join, written the way a user who doesn't know the
    * binning trick would write it — with [[graft.plans.RangeJoinRewrite]]
    * installed, the optimizer rewrites it into the disjoint 3-branch
    * binned union (same semantics as [[binnedRangeJoin]], proven by the
    * shared oracle) and the plan carries zero nested-loop operators.
    * This is the rule's end-to-end correctness gate; the plan assertion
    * lives in ExtensionsSpec.
    */
  def rewrittenRangeJoin(s: SparkSession, dir: String): DataFrame = {
    graft.plans.RangeJoinRewrite.install(s)
    val ev = Tables.load(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("value").as("p_value"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("value").as("s_value"))
    p.join(sg, abs(col("p_value") - col("s_value")) <= rangeJoinDelta, "inner")
      .select(col("p_id"), col("s_id"), col("p_value"), col("s_value"))
  }

  def fuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val typos = cust.select(
      (col("c_custkey") + 10000000L).as("r_id"),
      expr("concat(substring(c_name, 1, CAST(9 + c_custkey % 9 AS INT)), " +
        "substring(c_name, CAST(9 + c_custkey % 9 AS INT) + 2))").as("r_name"))
    fuzzyPairs(
      cust.select(col("c_custkey").as("l_id"), col("c_name").as("l_name")),
      typos)
      .select(col("l_id").as("c_custkey"), col("r_id").as("t_id"),
        col("distance"))
  }

  /** Shared banded-candidate CTEs for the fuzzy oracles: the naive
    * `customer × typos ON levenshtein ≤ 1` theta-join is O(N·M)
    * levenshtein evaluations (2.25e8 at sf0.1 — the oracle ground to a
    * crawl long before the engine did), so the oracle now mirrors the
    * engine's own SymSpell discipline: distance ≤ 1 strings share a
    * member of their single-deletion neighborhoods, so generate the
    * variants on both sides, equi-join on the variant, and verify
    * levenshtein on candidates only. MATERIALIZED: DuckDB inlines CTEs
    * per reference, and `fp` feeds multiple consumers.
    */
  private val fuzzyBandedCtes =
    """typos AS MATERIALIZED (
      |  SELECT c_custkey + 10000000 AS t_id,
      |         substring(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
      |           || substring(c_name, CAST(9 + c_custkey % 9 AS INT) + 2) AS t_name
      |  FROM customer),
      |lv AS (
      |  SELECT c_custkey AS a, c_name AS l_name,
      |    CASE WHEN i = 0 THEN c_name
      |         ELSE substring(c_name, 1, i-1) || substring(c_name, i+1) END AS variant
      |  FROM customer, unnest(range(0, length(c_name)::BIGINT + 1)) AS t(i)),
      |rv AS (
      |  SELECT t_id AS b, t_name,
      |    CASE WHEN i = 0 THEN t_name
      |         ELSE substring(t_name, 1, i-1) || substring(t_name, i+1) END AS variant
      |  FROM typos, unnest(range(0, length(t_name)::BIGINT + 1)) AS t(i)),
      |fp AS MATERIALIZED (
      |  SELECT DISTINCT a, b, CAST(levenshtein(l_name, t_name) AS INT) AS distance
      |  FROM lv JOIN rv USING (variant)
      |  WHERE levenshtein(l_name, t_name) <= 1)""".stripMargin

  // NB: no outer stripMargin around interpolated CTEs — it would strip
  // the first char of every `||` concat operator at a line start
  private val fuzzyJoinSql =
    s"WITH $fuzzyBandedCtes\nSELECT a AS c_custkey, b AS t_id, distance FROM fp"

  // ---------------------------------------------------------------------
  // Entity resolution (patient record linkage — the reference domain's
  // master-data problem): two registries (the customer master and a
  // typo'd intake feed) are linked by composing three verified
  // primitives end to end — SymSpell deletion-neighborhood candidates
  // (never O(N·M)), exact levenshtein verify on candidates only, then
  // TRANSITIVE closure over the verified matches (a record within one
  // edit of two different spellings bridges them into one entity), with
  // the canonical entity id = the component's minimum record id. Every
  // record in either registry gets an entity_id; unlinked records are
  // their own entity.
  //
  // Scale shape: candidates and closure both run on edges, not the
  // registry product — the same banding + pointer-jumping discipline as
  // the near-dup cluster pass; per-round cost is O(verified matches),
  // rounds are log(component diameter). This is the bench's most
  // expensive query BY DESIGN: the generated name space digit-chains
  // into large components (a typo string sits within one edit of many
  // masters), so the closure genuinely runs ~a dozen keyed rounds —
  // local-mode wall time is round-scheduling, not data volume, and the
  // per-round cost stays O(edges) at any scale. The DuckDB oracle
  // mirrors both disciplines (banded candidates + pointer-doubling
  // closure — see entityResolveSql) so the correctness gate itself runs
  // in seconds at sf0.1 instead of the 45-minute naive recursion.
  // ---------------------------------------------------------------------
  /** Memoized like [[DedupOps.dedupClusters]]: the resolved entity table
    * is the canonical scheduled LINKAGE artifact — candidate generation,
    * verify, and closure run once per (session, corpus) and every
    * consumer (the registered query, QA joins, downstream master-data
    * reads) probes the persisted id→entity map, exactly how a 100 TB
    * deployment ships master-record tables. Warmed in the bench
    * layer-build phase; the persisted frame is one narrow row per
    * registry record.
    */
  def entityResolve(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "erResolved")(
      entityResolveBuild(s, dir).persist())

  private def entityResolveBuild(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val typos = cust.select(
      (col("c_custkey") + 10000000L).as("r_id"),
      expr("concat(substring(c_name, 1, CAST(9 + c_custkey % 9 AS INT)), " +
        "substring(c_name, CAST(9 + c_custkey % 9 AS INT) + 2))").as("r_name"))
    val pairs = fuzzyPairs(
      cust.select(col("c_custkey").as("l_id"), col("c_name").as("l_name")),
      typos.select(col("r_id"), col("r_name")))
      .select(col("l_id").as("doc_a"), col("r_id").as("doc_b"))
    val nodes = cust.select(col("c_custkey").as("id"))
      .union(typos.select(col("r_id")))
    val cc = DedupOps.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "id")
    nodes.join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("entity_id"),
        (col("id") < 10000000L).as("is_master"))
  }

  /** The closure oracle was a recursive reachability CTE — all (node,
    * reachable) pairs, O(Σ component²): at sf0.1 every record chains into
    * ONE 30k-node component (9e8 pairs, 45+ CPU-minutes in DuckDB). Now
    * it is min-label propagation with POINTER DOUBLING, unrolled as
    * chained MATERIALIZED CTEs: each round propagates the min label over
    * edges (O(E)) then hops l ← l(l) (O(V)), so label reach at least
    * doubles per round — [[erClosureRounds]] rounds cover any component
    * diameter up to 2^rounds. Verified equal to union-find ground truth
    * at every SF (sf0.1: 1.5 s vs the 45-min recursion). Convergence
    * margin: sf0.1 converges by round 4; 10 rounds is 64× that.
    */
  private val erClosureRounds = 10

  private val entityResolveSql = {
    val rounds = (1 to erClosureRounds).map { r =>
      val prev = if (r == 1) "l0" else s"h${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT d, MIN(l) AS l FROM (
         |    SELECT x.d, x.l FROM $prev x
         |    UNION ALL
         |    SELECT s.a AS d, x.l FROM er_sym s JOIN $prev x ON x.d = s.b
         |  ) GROUP BY d),
         |h$r AS MATERIALIZED (
         |  SELECT x.d, LEAST(x.l, y.l) AS l
         |  FROM p$r x JOIN p$r y ON y.d = x.l)""".stripMargin
    }.mkString(",\n")
    // Convergence guard (not just a margin argument): one MORE
    // propagation round over the final labels must change nothing. If a
    // future corpus's component diameter outgrew 2^rounds, the oracle
    // would silently emit wrong entity labels and fail the gate against
    // a CORRECT Spark answer — so the guard makes the oracle itself
    // error out loudly instead (DuckDB error() in the taken branch).
    val fin = s"h$erClosureRounds"
    s"WITH $fuzzyBandedCtes,\n" +
      """er_nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer
        |             UNION ALL SELECT t_id FROM typos),
        |er_sym AS MATERIALIZED (SELECT a, b FROM fp
        |             UNION ALL SELECT b AS a, a AS b FROM fp),
        |l0 AS MATERIALIZED (SELECT id AS d, id AS l FROM er_nodes),""".stripMargin +
      s"\n$rounds,\n" +
      s"""er_conv AS MATERIALIZED (
         |  SELECT COUNT(*) AS nc FROM (
         |    SELECT d, MIN(l) AS l FROM (
         |      SELECT x.d, x.l FROM $fin x
         |      UNION ALL
         |      SELECT s.a AS d, x.l FROM er_sym s JOIN $fin x ON x.d = s.b
         |    ) GROUP BY d) p
         |  JOIN $fin h ON h.d = p.d AND p.l < h.l)
         |SELECT d AS id,
         |  CASE WHEN (SELECT nc FROM er_conv) > 0
         |       THEN CAST(error('er oracle: label propagation not converged after $erClosureRounds rounds — raise erClosureRounds') AS BIGINT)
         |       ELSE l END AS entity_id,
         |  d < 10000000 AS is_master
         |FROM $fin""".stripMargin
  }

  override val ops: Seq[Op] = Seq(
    Op("er_resolve", entityResolve, Some(entityResolveSql),
      "entity resolution: fuzzy candidates -> exact verify -> transitive closure -> canonical id"),
    Op("j14_fuzzy_join", fuzzyJoin, Some(fuzzyJoinSql),
      "typo-tolerant join via SymSpell deletion neighborhoods + exact verify, never O(N*M)"),
    Op("j13_binned_range_join", binnedRangeJoin, Some(binnedRangeJoinSql),
      "pure range-predicate join via delta-binning: equi join on bins, never a nested loop"),
    Op("j15_rewritten_range_join", rewrittenRangeJoin, Some(binnedRangeJoinSql),
      "the NAIVE range theta-join auto-rewritten to binned form by the optimizer rule"),
    Op("j11_runtime_bloom_join", runtimeBloomJoin, Some(runtimeBloomJoinSql),
      "bloom-filter semi-join reduction: fact rows pre-filtered before the shuffle"),
    Op("j12_salted_skew_join", saltedSkewJoin, Some(saltedSkewJoinSql),
      "salted shuffle join: dim replicated k ways, hot keys spread over k reducers"),
    Op("asof_last_signup", asofLastSignup, Some(asofLastSignupSql),
      "point-in-time join via custom AsOfJoinExec (LogicalPlan+Strategy+SparkPlan)"),
    Op("j1_left_join_conformed_key", leftJoinConformedKey, Some(leftJoinConformedKeySql),
      "Stage_area.sql:180-182 cast-key LEFT JOIN with constant predicate"),
    Op("j2_multiway_left_join", multiWayLeftJoin, Some(multiWayLeftJoinSql),
      "Stage_area.sql:199-202 chained LEFT JOINs"),
    Op("j3_expression_key_join", expressionKeyJoin, Some(expressionKeyJoinSql),
      "Stage_area.sql:218-220 TRIM(LOWER()) expression-key join"),
    Op("j4_interval_backfill", intervalJoinBackfill, Some(intervalJoinBackfillSql),
      "Stage_area.sql:237-245 LEFT interval join careunit backfill (M3)"),
    Op("j5_interval_coalesce", intervalJoinCoalesce, Some(intervalJoinCoalesceSql),
      "Stage_area.sql:251-256 INNER-update interval join provider link (M4)"),
    Op("j6_null_safe_junk_join", nullSafeJunkJoin, Some(nullSafeJunkJoinSql),
      "Stage_area.sql:262-283 junk dim build + null-safe linkage (M5)"),
    Op("j7_anti_join_orphans", antiJoinOrphans, Some(antiJoinOrphansSql),
      "DWH.sql:150-177 / QA.sql:79-116 anti-join orphan detection"),
    Op("j8_not_exists_insert", notExistsInsert, Some(notExistsInsertSql),
      "DWH.sql:138-144 NOT EXISTS conditional insert"),
    Op("j9_using_join_orphan_counts", usingJoinOrphanCounts, Some(usingJoinOrphanCountsSql),
      "QA.sql:83-115 USING(col) orphan-count checks"),
    Op("j10_scalar_backfill", scalarSubqueryBackfill, Some(scalarSubqueryBackfillSql),
      "Stage_area.sql:225-231 scalar-subquery Unknown backfill (M2/O1)"),
    Op("m6_guarded_orphan_delete", guardedOrphanDelete, Some(guardedOrphanDeleteSql),
      "DWH.sql:150-177 guarded orphan DELETE as retention filter"))
}
