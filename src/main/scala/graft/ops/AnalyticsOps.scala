package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral-analytics operators over the event stream — the BI queries
  * a warehouse's analysts actually run against the star schema the ETL
  * produces (the reference's pre-aggregation, DWH.sql:203-210, is the
  * first member of this family; funnels and cohorts are its sequel).
  *
  * Scale shape: both ops key every join, window, and aggregation on
  * `user_id` — ONE hash partitioning reused end-to-end, no global sort.
  * Stage ordering ("first X after Y") is conditional MIN aggregation,
  * never a self-join of the raw feed against itself per stage pair.
  */
object AnalyticsOps extends OpGroup {

  private def ev(s: SparkSession, dir: String) =
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))

  // ---------------------------------------------------------------------
  // Three-stage funnel: first signup → first click at-or-after it →
  // first purchase at-or-after that click; conversion = purchase within
  // 7 days of signup. Per-stage "first after" is MIN(CASE WHEN ts >=
  // prior stage) over a per-user LEFT join — each stage costs one
  // user_id join + one hash-agg on the same key, so an n-stage funnel
  // is n reuses of one partitioning, not n² event self-joins.
  // ---------------------------------------------------------------------
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val s0 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val c0 = s0
      .join(e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts")), Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(when(col("c_ts") >= col("signup_ts"), col("c_ts")))
        .as("click_ts"))
    val p0 = c0
      .join(e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts")), Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ts"), col("click_ts"))
      .agg(min(when(col("p_ts") >= col("click_ts"), col("p_ts")))
        .as("purchase_ts"))
    p0.select(col("user_id"), col("signup_ts"), col("click_ts"),
      col("purchase_ts"),
      when(col("purchase_ts").isNotNull, 3)
        .when(col("click_ts").isNotNull, 2).otherwise(1)
        .cast("int").as("stage"),
      coalesce(
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 7 DAY"),
        lit(false)).as("converted_7d"))
  }

  private val funnelSql =
    """WITH s0 AS (
      |  SELECT user_id, MIN(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c0 AS (
      |  SELECT s.user_id, s.signup_ts,
      |         MIN(CASE WHEN e.ts >= s.signup_ts THEN e.ts END) AS click_ts
      |  FROM s0 s LEFT JOIN events e
      |    ON e.user_id = s.user_id AND e.event_type = 'click'
      |  GROUP BY s.user_id, s.signup_ts),
      |p0 AS (
      |  SELECT c.user_id, c.signup_ts, c.click_ts,
      |         MIN(CASE WHEN e.ts >= c.click_ts THEN e.ts END) AS purchase_ts
      |  FROM c0 c LEFT JOIN events e
      |    ON e.user_id = c.user_id AND e.event_type = 'purchase'
      |  GROUP BY c.user_id, c.signup_ts, c.click_ts)
      |SELECT user_id, signup_ts, click_ts, purchase_ts,
      |  CAST(CASE WHEN purchase_ts IS NOT NULL THEN 3
      |            WHEN click_ts IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage,
      |  COALESCE(purchase_ts <= signup_ts + INTERVAL 7 DAY, FALSE) AS converted_7d
      |FROM p0""".stripMargin

  // ---------------------------------------------------------------------
  // Retention cohorts: users grouped by first-activity week, counted
  // distinct in each subsequent activity week. The (user, week) distinct
  // collapses the raw feed FIRST (hash-agg, map-side combined), so the
  // cohort join touches one row per user-week, never per event — the
  // difference between joining 10^8 users and 10^11 events at scale.
  // ---------------------------------------------------------------------
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    // cast to DATE: Spark's date_trunc yields a timestamp, DuckDB's a
    // date — the week boundary is the same instant either way
    val firstWeek = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val activeWeeks = e
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    activeWeeks.join(firstWeek, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  private val retentionCohortsSql =
    """WITH fw AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY user_id),
      |aw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |       FROM events)
      |SELECT f.cohort_week,
      |  CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
      |  COUNT(DISTINCT a.user_id) AS n_active
      |FROM aw a JOIN fw f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Correlation + least-squares per group — corr / regr_slope /
  // regr_intercept semantics WITHOUT the built-ins: their double
  // accumulators fold in partition order, so two engines (or two runs at
  // different parallelism) disagree in the low bits. Instead the five
  // moments (Σx, Σy, Σxy, Σx², Σy²) accumulate EXACTLY — x is the
  // 2-decimal value scaled to BIGINT, products ride DECIMAL(38,0) so
  // 10^12-row groups cannot overflow — and the closed-form statistics
  // are one identical double formula at the end. One hash-agg pass,
  // map-side combined; the statistics cost nothing beyond the sums.
  // ---------------------------------------------------------------------
  def corrStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = round(col("value") * 100).cast("long")
    val y = hour(col("ts")).cast("long")
    val a = Tables.load(s, dir, "events")
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      // operands cast to DECIMAL BEFORE the multiply and the plain sums
      // accumulate as DECIMAL too: a BIGINT product/sum would overflow
      // first (x ~ 3e9 squares past Int64; 1e12-row groups push sum(x)
      // past it), defeating the exactness this op exists for.
      // (19,0)x(19,0) -> (38,0) stays in range in both engines.
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).as("sy"),
        sum(col("x").cast(DecimalType(19, 0))
          * col("y").cast(DecimalType(19, 0))).as("sxy"),
        sum(col("x").cast(DecimalType(19, 0))
          * col("x").cast(DecimalType(19, 0))).as("sxx"),
        sum(col("y").cast(DecimalType(19, 0))
          * col("y").cast(DecimalType(19, 0))).as("syy"))
    def d(c: String) = col(c).cast("double")
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    val vx = d("n") * d("sxx") - d("sx") * d("sx")
    val vy = d("n") * d("syy") - d("sy") * d("sy")
    val slope = num / vx
    a.select(col("event_type"), col("n"),
      round(num / sqrt(vx * vy), 6).as("corr_xy"),
      round(slope, 6).as("slope"),
      round((d("sy") - slope * d("sx")) / d("n"), 6).as("intercept"))
  }

  private val corrStatsSql = {
    val num = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val vx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val vy = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    s"""WITH b AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
       |         CAST(hour(ts) AS BIGINT) AS y
       |  FROM events),
       |a AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
       |         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
       |         SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
       |         SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
       |         SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
       |  FROM b GROUP BY event_type)
       |SELECT event_type, n,
       |  round($num / sqrt($vx * $vy), 6) AS corr_xy,
       |  round($num / $vx, 6) AS slope,
       |  round((CAST(sy AS DOUBLE) - ($num / $vx) * CAST(sx AS DOUBLE))
       |        / CAST(n AS DOUBLE), 6) AS intercept
       |FROM a""".stripMargin
  }

  // ---------------------------------------------------------------------
  // A16 — path analysis: the top 3-step event-type sequences users
  // actually walk (the free-form cousin of a13_funnel's FIXED stages —
  // funnels test a hypothesis, paths discover one). Each user's event
  // stream in (ts, event_id) total order yields overlapping trigrams via
  // two leads over ONE window pass; counting is a hash-agg on the path,
  // top-k is orderBy+limit. One user_id shuffle; path cardinality is
  // |types|³-bounded, so the agg output stays tiny at any corpus size.
  // ---------------------------------------------------------------------
  val pathTopK = 15

  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(col("event_type").as("s1"),
        lead(col("event_type"), 1).over(w).as("s2"),
        lead(col("event_type"), 2).over(w).as("s3"))
      .filter(col("s2").isNotNull && col("s3").isNotNull)
      .groupBy(col("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1").asc, col("s2").asc, col("s3").asc)
      .limit(pathTopK)
  }

  private lazy val eventPathsSql =
    s"""SELECT s1, s2, s3, COUNT(*) AS n FROM (
       |  SELECT event_type AS s1,
       |    lead(event_type, 1) OVER w AS s2,
       |    lead(event_type, 2) OVER w AS s3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) t
       |WHERE s2 IS NOT NULL AND s3 IS NOT NULL
       |GROUP BY s1, s2, s3
       |ORDER BY n DESC, s1 ASC, s2 ASC, s3 ASC LIMIT $pathTopK""".stripMargin

  // ---------------------------------------------------------------------
  // A17 — Markov transition matrix over event types: P(next | current)
  // from the same ordered streams (ONE lead instead of two). Probability
  // is the exact pair count over the exact row total in one
  // deterministic divide, rounded 6dp — never a float accumulation. The
  // output is |types|² rows: aggregate-sized forever.
  // ---------------------------------------------------------------------
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("src")).agg(sum("n").as("n_src"))
    // totals is |types| rows — broadcast, so the pairs side never
    // re-shuffles on src
    pairs.join(broadcast(totals), "src")
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / col("n_src"), 6).as("p"))
  }

  private lazy val markovTransitionsSql =
    """WITH pairs AS (
      |  SELECT src, dst, COUNT(*) AS n FROM (
      |    SELECT event_type AS src, lead(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst
      |    FROM events) t
      |  WHERE dst IS NOT NULL GROUP BY src, dst),
      |totals AS (SELECT src, SUM(n) AS n_src FROM pairs GROUP BY src)
      |SELECT p.src, p.dst, p.n,
      |  round(CAST(p.n AS DOUBLE) / t.n_src, 6) AS p
      |FROM pairs p JOIN totals t USING (src)""".stripMargin

  // ---------------------------------------------------------------------
  // Interval self-overlap: same-patient admissions whose stay windows
  // intersect — the classic clinical-data QA finding (a patient cannot
  // occupy two beds), and the general interval-overlap join primitive
  // (visit/session/segment alignment). Sentinel-dated stays (the
  // conformed 1900/2999 bounds for unknown dates) are excluded: an
  // unknown window overlaps nothing decidable. Strict inequalities on
  // both ends, so a discharge that touches the next admission
  // (disch == admit) is NOT an overlap — the contested quantity is
  // occupancy, and the discharge instant vacates the bed.
  //
  // Scale shape: an equi join on patient_id with the overlap predicate
  // as a residual — never a cartesian; per-key cost is quadratic only in
  // that PATIENT's admission count (single digits in any EHR; a
  // degenerate feed gets the j12 salting treatment). Interval bounds are
  // epoch-microsecond BIGINTs end to end.
  // ---------------------------------------------------------------------
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val adm = Relational.sentinelConform(s, dir)
      .filter(col("admittime") =!= to_timestamp(lit("1900-01-01 00:00:00")))
      .select(col("admission_id"), col("patient_id"),
        unix_micros(col("admittime")).as("admit_us"),
        unix_micros(col("dischtime")).as("disch_us"))
    val a = adm.select(col("patient_id"), col("admission_id").as("adm_a"),
      col("admit_us").as("a_start"), col("disch_us").as("a_end"))
    val b = adm.select(col("patient_id"), col("admission_id").as("adm_b"),
      col("admit_us").as("b_start"), col("disch_us").as("b_end"))
    a.join(b, Seq("patient_id"))
      .filter(col("adm_a") < col("adm_b") &&
        col("a_start") < col("b_end") && col("b_start") < col("a_end"))
      .select(col("patient_id"), col("adm_a"), col("adm_b"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_us"))
  }

  private val intervalOverlapSql =
    s"""WITH adm_iv AS (
       |  SELECT admission_id, patient_id,
       |         epoch_us(admittime) AS admit_us,
       |         epoch_us(dischtime) AS disch_us
       |  FROM (${Relational.sentinelConformSql}) t
       |  WHERE admittime <> TIMESTAMP '1900-01-01 00:00:00')
       |SELECT a.patient_id, a.admission_id AS adm_a, b.admission_id AS adm_b,
       |  least(a.disch_us, b.disch_us) - greatest(a.admit_us, b.admit_us)
       |    AS overlap_us
       |FROM adm_iv a JOIN adm_iv b
       |  ON a.patient_id = b.patient_id
       | AND a.admission_id < b.admission_id
       | AND a.admit_us < b.disch_us AND b.admit_us < a.disch_us""".stripMargin

  // ---------------------------------------------------------------------
  // Multi-touch attribution: every purchase credits the click/view
  // touchpoints in its 7-day lookback under three standard models —
  // first-touch, last-touch, and linear (value split evenly across
  // touches); a purchase with no touch in window credits 'direct'.
  //
  // Scale shape: ONE user_id-keyed join between conversions and touches
  // (the window predicate rides as a residual — per-user pair volume is
  // bounded by a user's 7-day activity, the interval-overlap
  // discipline), then per-purchase reduction by MIN/MAX over a
  // (ts, event_id, channel) struct — an AGGREGATE with map-side
  // partials, not a per-purchase rank window — and a channel rollup.
  // First/last are deterministic because event_id breaks ts ties; the
  // oracle's row_number formulation orders by the same two keys.
  // ---------------------------------------------------------------------
  val attributionLookbackDays = 7

  def attribution(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(s, dir, "events")
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val touch = events.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        col("ts").as("t_ts"), col("event_type").as("t_channel"))
    // Persisted: `joined` feeds `per` AND the linear rollup, and `per`
    // feeds three rollups — without the persists the user-keyed join
    // physically re-executes ~4× (the "ONE user-keyed join" claim above
    // would be a plan-shape claim, not an execution fact). Both frames
    // are horizon-bounded (purchases × 7-day touches). Routed through
    // Memo (like the term index) rather than bare persist(): the cache
    // manager dedups identical plans within one sfDir, but a JVM
    // touching many sfDirs would accumulate one entry per dir forever —
    // Memo's bounded retention unpersists the oldest beyond its cap.
    val joined = Memo.of(s, dir, "attributionJoined") {
      conv.join(touch,
        col("user_id") === col("t_user") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") >= col("p_ts") -
            expr(s"INTERVAL $attributionLookbackDays DAYS"),
        "left").persist()
    }
    val per = Memo.of(s, dir, "attributionPer") {
      joined.groupBy(col("p_id"))
        .agg(min(col("p_value")).as("v"),
          count(col("t_id")).as("nt"),
          min(struct(col("t_ts"), col("t_id"), col("t_channel"))).as("fst"),
          max(struct(col("t_ts"), col("t_id"), col("t_channel"))).as("lst"))
        .persist()
    }
    def rollup(ch: org.apache.spark.sql.Column, n: String, vq: String) =
      per.groupBy(coalesce(ch, lit("direct")).as("channel"))
        .agg(count(lit(1)).as(n),
          floor(sum(col("v")) * 1000 + 0.5).cast("long").as(vq))
    val firstA = rollup(col("fst.t_channel"), "n_first", "first_value_q")
    val lastA = rollup(col("lst.t_channel"), "n_last", "last_value_q")
    val linA = joined.join(per.select(col("p_id"), col("nt")), Seq("p_id"))
      .groupBy(coalesce(col("t_channel"), lit("direct")).as("channel"))
      .agg(floor(sum(col("p_value") / greatest(col("nt"), lit(1L)))
        * 1000 + 0.5).cast("long").as("linear_value_q"))
    firstA.join(lastA, Seq("channel"), "full_outer")
      .join(linA, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        coalesce(col("first_value_q"), lit(0L)).as("first_value_q"),
        coalesce(col("last_value_q"), lit(0L)).as("last_value_q"),
        coalesce(col("linear_value_q"), lit(0L)).as("linear_value_q"))
  }

  private val attributionSql =
    s"""WITH conv AS (
       |  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
       |  FROM events WHERE event_type = 'purchase'),
       |touch AS (
       |  SELECT user_id AS t_user, event_id AS t_id, ts AS t_ts,
       |         event_type AS t_channel
       |  FROM events WHERE event_type IN ('click', 'view')),
       |j AS (
       |  SELECT c.*, t.t_id, t.t_ts, t.t_channel
       |  FROM conv c LEFT JOIN touch t
       |    ON c.user_id = t.t_user AND t.t_ts <= c.p_ts
       |   AND t.t_ts >= c.p_ts - INTERVAL $attributionLookbackDays DAYS),
       |ranked AS (
       |  SELECT p_id, p_value, t_id, t_channel,
       |    row_number() OVER (PARTITION BY p_id
       |      ORDER BY t_ts ASC NULLS LAST, t_id ASC NULLS LAST) AS rf,
       |    row_number() OVER (PARTITION BY p_id
       |      ORDER BY t_ts DESC NULLS LAST, t_id DESC NULLS LAST) AS rl
       |  FROM j),
       |per AS (
       |  SELECT p_id, min(p_value) AS v, count(t_id) AS nt,
       |    min(CASE WHEN rf = 1 THEN t_channel END) AS fch,
       |    min(CASE WHEN rl = 1 THEN t_channel END) AS lch
       |  FROM ranked GROUP BY p_id),
       |fa AS (
       |  SELECT coalesce(fch, 'direct') AS channel,
       |    count(*) AS n_first,
       |    CAST(floor(sum(v) * 1000 + 0.5) AS BIGINT) AS first_value_q
       |  FROM per GROUP BY 1),
       |la AS (
       |  SELECT coalesce(lch, 'direct') AS channel,
       |    count(*) AS n_last,
       |    CAST(floor(sum(v) * 1000 + 0.5) AS BIGINT) AS last_value_q
       |  FROM per GROUP BY 1),
       |ln AS (
       |  SELECT coalesce(j.t_channel, 'direct') AS channel,
       |    CAST(floor(sum(j.p_value / greatest(p.nt, 1)) * 1000 + 0.5)
       |      AS BIGINT) AS linear_value_q
       |  FROM j JOIN per p USING (p_id) GROUP BY 1)
       |SELECT channel,
       |  coalesce(n_first, 0) AS n_first,
       |  coalesce(n_last, 0) AS n_last,
       |  coalesce(first_value_q, 0) AS first_value_q,
       |  coalesce(last_value_q, 0) AS last_value_q,
       |  coalesce(linear_value_q, 0) AS linear_value_q
       |FROM fa FULL OUTER JOIN la USING (channel)
       |FULL OUTER JOIN ln USING (channel)""".stripMargin

  // ---------------------------------------------------------------------
  // A20 — experiment readout: the two-proportion z-test every A/B
  // platform computes. Users are hash-assigned to variants (md5 of a
  // salted user_id — deterministic, repartition/append/engine-stable,
  // the text_split_assign discipline; a real platform substitutes its
  // assignment log and the plan is unchanged), the outcome is per-user
  // conversion (any purchase) plus exact-cents revenue, and the readout
  // is one row: counts, per-variant rates, the pooled z statistic, and
  // the 5% two-sided significance call.
  //
  // Scale shape: one user_id hash-agg collapses the event feed to one
  // row per user (map-side combined), then ONE global aggregate of 0/1
  // conditional sums folds both variants into a single row — no join, no
  // window, no second scan. Determinism: every aggregate is an integer
  // (counts, cents); rates are integer micro-divisions (DIV); z is one
  // closed-form double formula over those exact integers (the
  // a15_corr_stats discipline), rounded 6dp BEFORE the significance
  // compare so the flag derives from the identical double in both
  // engines.
  // ---------------------------------------------------------------------
  // conversion = a purchase of at least 50 (a high-value order): plain
  // "any purchase" saturates this feed (every user buys → p = 1, zero
  // pooled variance, z undefined)
  val abConvMinValue = 50

  /** Per-batch partial of the per-user support: conv is a MAX, cents a
    * SUM — both abelian merges, which is what makes the readout
    * incrementally maintainable (stream_ab_maintain merges these per
    * micro-batch with greatest/+ and the fixpoint equals this whole-feed
    * aggregate by commutativity).
    */
  private[graft] def abUserPartial(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= abConvMinValue, 1L).otherwise(0L))
        .as("conv"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
          .as("cents"))

  /** Arm-level exact-integer sums from the per-user support — the stage
    * every experiment readout (fixed-horizon z, the sequential e-value,
    * the maintained dashboard) folds through.
    */
  private def abArmSums(support: DataFrame): DataFrame = {
    val fns = graft.functions.TextFns
    support
      .withColumn("in_a",
        when(substring(fns.fastMd5(
          concat(lit("exp1|"), col("user_id").cast("string"))), 1, 1) < "8",
          1L).otherwise(0L))
      .agg(
        sum(col("in_a")).as("n_a"),
        sum(col("in_a") * col("conv")).as("c_a"),
        sum(col("in_a") * col("cents")).as("cents_a"),
        sum(lit(1L) - col("in_a")).as("n_b"),
        sum((lit(1L) - col("in_a")) * col("conv")).as("c_b"),
        sum((lit(1L) - col("in_a")) * col("cents")).as("cents_b"))
  }

  /** The one-row experiment readout from a per-user (user_id, conv,
    * cents) support frame — shared by the batch query and the streaming
    * maintain so the two readouts are definitionally identical (arm
    * assignment is a stateless hash of user_id, so it needs no state).
    */
  private[graft] def abReadout(support: DataFrame): DataFrame = {
    val g = abArmSums(support)
    def d(c: String) = col(c).cast("double")
    val pa = d("c_a") / d("n_a")
    val pb = d("c_b") / d("n_b")
    val p = (d("c_a") + d("c_b")) / (d("n_a") + d("n_b"))
    // z is undefined at p ∈ {0, 1} (zero pooled variance — 0/0, which
    // ANSI mode correctly refuses even for doubles) AND for an empty
    // arm (n_a or n_b = 0: pa/pb divide by zero): guard both to NULL;
    // the when() keeps the division off the degenerate branch entirely
    val z = round(when(
      col("n_a") > 0L && col("n_b") > 0L &&
        col("c_a") + col("c_b") > 0L &&
        col("c_a") + col("c_b") < col("n_a") + col("n_b"),
      (pa - pb) / sqrt(p * (lit(1.0d) - p) *
        (lit(1.0d) / d("n_a") + lit(1.0d) / d("n_b")))), 6)
    g.select(col("n_a"), col("c_a"), col("cents_a"),
      col("n_b"), col("c_b"), col("cents_b"),
      // per-arm rates NULL-guard the empty-arm edge: ANSI DIV-by-zero
      // throws while DuckDB `//` yields NULL — NULL in both is the
      // engine-agreeing readout for "no users hashed into this arm"
      expr("CASE WHEN n_a > 0 THEN (c_a * 1000000) DIV n_a END")
        .as("rate_a_ppm"),
      expr("CASE WHEN n_b > 0 THEN (c_b * 1000000) DIV n_b END")
        .as("rate_b_ppm"),
      z.as("z_conv"),
      coalesce(abs(z) > lit(1.96d), lit(false)).as("significant"))
  }

  def abTest(s: SparkSession, dir: String): DataFrame =
    abReadout(abUserPartial(Tables.load(s, dir, "events")))

  // ---------------------------------------------------------------------
  // A26 — always-valid sequential test (mSPRT, Johari et al. 2017
  // "Peeking at A/B Tests"): the fixed-horizon z of a20 is only valid
  // at ONE pre-committed look; an experimenter who peeks per day (or
  // per trigger, via stream_ab_maintain's support) inflates false
  // positives severalfold. The mixture SPRT fixes this with an e-value:
  //   Λ_n = sqrt(V_n/(V_n+τ²)) · exp(δ̂²τ² / (2·V_n·(V_n+τ²)))
  // (normal-approximation likelihood ratio mixed over a N(0, τ²) prior
  // on the effect), whose 1/Λ is a p-value valid at EVERY n
  // simultaneously — reject whenever Λ > 1/α, no α-spending schedule.
  // This is the readout a platform recomputes at every interim without
  // statistical debt; paired with the maintained per-user support it is
  // the always-on monitor done right.
  //
  // Scale shape: identical to a20 — one per-user hash-agg + one global
  // fold to a single row; no join, no window. Determinism: all inputs
  // are exact integers; log Λ is ONE closed-form double chain floored
  // to integer MICRO-units (the lm-score ln() discipline — transcendental
  // then quantize), and the reject flag compares that integer against a
  // precomputed literal threshold, so no float threshold can disagree
  // across engines. Degenerate cases (empty arm, p̄ ∈ {0,1} ⇒ V_n = 0)
  // guard to NULL exactly as a20's z does.
  // ---------------------------------------------------------------------
  /** Mixture prior scale τ² = (1%)² — the effect-size prior a
    * conversion-rate platform defaults to; a deployment tunes it to its
    * historical effect distribution.
    */
  final val msprtTau2 = "0.0001"
  /** floor(ln(1/0.05)·1e6): Λ > 20 ⇔ always-valid p < 0.05. */
  final val msprtRejectMicro = 2995732L

  // ACCEPTED RISK (the lm-score precedent): log_e_value_micro's oracle
  // equality rests on the JVM and DuckDB libm producing bit-identical
  // ln() over an identical double chain — IEEE 754 does not require
  // correctly-rounded ln, so a 1-ulp divergence landing exactly on a
  // micro-unit floor boundary would flip the column (and, at the exact
  // threshold, reject_always_valid) by 1. Every other column here is
  // exact-integer arithmetic and immune. Observed zero flips across
  // sf0.001/0.01/0.1; if one ever appears, the fix is a ±1-micro
  // tolerance for this column in the oracle checker, not a code change.
  def sequentialTest(s: SparkSession, dir: String): DataFrame = {
    val g = abArmSums(abUserPartial(Tables.load(s, dir, "events")))
    def d(c: String) = col(c).cast("double")
    val pa = d("c_a") / d("n_a")
    val pb = d("c_b") / d("n_b")
    val p = (d("c_a") + d("c_b")) / (d("n_a") + d("n_b"))
    val t2 = lit(0.0001d)
    val vn = p * (lit(1.0d) - p) *
      (lit(1.0d) / d("n_a") + lit(1.0d) / d("n_b"))
    val delta = pa - pb
    val logl = when(
      col("n_a") > 0L && col("n_b") > 0L &&
        col("c_a") + col("c_b") > 0L &&
        col("c_a") + col("c_b") < col("n_a") + col("n_b"),
      lit(0.5d) * log(vn / (vn + t2)) +
        delta * delta * t2 / (lit(2.0d) * vn * (vn + t2)))
    g.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      expr("CASE WHEN n_a > 0 THEN (c_a * 1000000) DIV n_a END")
        .as("rate_a_ppm"),
      expr("CASE WHEN n_b > 0 THEN (c_b * 1000000) DIV n_b END")
        .as("rate_b_ppm"),
      floor(logl * lit(1e6)).cast("long").as("log_e_value_micro"))
      .withColumn("reject_always_valid",
        coalesce(col("log_e_value_micro") >= msprtRejectMicro,
          lit(false)))
  }

  private lazy val sequentialTestSql = {
    val vn = s"(pbar * (1.0 - pbar) * (1.0 / n_a + 1.0 / n_b))"
    s"""WITH $abArmCtes,
       |pb AS (
       |  SELECT g.*,
       |    (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
       |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pbar
       |  FROM g),
       |lm AS (
       |  SELECT pb.*,
       |    CASE WHEN n_a > 0 AND n_b > 0
       |          AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
       |      CAST(FLOOR((0.5 * ln($vn / ($vn + $msprtTau2))
       |        + (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
       |          * (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
       |          * $msprtTau2 / (2.0 * $vn * ($vn + $msprtTau2))) * 1000000.0)
       |        AS BIGINT)
       |    END AS log_e_value_micro
       |  FROM pb)
       |SELECT n_a, c_a, n_b, c_b,
       |  CASE WHEN n_a > 0 THEN (c_a * 1000000) // n_a END AS rate_a_ppm,
       |  CASE WHEN n_b > 0 THEN (c_b * 1000000) // n_b END AS rate_b_ppm,
       |  log_e_value_micro,
       |  COALESCE(log_e_value_micro >= $msprtRejectMicro, FALSE)
       |    AS reject_always_valid
       |FROM lm""".stripMargin
  }

  // ---------------------------------------------------------------------
  // A28 — HyperLogLog distinct sketch, DETERMINISTIC and oracle-matched:
  // a1_agg_approx ships Spark's HLL++ (an estimate with no exact SQL
  // equivalent — rows-only check); this is the same sketch re-derived
  // from first principles (Flajolet et al. 2007) with an md5 register
  // hash and a PURE-INTEGER estimator, so DuckDB computes the identical
  // 32 registers and the identical estimate and the driver hash-compares
  // it like any exact query. Register hash = two 32-bit words of
  // md5('hll|' || user_id): word 1 mod 32 picks the register, the rank
  // is leading-zeros-plus-one of word 2 via an integer bit-length CASE
  // (no log2 — libm-free). The raw estimate E = α₃₂·m²/Σ2^(−M_j)
  // becomes E·1000 = (697·1024·2^33) DIV Σ2^(33−M_j): a constant
  // numerator over an exact integer sum — no doubles anywhere, no
  // small-range ln() branch (the report carries the EXACT distinct and
  // the signed error next to the estimate instead, because the point of
  // a scheduled sketch artifact is watching its error envelope; the
  // integer division stays on non-negative operands — Spark DIV
  // truncates toward zero while DuckDB // floors, so a signed quotient
  // would diverge on negative error).
  //
  // Scale shape: one codegen map (hash/register/rank) + a 32-group
  // MAX aggregate + a broadcast single-row fold — the corpus never
  // shuffles, and MAX-merged registers are abelian, so the sketch is
  // partition-parallel and stream-maintainable like the IVM family's
  // supports.
  // ---------------------------------------------------------------------
  val hllRegisterBits = 5
  /** α₃₂·m²·2^33·1000 with α₃₂ = 697/1000: the milli-scaled estimator
    * numerator 697·1024·2^33 (exact, ~6.13e15). */
  final val hllNumerMilli: Long = 697L * 1024L * 8589934592L

  /** rank = 33 − bitlen(w2) as a CASE chain over the 32-bit word —
    * identical text in both engines. */
  private def hllRankCase(w: String): String =
    (s"CASE WHEN $w = 0 THEN 33" +:
      (32 to 1 by -1).map(b =>
        s" WHEN $w >= ${1L << (b - 1)} THEN ${33 - b}").toSeq)
      .mkString("", "", " END")

  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val m = 1 << hllRegisterBits
    val fns = graft.functions.TextFns
    val ev = Tables.load(s, dir, "events").filter(col("user_id").isNotNull)
    val h = fns.fastMd5(concat(lit("hll|"), col("user_id").cast("string")))
    val hw = ev.select(
      conv(substring(h, 1, 8), 16, 10).cast("long").as("w1"),
      conv(substring(h, 9, 8), 16, 10).cast("long").as("w2"))
    val regs = hw
      .select((col("w1") % m).as("bucket"),
        expr(hllRankCase("w2")).as("rnk"))
      .groupBy(col("bucket")).agg(max(col("rnk")).as("mx"))
    val spine = s.range(0, m).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(coalesce(col("mx"), lit(0)).as("mx"))
    val fold = spine.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - mx AS INT))"))
        .cast("long").as("ssum"),
      sum(when(col("mx") === 0, 1L).otherwise(0L)).cast("long")
        .as("n_zero_registers"))
    val ex = ev.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("user_id")).as("exact_distinct"))
    fold.crossJoin(broadcast(ex))
      .select(col("n_rows"), col("exact_distinct"), col("n_zero_registers"),
        expr(s"$hllNumerMilli DIV ssum").as("est_milli"))
      .withColumn("err_abs_ppm",
        expr("(abs(est_milli - exact_distinct * 1000) * 1000000) " +
          "DIV (exact_distinct * 1000)"))
      .withColumn("over_estimate",
        col("est_milli") >= col("exact_distinct") * 1000)
  }

  private lazy val hllDistinctSql = {
    val m = 1 << hllRegisterBits
    s"""WITH hw AS (
       |  SELECT CAST('0x' || substring(h, 1, 8) AS BIGINT) AS w1,
       |         CAST('0x' || substring(h, 9, 8) AS BIGINT) AS w2
       |  FROM (SELECT md5('hll|' || CAST(user_id AS VARCHAR)) AS h
       |        FROM events WHERE user_id IS NOT NULL) x),
       |regs AS (
       |  SELECT w1 % $m AS bucket, MAX(${hllRankCase("w2")}) AS mx
       |  FROM hw GROUP BY w1 % $m),
       |spine AS (
       |  SELECT COALESCE(r.mx, 0) AS mx
       |  FROM range(0, $m) t(bucket) LEFT JOIN regs r ON r.bucket = t.bucket),
       |f AS (
       |  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - mx AS INT)) AS BIGINT)
       |           AS ssum,
       |         CAST(SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_zero_registers
       |  FROM spine),
       |ex AS (
       |  SELECT COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM events WHERE user_id IS NOT NULL),
       |est AS (
       |  SELECT ex.n_rows, ex.exact_distinct, f.n_zero_registers,
       |         $hllNumerMilli // f.ssum AS est_milli
       |  FROM f, ex)
       |SELECT n_rows, exact_distinct, n_zero_registers, est_milli,
       |  (abs(est_milli - exact_distinct * 1000) * 1000000)
       |    // (exact_distinct * 1000) AS err_abs_ppm,
       |  est_milli >= exact_distinct * 1000 AS over_estimate
       |FROM est""".stripMargin
  }

  // ---------------------------------------------------------------------
  // A29 — jackknife SE for a RATIO metric (Efron 1982; the
  // delta-vs-jackknife choice every experimentation platform makes for
  // revenue-per-conversion-style metrics): θ = Σcents/Σconv is a ratio
  // of sums, so the a20 z-machinery's per-user-mean variance doesn't
  // apply — the standard readout is leave-one-USER-out: θ₍₋ᵢ₎ =
  // (X−xᵢ)/(Y−yᵢ) per user, SE² = (m−1)/m · Σ(θ₍₋ᵢ₎ − θ̄)². Per arm.
  //
  // Determinism: each θ₍₋ᵢ₎ is quantized to integer micro-units by the
  // SAME integer division in both engines ((X−x)·10⁶ DIV (Y−y)), so
  // Σq and Σq² are exact (q² through DECIMAL(19)² = DECIMAL(38) — the
  // width-38 cap respected); the final SE is one identical double
  // chain over those exact moments, with sqrt correctly rounded by
  // IEEE in both engines, rounded to 4 dp. Users whose removal empties
  // the conversion denominator (Y−yᵢ = 0) are excluded from the
  // leave-out set — the jackknife is undefined there; m counts the
  // included leave-outs and the guard m>1 NULLs the SE on degenerate
  // arms.
  //
  // Scale shape: one user-grain hash-agg (shared abUserPartial shape),
  // one broadcast of the 2-row arm totals back onto the user grain for
  // the θ₍₋ᵢ₎ map, one 2-group fold — no corpus pass beyond a20's own.
  // ---------------------------------------------------------------------
  def jackknifeRatio(s: SparkSession, dir: String): DataFrame = {
    val fns = graft.functions.TextFns
    val pu = abUserPartial(Tables.load(s, dir, "events"))
      .withColumn("in_a",
        when(substring(fns.fastMd5(
          concat(lit("exp1|"), col("user_id").cast("string"))), 1, 1) < "8",
          1L).otherwise(0L))
    val ga = pu.groupBy(col("in_a")).agg(
      sum(col("cents")).as("x_sum"),
      sum(col("conv")).as("y_sum"),
      count(lit(1)).as("n_users"))
    val jq = pu.join(broadcast(ga), Seq("in_a"))
      .filter(col("y_sum") - col("conv") > 0)
      .select(col("in_a"),
        expr("((x_sum - cents) * 1000000) DIV (y_sum - conv)").as("q"))
    val jm = jq.groupBy(col("in_a")).agg(
      count(lit(1)).as("m"),
      sum(col("q")).as("sq"),
      sum(expr("CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))"))
        .as("sq2"))
    ga.join(jm, Seq("in_a"), "left")
      .select(
        when(col("in_a") === 1L, "A").otherwise("B").as("arm"),
        col("n_users"), col("x_sum").as("cents"), col("y_sum").as("conv"),
        expr("CASE WHEN y_sum > 0 THEN (x_sum * 1000000) DIV y_sum END")
          .as("ratio_micro"),
        expr("""CASE WHEN m > 1 AND y_sum > 0 THEN
                round(sqrt(greatest(
                  (CAST(m - 1 AS DOUBLE) / m) *
                  (CAST(sq2 AS DOUBLE)
                    - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / m),
                  0.0)), 4) END""").as("jk_se_micro"))
  }

  private lazy val jackknifeRatioSql =
    s"""WITH $abArmCtes,
       |ga AS (
       |  SELECT in_a, CAST(SUM(cents) AS BIGINT) AS x_sum,
       |         CAST(SUM(conv) AS BIGINT) AS y_sum,
       |         COUNT(*) AS n_users
       |  FROM pu GROUP BY in_a),
       |jq AS (
       |  SELECT p.in_a,
       |         ((g.x_sum - p.cents) * 1000000) // (g.y_sum - p.conv) AS q
       |  FROM pu p JOIN ga g ON g.in_a = p.in_a
       |  WHERE g.y_sum - p.conv > 0),
       |jm AS (
       |  SELECT in_a, COUNT(*) AS m, CAST(SUM(q) AS BIGINT) AS sq,
       |         SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
       |           AS sq2
       |  FROM jq GROUP BY in_a)
       |SELECT CASE WHEN g.in_a = 1 THEN 'A' ELSE 'B' END AS arm,
       |  g.n_users, g.x_sum AS cents, g.y_sum AS conv,
       |  CASE WHEN g.y_sum > 0 THEN (g.x_sum * 1000000) // g.y_sum END
       |    AS ratio_micro,
       |  CASE WHEN j.m > 1 AND g.y_sum > 0 THEN
       |    round(sqrt(greatest(
       |      (CAST(j.m - 1 AS DOUBLE) / j.m) *
       |      (CAST(j.sq2 AS DOUBLE)
       |        - CAST(j.sq AS DOUBLE) * CAST(j.sq AS DOUBLE) / j.m),
       |      0.0)), 4) END AS jk_se_micro
       |FROM ga g LEFT JOIN jm j ON j.in_a = g.in_a""".stripMargin

  /** The per-user + arm-sum CTEs shared by the fixed-horizon readout
    * and the sequential e-value — one definition, two oracles.
    */
  private lazy val abArmCtes =
    s"""pu AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value >= $abConvMinValue
      |        THEN 1 ELSE 0 END) AS conv,
      |    SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS cents,
      |    CASE WHEN substring(md5('exp1|' || CAST(user_id AS VARCHAR)), 1, 1)
      |           < '8' THEN 1 ELSE 0 END AS in_a
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT
      |    CAST(SUM(in_a) AS BIGINT) AS n_a,
      |    CAST(SUM(in_a * conv) AS BIGINT) AS c_a,
      |    CAST(SUM(in_a * cents) AS BIGINT) AS cents_a,
      |    CAST(SUM(1 - in_a) AS BIGINT) AS n_b,
      |    CAST(SUM((1 - in_a) * conv) AS BIGINT) AS c_b,
      |    CAST(SUM((1 - in_a) * cents) AS BIGINT) AS cents_b
      |  FROM pu)""".stripMargin

  private[graft] lazy val abTestSql =
    s"""WITH $abArmCtes,
      |zc AS (
      |  SELECT *,
      |    CASE WHEN n_a > 0 AND n_b > 0
      |          AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
      |      round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
      |        / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
      |               * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
      |               * (1.0 / n_a + 1.0 / n_b)), 6)
      |    END AS z_conv
      |  FROM g)
      |SELECT n_a, c_a, cents_a, n_b, c_b, cents_b,
      |  CASE WHEN n_a > 0 THEN (c_a * 1000000) // n_a END AS rate_a_ppm,
      |  CASE WHEN n_b > 0 THEN (c_b * 1000000) // n_b END AS rate_b_ppm,
      |  z_conv,
      |  COALESCE(abs(z_conv) > 1.96, FALSE) AS significant
      |FROM zc""".stripMargin

  // ---------------------------------------------------------------------
  // A21 — difference-in-differences: the causal readout for a rollout
  // where assignment correlates with time — (post − pre) in the
  // treatment arm minus (post − pre) in control nets out both the
  // arm-level base difference and the shared time trend. Arms reuse the
  // a20 hash assignment (one experiment, two readouts); the period
  // boundary is the feed's timestamp midpoint ((min+max) DIV 2 epoch
  // micros — exact integers, engine-identical); the outcome is mean
  // purchase value in exact milli-cents.
  //
  // Scale shape: the cutoff is a single-row broadcast cross (the scalar
  // shape the audit whitelists), then ONE conditional-sum aggregate
  // folds all four (arm, period) cells into a single row — the event
  // feed is scanned once, no join, no window. Determinism: cell sums
  // and counts are integers; each cell mean is one integer DIV
  // (empty-cell-guarded to NULL, which propagates into the estimate);
  // the DiD estimate is integer arithmetic on those means.
  // ---------------------------------------------------------------------
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val fns = graft.functions.TextFns
    val bounds = Tables.load(s, dir, "events")
      .agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("cutoff"))
    val p = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .crossJoin(broadcast(bounds))
      .select(
        when(substring(fns.fastMd5(
          concat(lit("exp1|"), col("user_id").cast("string"))), 1, 1) < "8",
          1L).otherwise(0L).as("a"),
        when(unix_micros(col("ts")) >= col("cutoff"), 1L).otherwise(0L)
          .as("post"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    def cell(f: org.apache.spark.sql.Column, n: String) = Seq(
      sum(f).as(s"n_$n"), sum(f * col("cents")).as(s"cents_$n"))
    val cells =
      cell(col("a") * (lit(1L) - col("post")), "pre_a") ++
        cell(col("a") * col("post"), "post_a") ++
        cell((lit(1L) - col("a")) * (lit(1L) - col("post")), "pre_b") ++
        cell((lit(1L) - col("a")) * col("post"), "post_b")
    val g = p.agg(cells.head, cells.tail: _*)
    def mean(n: String) = when(col(s"n_$n") > 0,
      expr(s"(cents_$n * 1000) DIV n_$n"))
    g.select(col("n_pre_a"), col("n_post_a"), col("n_pre_b"),
      col("n_post_b"),
      mean("pre_a").as("mean_pre_a_mc"), mean("post_a").as("mean_post_a_mc"),
      mean("pre_b").as("mean_pre_b_mc"), mean("post_b").as("mean_post_b_mc"),
      ((mean("post_a") - mean("pre_a")) - (mean("post_b") - mean("pre_b")))
        .as("did_mc"))
  }

  private lazy val diffInDiffSql =
    """WITH bounds AS (
      |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS cutoff
      |  FROM events),
      |pch AS (
      |  SELECT
      |    CASE WHEN substring(md5('exp1|' || CAST(user_id AS VARCHAR)), 1, 1)
      |           < '8' THEN 1 ELSE 0 END AS a,
      |    CASE WHEN epoch_us(ts) >= b.cutoff THEN 1 ELSE 0 END AS post,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events, bounds b WHERE event_type = 'purchase'),
      |g AS (
      |  SELECT
      |    CAST(SUM(a * (1 - post)) AS BIGINT) AS n_pre_a,
      |    CAST(SUM(a * (1 - post) * cents) AS BIGINT) AS cents_pre_a,
      |    CAST(SUM(a * post) AS BIGINT) AS n_post_a,
      |    CAST(SUM(a * post * cents) AS BIGINT) AS cents_post_a,
      |    CAST(SUM((1 - a) * (1 - post)) AS BIGINT) AS n_pre_b,
      |    CAST(SUM((1 - a) * (1 - post) * cents) AS BIGINT) AS cents_pre_b,
      |    CAST(SUM((1 - a) * post) AS BIGINT) AS n_post_b,
      |    CAST(SUM((1 - a) * post * cents) AS BIGINT) AS cents_post_b
      |  FROM pch),
      |m AS (
      |  SELECT n_pre_a, n_post_a, n_pre_b, n_post_b,
      |    CASE WHEN n_pre_a > 0 THEN (cents_pre_a * 1000) // n_pre_a END
      |      AS mean_pre_a_mc,
      |    CASE WHEN n_post_a > 0 THEN (cents_post_a * 1000) // n_post_a END
      |      AS mean_post_a_mc,
      |    CASE WHEN n_pre_b > 0 THEN (cents_pre_b * 1000) // n_pre_b END
      |      AS mean_pre_b_mc,
      |    CASE WHEN n_post_b > 0 THEN (cents_post_b * 1000) // n_post_b END
      |      AS mean_post_b_mc
      |  FROM g)
      |SELECT n_pre_a, n_post_a, n_pre_b, n_post_b,
      |  mean_pre_a_mc, mean_post_a_mc, mean_pre_b_mc, mean_post_b_mc,
      |  (mean_post_a_mc - mean_pre_a_mc) - (mean_post_b_mc - mean_pre_b_mc)
      |    AS did_mc
      |FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // A22 — sample-ratio mismatch (SRM): the experiment-health guardrail
  // that runs BEFORE any readout is believed. Under the 50/50 hash
  // assignment the arm counts are binomial; the 1-dof chi-square against
  // the expected split is χ² = (n_a − n_b)²/N, and χ² > 3.84146 (5%)
  // flags an assignment pipeline bug (biased hashing, lossy logging,
  // variant-correlated crashes) that silently invalidates a20/a21. A
  // flagged SRM means "debug the pipeline", not "ship the result".
  //
  // Scale shape: one per-user hash-agg + one global fold to a single
  // row (the a20 plan minus the outcome columns). Determinism: χ² in
  // exact integer micro-units ((n_a−n_b)²·10⁶ DIV N); the flag is the
  // cross-multiplied integer compare (n_a−n_b)²·100000 > 384146·N in
  // DECIMAL(38,0) — no float thresholds anywhere.
  // ---------------------------------------------------------------------
  def srmCheck(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val fns = graft.functions.TextFns
    val perUser = Tables.load(s, dir, "events")
      .select(col("user_id")).distinct()
      .select(when(substring(fns.fastMd5(
        concat(lit("exp1|"), col("user_id").cast("string"))), 1, 1) < "8",
        1L).otherwise(0L).as("in_a"))
    val g = perUser.agg(sum(col("in_a")).as("n_a"),
      sum(lit(1L) - col("in_a")).as("n_b"))
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
    val diff = col("n_a") - col("n_b")
    // the flag's product is split (diff·100)·(diff·1000) so each factor
    // stays DECIMAL(19) and the product DECIMAL(38) in BOTH engines
    // (DuckDB rejects a three-way decimal multiply past width 38);
    // chi2_micro's BIGINT intermediate diff²·10⁶ is in range for
    // |diff| ≤ 3·10⁶ — any real SRM long past glaring — while the FLAG
    // uses the overflow-safe decimal form at any count
    g.select(col("n_a"), col("n_b"),
      expr("((n_a - n_b) * (n_a - n_b) * 1000000) DIV (n_a + n_b)")
        .as("chi2_micro"),
      (dec(diff * lit(100L)) * dec(diff * lit(1000L)) >
        dec(lit(384146L)) * dec(col("n_a") + col("n_b"))).as("srm"))
  }

  private lazy val srmCheckSql =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |pu AS (
      |  SELECT CASE WHEN substring(md5('exp1|' || CAST(user_id AS VARCHAR)),
      |           1, 1) < '8' THEN 1 ELSE 0 END AS in_a
      |  FROM u),
      |g AS (
      |  SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
      |         CAST(SUM(1 - in_a) AS BIGINT) AS n_b
      |  FROM pu)
      |SELECT n_a, n_b,
      |  ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) AS chi2_micro,
      |  CAST((n_a - n_b) * 100 AS DECIMAL(19,0))
      |    * CAST((n_a - n_b) * 1000 AS DECIMAL(19,0))
      |    > CAST(384146 AS DECIMAL(19,0)) * CAST(n_a + n_b AS DECIMAL(19,0))
      |    AS srm
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // A24 — CUPED variance reduction (Deng et al. 2013, "Improving the
  // Sensitivity of Online Controlled Experiments"): adjust each user's
  // experiment-period metric by their PRE-period metric,
  //   Y'_i = Y_i − θ(X_i − mean(X)),  θ = cov(X,Y)/var(X),
  // which preserves the treatment-effect estimate (assignment is
  // independent of X) while cutting metric variance by exactly
  // corr(X,Y)² — the standard way an A/B platform reaches significance
  // with weeks less data. Periods reuse a21's feed-midpoint cutoff and
  // the arms reuse the a20 hash assignment.
  //
  // Scale shape: ONE per-user hash-agg (pre/post cents as conditional
  // sums) then ONE global conditional-moment fold — nine integer sums in
  // a single row; no join, no window, the corpus read once. Every moment
  // is exact (cents in DECIMAL(38) cross-products, the a15_corr_stats
  // discipline); θ, the adjusted means, and the variance reduction are
  // closed-form doubles over those integers, rounded 6dp, with
  // zero-variance denominators when()-guarded to NULL (ANSI discipline).
  // Arm-level adjusted means need only arm-level sums:
  //   mean(Y'_arm) = meanY_arm − θ·(meanX_arm − meanX_all).
  // ---------------------------------------------------------------------
  def cuped(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val fns = graft.functions.TextFns
    val bounds = Tables.load(s, dir, "events")
      .agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("cutoff"))
    val perUser = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(
        sum(when(unix_micros(col("ts")) < col("cutoff"),
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("x"),
        sum(when(unix_micros(col("ts")) >= col("cutoff"),
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("y"))
      .withColumn("in_a",
        when(substring(fns.fastMd5(
          concat(lit("exp1|"), col("user_id").cast("string"))), 1, 1) < "8",
          1L).otherwise(0L))
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
    val g = perUser.agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"),
      sum(col("in_a")).as("n_a"),
      sum(col("in_a") * col("x")).as("sx_a"),
      sum(col("in_a") * col("y")).as("sy_a"))
    def d(c: String) = col(c).cast("double")
    val covN = d("n") * d("sxy") - d("sx") * d("sy") // n²·cov
    val varXN = d("n") * d("sxx") - d("sx") * d("sx") // n²·var(X)
    val varYN = d("n") * d("syy") - d("sy") * d("sy")
    // guard compares the SAME doubles both engines divide by — a decimal
    // guard could disagree with the double division at the rounding edge
    val theta = when(d("sxx") * d("n") =!= d("sx") * d("sx"), covN / varXN)
    val nB = d("n") - d("n_a")
    // empty-arm guards (n_a = 0 or n_a = n): the arm means divide by a
    // zero double, which ANSI Spark throws on while DuckDB returns NULL
    // — when()-guard so both engines emit NULL for the missing arm
    val aOk = col("n_a") > 0L
    val bOk = col("n") > col("n_a")
    val meanYa = when(aOk, d("sy_a") / d("n_a"))
    val meanYb = when(bOk, (d("sy") - d("sy_a")) / nB)
    val meanXall = d("sx") / d("n")
    val adjA = when(aOk, d("sy_a") / d("n_a") -
      theta * (d("sx_a") / d("n_a") - meanXall))
    val adjB = when(bOk, (d("sy") - d("sy_a")) / nB -
      theta * ((d("sx") - d("sx_a")) / nB - meanXall))
    g.select(col("n").cast("long").as("n_users"),
      col("n_a").cast("long").as("n_a"),
      round(theta, 6).as("theta"),
      round(when(varYN > 0, covN * covN / (varXN * varYN)), 6)
        .as("var_reduction"),
      round(meanYa, 6).as("mean_y_a_cents"),
      round(meanYb, 6).as("mean_y_b_cents"),
      round(adjA, 6).as("adj_y_a_cents"),
      round(adjB, 6).as("adj_y_b_cents"),
      round(adjA - adjB, 6).as("adj_effect_cents"))
  }

  private lazy val cupedSql = {
    val covN = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val varXN = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val varYN = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    val theta = s"CASE WHEN CAST(sxx AS DOUBLE) * n <> CAST(sx AS DOUBLE) * sx THEN $covN / $varXN END"
    // empty-arm CASE guards mirror the Spark when(): arm means are NULL
    // (not a zero-division) when n_a = 0 or n_a = n
    val adjA = s"CASE WHEN n_a > 0 THEN CAST(sy_a AS DOUBLE) / n_a - ($theta) * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx AS DOUBLE) / n) END"
    val adjB = s"CASE WHEN n > n_a THEN (CAST(sy AS DOUBLE) - sy_a) / (CAST(n AS DOUBLE) - n_a) - ($theta) * ((CAST(sx AS DOUBLE) - sx_a) / (CAST(n AS DOUBLE) - n_a) - CAST(sx AS DOUBLE) / n) END"
    s"""WITH bounds AS (
       |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS cutoff
       |  FROM events),
       |pu AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN epoch_us(ts) < b.cutoff
       |      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN epoch_us(ts) >= b.cutoff
       |      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS y,
       |    CASE WHEN substring(md5('exp1|' || CAST(user_id AS VARCHAR)), 1, 1)
       |           < '8' THEN 1 ELSE 0 END AS in_a
       |  FROM events, bounds b WHERE event_type = 'purchase'
       |  GROUP BY user_id),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CAST(x AS DECIMAL(19,0))) AS sx,
       |    SUM(CAST(y AS DECIMAL(19,0))) AS sy,
       |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
       |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
       |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
       |    CAST(SUM(in_a) AS BIGINT) AS n_a,
       |    CAST(SUM(in_a * x) AS BIGINT) AS sx_a,
       |    CAST(SUM(in_a * y) AS BIGINT) AS sy_a
       |  FROM pu)
       |SELECT CAST(n AS BIGINT) AS n_users, n_a,
       |  round($theta, 6) AS theta,
       |  round(CASE WHEN $varYN > 0
       |    THEN $covN * $covN / ($varXN * $varYN) END, 6) AS var_reduction,
       |  round(CASE WHEN n_a > 0 THEN CAST(sy_a AS DOUBLE) / n_a END, 6)
       |    AS mean_y_a_cents,
       |  round(CASE WHEN n > n_a THEN (CAST(sy AS DOUBLE) - sy_a)
       |      / (CAST(n AS DOUBLE) - n_a) END, 6)
       |    AS mean_y_b_cents,
       |  round($adjA, 6)
       |    AS adj_y_a_cents,
       |  round($adjB, 6)
       |    AS adj_y_b_cents,
       |  round(($adjA)
       |    - ($adjB), 6)
       |    AS adj_effect_cents
       |FROM g""".stripMargin
  }

  // ---------------------------------------------------------------------
  // A25 — power analysis / sample-size planning: BEFORE an experiment
  // runs, how many users per arm does each minimum-detectable-effect
  // need at α = 5% (two-sided) and 80% power? The standard two-
  // proportion approximation n = 2(z_{α/2}+z_β)²·p̄(1−p̄)/δ² over the
  // corpus's OWN baseline rate (the same high-value-purchase conversion
  // a20 reads out), swept over a relative-MDE grid. `feasible` answers
  // the planning question directly: can THIS population power THAT
  // effect at all.
  //
  // Scale shape: one per-user hash-agg + one global fold to a single
  // (converted, users) row, then a literal-grid explode — pure
  // arithmetic on one row, |grid| output rows at any corpus size.
  // Determinism: p̂ from exact integers; z constants are shared
  // literals; n_per_arm = ceil of one closed-form double both engines
  // evaluate identically; δ = 0 guards to NULL.
  // ---------------------------------------------------------------------
  final val powerMdeGrid = Seq(0.01, 0.02, 0.05, 0.10, 0.20)
  final val powerZAlpha = 1.959964 // two-sided 5%
  final val powerZBeta = 0.841621 // 80% power

  def powerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val fns = graft.functions.TextFns
    val base = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= abConvMinValue, 1L).otherwise(0L)).as("conv"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val p = col("c").cast("double") / col("n").cast("double")
    val delta = p * col("mde_rel")
    val zsum = lit(powerZAlpha + powerZBeta)
    val nArm = ceil(lit(2.0d) * zsum * zsum * p * (lit(1.0d) - p) /
      (delta * delta)).cast("long")
    base.select(col("n"), col("c"),
        explode(array(powerMdeGrid.map(lit): _*)).as("mde_rel"))
      .select(col("n").as("n_users"), col("c").as("n_converted"),
        col("mde_rel"),
        round(delta, 6).as("delta_abs"),
        when(delta > 0, nArm).as("n_per_arm"),
        when(delta > 0, nArm * 2 <= col("n")).as("feasible"))
  }

  private lazy val powerAnalysisSql = {
    val zsum = powerZAlpha + powerZBeta
    val p = "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    val delta = s"($p * mde_rel)"
    val nArm = s"CAST(ceil(2.0 * $zsum * $zsum * $p * (1.0 - $p) / ($delta * $delta)) AS BIGINT)"
    s"""WITH pu AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase' AND value >= $abConvMinValue
       |        THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |b AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c FROM pu),
       |grid(mde_rel) AS (VALUES ${
             powerMdeGrid.map(m => s"(CAST($m AS DOUBLE))").mkString(", ")})
       |SELECT b.n AS n_users, b.c AS n_converted, g.mde_rel,
       |  round($delta, 6) AS delta_abs,
       |  CASE WHEN $delta > 0 THEN $nArm END AS n_per_arm,
       |  CASE WHEN $delta > 0 THEN $nArm * 2 <= b.n END AS feasible
       |FROM b, grid g""".stripMargin
  }

  override val ops: Seq[Op] = Seq(
    Op("a25_power_analysis", powerAnalysis, Some(powerAnalysisSql),
      "sample-size planning: users-per-arm for a relative-MDE grid from the corpus's own baseline rate, one closed-form ceil per row"),
    Op("a24_cuped", cuped, Some(cupedSql),
      "CUPED variance reduction: pre-period covariate adjustment from one conditional-moment row; theta/adjusted means closed-form over exact decimal moments"),
    Op("a22_srm_check", srmCheck, Some(srmCheckSql),
      "sample-ratio-mismatch guardrail: 1-dof chi-square of the arm split in exact integer micro-units, cross-multiplied 5% flag"),
    Op("a21_diff_in_diff", diffInDiff, Some(diffInDiffSql),
      "difference-in-differences over the hash arms and the feed-midpoint period split: exact integer cell means, null-guarded empty cells"),
    Op("a20_ab_test", abTest, Some(abTestSql),
      "experiment readout: hash-assigned variants, exact integer counts/cents, pooled two-proportion z in one closed-form double"),
    Op("a29_jackknife_ratio", jackknifeRatio, Some(jackknifeRatioSql),
      "leave-one-user-out SE for the ratio metric cents/conversion per arm (Efron): theta_minus_i in integer micro-units, exact DECIMAL(38) moments, one shared double chain for the SE"),
    Op("a28_hll_distinct", hllDistinct, Some(hllDistinctSql),
      "deterministic HyperLogLog: md5 registers + integer bit-length ranks + a pure-integer estimator, exact distinct and error envelope in the same row"),
    Op("a26_sequential_test", sequentialTest, Some(sequentialTestSql),
      "always-valid sequential test (mSPRT e-value): log-Lambda in integer micro-units over the same arm sums as a20 - peek at every interim with no alpha-spending; reject vs a precomputed integer threshold"),
    Op("a19_attribution", attribution, Some(attributionSql),
      "multi-touch attribution (first/last/linear) over the 7-day lookback, one user-keyed join"),
    Op("a18_interval_overlap", intervalOverlap, Some(intervalOverlapSql),
      "same-patient overlapping-stay QA: patient-keyed interval self-join, overlap as residual"),
    Op("a16_event_paths", eventPaths, Some(eventPathsSql),
      "path discovery: top 3-step event-type sequences via two leads in one window pass"),
    Op("a17_markov_transitions", markovTransitions, Some(markovTransitionsSql),
      "event-type Markov transition matrix with exact-count probabilities"),
    Op("a15_corr_stats", corrStats, Some(corrStatsSql),
      "corr/regr_slope/regr_intercept from exact integer moments: engine- and order-stable"),
    Op("a13_funnel", funnel, Some(funnelSql),
      "3-stage funnel via conditional MIN per stage: one user_id partitioning reused, no event self-join pairs"),
    Op("a14_retention_cohorts", retentionCohorts, Some(retentionCohortsSql),
      "retention cohorts: (user, week) distinct collapses the feed before the cohort join"))
}
