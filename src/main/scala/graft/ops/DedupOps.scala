package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline over
  * `documents`: exact (hash group-by), MinHash+LSH banding, SimHash,
  * n-gram Jaccard on LSH candidates.
  *
  * Scale design (100 TB): exact dedup is one shuffle on the content hash;
  * MinHash banding turns all-pairs O(N²) into a shuffle on (band, sig)
  * where only bucket-mates join — the self-join runs on the exploded
  * band table, never the corpus. Jaccard verification touches only LSH
  * candidate pairs. Signatures are md5-based so the DuckDB oracle
  * reproduces them exactly (no murmur3 in DuckDB).
  */
object DedupOps extends OpGroup {

  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  val numHashes = 8
  val numBands = 4 // 4 bands × 2 rows — high recall for near-dups

  // ---------------------------------------------------------------------
  // Exact dedup: group by content hash, keep the smallest doc_id.
  // ---------------------------------------------------------------------
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(fastMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("copies"))

  private val exactDedupSql =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ---------------------------------------------------------------------
  // MinHash + LSH banding: shingle → minhash(8) → 4 bands of 2 →
  // candidate pairs sharing any band signature.
  //
  // Shape matters at scale: shingles are EXPLODED and min-aggregated
  // (partial map-side combine, codegen'd projections) rather than folded
  // with nested array lambdas — higher-order functions evaluate
  // interpreted, and per-(seed × shingle) md5 calls made the lambda
  // version ~20× slower. ONE md5 per shingle yields 32 hex chars,
  // carved into eight 4-char lanes; the lexicographic MIN of a lane is
  // a uniform 16-bit MinHash (two digests with 8-char lanes measured 2×
  // the hash cost for no recall gain at these band sizes).
  // ---------------------------------------------------------------------
  /** Exploded word-3-gram shingles as (doc_id, x) rows. Overlapping
    * trigrams are pulled straight from the whitespace-normalized text by
    * a zero-width lookahead regex (`(?<![^ ])` anchors each match at a
    * word start), so generation is one narrow codegen'd pass — no array
    * lambdas (`transform(sequence, slice ...)` evaluates interpreted,
    * ~3 s at sf0.1 on its own) and no doc-partitioned window shuffle.
    * Docs shorter than 3 words contribute their whole text as one
    * shingle (same rule as the oracle's list_transform slice).
    */
  private[graft] def shingleRows(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "dedupShingleRows") {
      val d = docs(s, dir)
      val tri = d.select(col("doc_id"),
        explode(overlappingTrigrams(col("text"))).as("x"))
      val short = d.filter(size(tokens(col("text"))) < 3)
        .select(col("doc_id"),
          concat_ws(" ", tokens(col("text"))).as("x"))
      tri.unionByName(short).cache()
    }

  private def bandTable(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "dedupBandTable") {
      val sh = shingleRows(s, dir)
        .select(col("doc_id"), fastMd5(col("x")).as("h"))
      val lanes = (0 until numHashes).map { i =>
        min(substring(col("h"), i * 4 + 1, 4)).as(s"mh$i")
      }
      val mh = sh.groupBy(col("doc_id")).agg(lanes.head, lanes.tail: _*)
      val rows = numHashes / numBands
      val bands = (0 until numBands).map { b =>
        struct(lit(b).as("band"),
          fastMd5(concat((0 until rows).map(r => col(s"mh${b * rows + r}")): _*))
            .as("sig"))
      }
      // sized for materialization: numBands rows × ~60 B per doc ≈ 2×
      // the parquet doc bytes; consumers forward into (band, sig)
      // shuffles, so the scan stages carry no compute worth 32 tasks
      Parts.sized(
        mh.select(col("doc_id"), explode(array(bands: _*)).as("bs"))
          .select(col("doc_id"), col("bs.band").as("band"),
            col("bs.sig").as("sig")),
        Parts.sourceBytes(s, dir, "documents") * 2)
        .cache() // shared by minhash_lsh, ngram_jaccard, survivors
    }

  /** Skew guard: a degenerate band signature (near-empty docs, boilerplate)
    * puts B docs in one bucket and the self-join emits B² pairs — the
    * classic LSH skew failure at scale. Buckets larger than this cap are
    * dropped entirely (standard practice: such buckets carry no
    * discriminating signal, and their members still pair up via their
    * other numBands-1 band signatures when genuinely similar).
    */
  val hotBucketCap = 64

  private def cappedBands(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "dedupCappedBands") {
      val b = bandTable(s, dir)
      val ok = b.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") <= hotBucketCap)
        .drop("_bn")
      // same size class as bandTable (a ≤1:1 filter of it)
      Parts.sized(b.join(ok, Seq("band", "sig")),
        Parts.sourceBytes(s, dir, "documents") * 2).cache()
    }

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val b = cappedBands(s, dir)
    val a = b.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val c = b.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    a.join(c, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  // ---------------------------------------------------------------------
  // Dedup-index quality report: precision AND recall of the MinHash-LSH
  // candidate set against EXHAUSTIVE exact-Jaccard truth on a
  // deterministic doc sample — the ANN family's recall-report
  // discipline applied to the dedup index. dedup_lsh_curve reads
  // sensitivity per collided-band count but can only see pairs that
  // COLLIDED, so a systematic false-negative class (near-dups that
  // never share a band) is invisible to it; exhaustive truth on a
  // bounded sample is the only way to measure recall, and |sample| is
  // the budget knob (a deployment labels a fixed-size sample per index
  // generation — [[qualitySampleBudget]] docs, the modulus derived
  // from corpus size like seedBitsFor/shardsFor, so the sample is a
  // BUDGET, not a share that grows to 25 TB at 100 TB). Truth pairs
  // come from a shingle co-occurrence equi-join, NOT a sample
  // cross-join — a pair sharing zero shingles has J = 0 < τ by
  // definition, so the equi-join enumerates every nonzero-J pair.
  // Fan-out is bounded by [[truthShingleCap]]: a shingle shared by d
  // docs contributes d² join rows, so stopword-grade shingles (CORPUS
  // df > cap — the corpus-level [[cappedShingleRows]] table the capped
  // curve also reads, so both quality readouts grade one truth
  // definition) are dropped from the truth universe the way
  // cappedBands drops hot band buckets — truth becomes "Jaccard over
  // the discriminating-shingle universe", the same estimator a web
  // deployment labels (a capped shingle's pairs are J-diluted by the
  // hitter's own ubiquity). All comparisons integer: the τ = 0.8 gate
  // is the cross-multiplied rational ∩·5 ≥ ∪·4 (no float J, no DIV
  // truncation at the boundary); P, R, F1 land in ppm by integer
  // division, with F1 = 2h/(c+t) so no P·R float product.
  // ---------------------------------------------------------------------
  val qualitySampleBudget = 1250L

  /** Heavy-hitter guard for the exhaustive-truth join: max sample doc
    * frequency a shingle may have and still enter the truth universe.
    * Same scale discipline (and same value class) as [[hotBucketCap]].
    */
  val truthShingleCap = 64L

  private[graft] def qualitySampleModFor(nDocs: Long, budget: Long): Long =
    math.max(1L, nDocs / budget)

  /** Truth universe as bounded per-shingle doc groups: collect at most
    * cap+1 doc_ids per shingle with the [[graft.expressions.BoundedTopK]]
    * partial heap — a hot shingle's doc list never materializes beyond
    * cap+1 entries on any mapper, even at 100 TB — and drop groups that
    * overflow the cap. Requires distinct (doc_id, x) input (the heap
    * would hold duplicates).
    */
  private[graft] def cappedSampleGroups(sample: DataFrame): DataFrame =
    sample.groupBy(col("x"))
      .agg(graft.expressions.BoundedTopK
        .topK(col("doc_id"), col("doc_id"), truthShingleCap.toInt + 1)
        .as("top"))
      .filter(size(col("top")) <= truthShingleCap)
      .select(col("x"), col("top.id").as("ds"))

  /** Truth universe as rows: (doc_id, x) whose shingle's doc frequency
    * WITHIN THE GIVEN FRAME is ≤ [[truthShingleCap]] — the d² fan-out
    * bound.
    */
  private[graft] def cappedTruthSample(sample: DataFrame): DataFrame =
    cappedSampleGroups(sample)
      .select(explode(col("ds")).as("doc_id"), col("x"))

  /** THE truth universe both dedup-quality readouts read (memoized):
    * distinct (doc_id, x) rows whose shingle's CORPUS doc frequency is
    * ≤ [[truthShingleCap]]. "Stopword" is a property of the corpus,
    * not of whichever sample happens to be labeled — and a corpus-df
    * cap is a fortiori a sample-df cap, so the d² truth-join bound
    * holds for any sample drawn from this table.
    */
  private[graft] def cappedShingleRows(s: SparkSession,
      dir: String): DataFrame =
    Memo.of(s, dir, "dedupCappedShingleRows") {
      // Sized for materialization (Parts): the capped universe is ~8×
      // the parquet document bytes ((doc_id, shingle-string) rows,
      // overlapping trigrams triplicate the text), and its consumers
      // (the sample filter, the truth group-by's map side) are
      // forwarding work — r14 measured 32 fixed-size tasks per scan
      // stage costing more than the scanned data on frames this small.
      Parts.sized(
        cappedTruthSample(
          shingleRows(s, dir).select(col("doc_id"), col("x")).distinct()),
        Parts.sourceBytes(s, dir, "documents") * 8)
        .cache()
    }

  /** Pair counts from capped groups: both explodes are IN-ROW on the
    * ≤cap-element array (≤ cap² narrow rows per shingle, no shuffle
    * until the pair agg), replacing the x-keyed self-join that shuffled
    * the sample twice.
    */
  private def truthIntersectionsFromGroups(groups: DataFrame): DataFrame =
    groups.select(col("ds"))
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("cap"))

  /** Shingle co-occurrence counts over the capped truth universe — the
    * frame whose row count the heavy-hitter spec pins as bounded.
    */
  private[graft] def truthIntersections(capped: DataFrame): DataFrame =
    truthIntersectionsFromGroups(
      capped.groupBy(col("x")).agg(collect_list(col("doc_id")).as("ds")))

  private def truthGate(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .filter(col("cap") * 5 >= (col("na") + col("nb") - col("cap")) * 4)
      .select(col("doc_a"), col("doc_b"))

  /** τ-gated truth pairs over the capped universe (sizes and
    * intersections from the SAME capped set, so J is consistent).
    */
  private[graft] def truthPairsFromCapped(capped: DataFrame): DataFrame =
    truthGate(truthIntersections(capped),
      capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))

  def qualityReport(s: SparkSession, dir: String): DataFrame =
    qualityReportAt(qualitySampleBudget)(s, dir)

  /** Budget twin (125-doc budget → a different modulus at every sf):
    * pins that the truth-join plan SHAPE is invariant to the sample
    * dial, the `_s16` discipline applied to the quality report.
    */
  def qualityReportB125(s: SparkSession, dir: String): DataFrame =
    qualityReportAt(125L)(s, dir)

  /** Corpus doc count for the budget→modulus derivation — one bounded
    * driver scalar, the IVF-centroid discipline; memoized so
    * re-CONSTRUCTING the report plan (Verify runs two budgets; specs
    * explain it repeatedly) doesn't re-run the job.
    */
  private[graft] def docCount(s: SparkSession, dir: String): Long =
    Memo.of(s, dir, "dedupDocCount")(docs(s, dir).count())

  /** The report's shingle sample: the corpus-capped universe's rows
    * whose doc_id is a multiple of the budget's modulus. Memoized per
    * (session, dir, budget) and materialized at build: groups, sizes and
    * the gate reference it from four plan branches, and without a
    * materialized sample each branch re-scans the FULL corpus-capped
    * universe to re-apply the 1/mod filter (measured r13: 4 stages ×
    * ~10 task-sec re-reading the multi-million-row cache to emit a
    * ~30k-row sample). At 100 TB the sample is budget-bounded while the
    * universe is corpus-sized — the re-scan is exactly the cost class
    * the budget exists to avoid. Sized by `Parts` from the budget: the
    * sample is budget-bounded BY CONTRACT (≤ budget docs × ~52 shingle
    * rows × ~30 B at every scale factor — the modulus grows with the
    * corpus), so inheriting the universe's partitioning would give every
    * downstream sample scan one task per universe partition. A full
    * repartition (not coalesce) keeps the universe-side filter scan at
    * the universe's own parallelism.
    */
  private[graft] def qualitySample(s: SparkSession, dir: String,
      budget: Long): DataFrame =
    Memo.of(s, dir, s"dedupQualitySample.$budget") {
      val mod = qualitySampleModFor(docCount(s, dir), budget)
      val sample = Parts.sized(
        cappedShingleRows(s, dir).filter(col("doc_id") % mod === 0L),
        budget * 1600L).cache()
      sample.count()
      sample
    }

  private def qualityReportAt(budget: Long)(
      s: SparkSession, dir: String): DataFrame = {
    val mod = qualitySampleModFor(docCount(s, dir), budget)
    // Sample FROM the corpus-capped universe: no second (sample-df)
    // cap — the corpus cap already bounds every group at ≤ cap docs,
    // and it is the definition the capped curve shares.
    val sample = qualitySample(s, dir, budget)
    val groups = sample.groupBy(col("x"))
      .agg(collect_list(col("doc_id")).as("ds"))
    val sizes = sample.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val truth = truthGate(truthIntersectionsFromGroups(groups), sizes)
    val cand = minhashLsh(s, dir)
      .filter(col("doc_a") % mod === 0L &&
        col("doc_b") % mod === 0L)
    val nd = sizes.agg(count(lit(1)).as("n_sample_docs"))
    // One full-outer pass computes all three pair counters: the earlier
    // four-scalar-counter spelling evaluated the truth subtree twice and
    // the candidate subtree twice (and raced all four broadcast futures
    // over the shared shingle scan — 7 corpus passes measured at 10×).
    val counts = truth.select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      .join(cand.select(col("doc_a"), col("doc_b"), lit(1L).as("c")),
        Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("t")).as("n_truth"),
        count(col("c")).as("n_candidates"),
        count(when(col("t").isNotNull && col("c").isNotNull, lit(1)))
          .as("n_hits"))
    nd.crossJoin(broadcast(counts))
      .select(col("n_sample_docs"), col("n_truth"), col("n_candidates"),
        col("n_hits"),
        expr("CASE WHEN n_candidates > 0 THEN (n_hits * 1000000)" +
          " DIV n_candidates END").as("precision_ppm"),
        expr("CASE WHEN n_truth > 0 THEN (n_hits * 1000000)" +
          " DIV n_truth END").as("recall_ppm"),
        expr("CASE WHEN n_candidates + n_truth > 0 THEN" +
          " (2 * n_hits * 1000000) DIV (n_candidates + n_truth) END")
          .as("f1_ppm"))
  }

  private def qualityReportSqlAt(budget: Long): String =
    s"""WITH $bandsCte,
       |qmod AS (SELECT GREATEST(1, COUNT(*) // $budget) AS m FROM documents),
       |$cappedShingleRowsSql,
       |qshr AS MATERIALIZED (
       |  SELECT doc_id, x FROM shc
       |  WHERE doc_id % (SELECT m FROM qmod) = 0),
       |qssz AS (SELECT doc_id, COUNT(*) AS n FROM qshr GROUP BY doc_id),
       |qsint AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cap
       |  FROM qshr a JOIN qshr b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |qtruth AS (
       |  SELECT i.doc_a, i.doc_b
       |  FROM qsint i JOIN qssz x ON x.doc_id = i.doc_a
       |               JOIN qssz y ON y.doc_id = i.doc_b
       |  WHERE i.cap * 5 >= (x.n + y.n - i.cap) * 4),
       |qcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_capped a JOIN bands_capped b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  WHERE a.doc_id % (SELECT m FROM qmod) = 0
       |    AND b.doc_id % (SELECT m FROM qmod) = 0),
       |qagg AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM qssz) AS n_sample_docs,
       |    (SELECT COUNT(*) FROM qtruth) AS n_truth,
       |    (SELECT COUNT(*) FROM qcand) AS n_candidates,
       |    (SELECT COUNT(*) FROM qcand c
       |      WHERE EXISTS (SELECT 1 FROM qtruth t
       |                    WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
       |      AS n_hits)
       |SELECT n_sample_docs, n_truth, n_candidates, n_hits,
       |  CASE WHEN n_candidates > 0
       |       THEN (n_hits * 1000000) // n_candidates END AS precision_ppm,
       |  CASE WHEN n_truth > 0
       |       THEN (n_hits * 1000000) // n_truth END AS recall_ppm,
       |  CASE WHEN n_candidates + n_truth > 0
       |       THEN (2 * n_hits * 1000000) // (n_candidates + n_truth) END
       |    AS f1_ppm
       |FROM qagg""".stripMargin

  private lazy val qualityReportSql = qualityReportSqlAt(qualitySampleBudget)
  private lazy val qualityReportB125Sql = qualityReportSqlAt(125L)

  private val shinglesSql =
    """SELECT doc_id, list_distinct(list_transform(
      |    range(0, greatest(len(words) - 3, 0) + 1),
      |    i -> array_to_string(words[i+1:i+3], ' '))) AS sh
      |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |      FROM documents) w""".stripMargin

  /** Corpus-level DF-capped shingle rows (shr → shc) — the shared truth
    * base both the quality report and the capped curve oracles read.
    */
  private lazy val cappedShingleRowsSql =
    s"""shr AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, t.x
       |  FROM ($shinglesSql) q, unnest(q.sh) AS t(x)),
       |shc AS MATERIALIZED (
       |  SELECT r.doc_id, r.x FROM shr r
       |  JOIN (SELECT x FROM shr GROUP BY x
       |        HAVING COUNT(*) <= $truthShingleCap) f USING (x))""".stripMargin

  private val bandSql = {
    val lanes = (0 until numHashes).map { i =>
      s"min(substring(h, ${i * 4 + 1}, 4)) AS mh$i"
    }.mkString(", ")
    val sigs = (0 until numBands)
      .map(b => s"WHEN $b THEN md5(mh${b * 2} || mh${b * 2 + 1})")
      .mkString(" ")
    s"""SELECT doc_id, CAST(t.b AS INT) AS band,
       |  CASE t.b $sigs END AS sig
       |FROM (
       |  SELECT doc_id, $lanes
       |  FROM (SELECT doc_id, md5(t.x) AS h
       |        FROM (%SHINGLES%) shingled, unnest(shingled.sh) AS t(x)) h
       |  GROUP BY doc_id) m, range(0, $numBands) t(b)""".stripMargin
      .replace("%SHINGLES%", shinglesSql)
  }

  /** Shared oracle CTE list: raw bands + hot-bucket-capped bands. */
  private val bandsCte =
    s"""bands AS ($bandSql),
       |bands_capped AS (
       |  SELECT b.* FROM bands b
       |  JOIN (SELECT band, sig FROM bands GROUP BY band, sig
       |        HAVING COUNT(*) <= $hotBucketCap) ok
       |    ON b.band = ok.band AND b.sig = ok.sig)""".stripMargin

  /** The LSH candidate-pair query for cross-module oracle composition
    * (the dataset card counts it).
    */
  private[ops] def minhashLshSqlForCompose: String = minhashLshSql

  /** The per-doc distinct-shingle list SQL, for cross-module oracle
    * composition (TextOps' novelty curve rides the same shingles).
    */
  private[ops] def shinglesSqlForCompose: String = shinglesSql

  private val minhashLshSql =
    s"""WITH $bandsCte
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands_capped a JOIN bands_capped b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // SimHash (8-dim, md5-hex-digit projections): per token, dim j votes
  // +1/-1 by whether hex digit j of md5(token) is >= '8'; the signature
  // bit is the sign of the vote sum. One explode + one hash-agg shuffle.
  // ---------------------------------------------------------------------
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val dims = 8
    val exploded = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("h", fastMd5(col("w")))
    val sums = (1 to dims).map(j =>
      sum(when(substring(col("h"), j, 1) >= "8", 1).otherwise(-1))
        .as(s"s$j"))
    val bits = (1 to dims).map(j =>
      when(col(s"s$j") > 0, lit("1")).otherwise(lit("0")))
    exploded.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  private val simhashSql = {
    val dims = 8
    val sums = (1 to dims).map(j =>
      s"SUM(CASE WHEN substring(h, $j, 1) >= '8' THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n    ")
    val bits = (1 to dims).map(j =>
      s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""SELECT doc_id, $bits AS simhash
       |FROM (
       |  SELECT doc_id, $sums
       |  FROM (SELECT doc_id, md5(t.w) AS h
       |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |              FROM documents) d, unnest(d.ws) AS t(w)) e
       |  GROUP BY doc_id) v""".stripMargin
  }

  // ---------------------------------------------------------------------
  // n-gram Jaccard verification over the LSH candidate pairs: true
  // similarity on distinct 3-gram shingle sets.
  // ---------------------------------------------------------------------
  /** Distinct shingle sets per doc, rebuilt from the exploded rows
    * (collect_set = the array_distinct the set-ratio needs; element
    * order is irrelevant to intersect/union/containment sizes). Memoized:
    * the Jaccard and containment verifies share one build.
    */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "dedupShingles") {
      shingleRows(s, dir).groupBy(col("doc_id"))
        .agg(collect_set(col("x")).as("sh")).cache()
    }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(s, dir)
    val pairs = minhashLsh(s, dir)
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
  }

  /** Shared oracle CTE list through the verified-jaccard pair table.
    * Two flavors (the prefixMat discipline): DuckDB inlines plain CTEs
    * per reference, and every [[clusterCtes]] consumer evaluates
    * `jaccard` TWICE via sym's two jp reads (drift/funnel measured 7-9 s
    * plain vs 1.3 s pinned at sf0.1), so consumers that reference
    * `jaccard` take the MATERIALIZED flavor; `containment` reads only
    * pairs+sh and must stay on the lazy flavor — DuckDB evaluates even
    * unreferenced materialized CTEs.
    */
  private def jaccardCtesWith(mat: String): String =
    s"""$bandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_capped a JOIN bands_capped b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sh AS $mat($shinglesSql),
       |jaccard AS $mat(
       |  SELECT p.doc_a, p.doc_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.doc_a
       |  JOIN sh y ON y.doc_id = p.doc_b)""".stripMargin

  private val jaccardCtes = jaccardCtesWith("")
  private val jaccardCtesMat = jaccardCtesWith("MATERIALIZED ")

  private val ngramJaccardSql =
    s"""WITH $jaccardCtesMat
       |SELECT doc_a, doc_b, jaccard FROM jaccard""".stripMargin

  // ---------------------------------------------------------------------
  // Asymmetric containment over the LSH candidates: C(A,B) = |A∩B|/|A|
  // (Broder's containment) in BOTH directions per pair. Jaccard is
  // symmetric, so a short document quoted wholesale inside a long one
  // scores low (|∩|/|∪| shrinks with the size gap) even though one side
  // is a near-total subset — the quote/boilerplate-inclusion case a
  // training-data pipeline wants flagged separately from mutual near-
  // duplication. Candidates are the banded, hot-bucket-capped LSH pairs
  // (same discipline as the Jaccard/edit verifies: O(candidates), never
  // all-pairs). Honest bias note: MinHash banding recalls pairs by
  // JACCARD, so extreme-ratio containments (tiny A inside huge B) can
  // miss the candidate set; the scale remedy is divided/partitioned
  // MinHash on the short side's shingles — same band-join plumbing, a
  // different signature source. The flag threshold 0.9 marks near-total
  // inclusion either way.
  // ---------------------------------------------------------------------
  val containmentThreshold = 0.9

  def containment(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(s, dir)
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    minhashLsh(s, dir).join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(inter / size(col("sh_a")), 4).as("cont_a_in_b"),
        round(inter / size(col("sh_b")), 4).as("cont_b_in_a"))
      .withColumn("subset_dup",
        greatest(col("cont_a_in_b"), col("cont_b_in_a"))
          >= containmentThreshold)
  }

  private val containmentSql =
    s"""WITH $jaccardCtes,
       |cont AS (
       |  SELECT p.doc_a, p.doc_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |          / len(x.sh), 4) AS cont_a_in_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |          / len(y.sh), 4) AS cont_b_in_a
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.doc_a
       |  JOIN sh y ON y.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a,
       |  greatest(cont_a_in_b, cont_b_in_a) >= $containmentThreshold AS subset_dup
       |FROM cont""".stripMargin

  // ---------------------------------------------------------------------
  // Edit-distance verification of the LSH candidates: exact Levenshtein
  // over candidate pairs only — the character-level complement of the
  // token-level Jaccard verify, catching transposition/typo near-dups a
  // shingle set under-weights. Never all-pairs: the pair table is the
  // banded, hot-bucket-capped LSH output, so the O(len²) distance runs
  // on O(candidates), not O(N²). The near-dup flag uses the RELATIVE
  // distance (dist / max len), the scale-free form of an edit threshold.
  // ---------------------------------------------------------------------
  val editNearDupRatio = 0.2

  def editDistance(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir).select(col("doc_id"), col("text"))
    val a = t.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val b = t.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    val ratio = round(col("edit_dist").cast("double") /
      greatest(length(col("text_a")), length(col("text_b"))), 4)
    minhashLsh(s, dir).join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b")))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        ratio.as("edit_ratio"),
        (ratio <= editNearDupRatio).as("near_dup"))
  }

  // ---------------------------------------------------------------------
  // Exact-substring span dedup (ExactSubstr — Lee et al. 2022, arXiv
  // 2107.06499 §4.1): find every maximal token span of length >= k that
  // occurs more than once ANYWHERE in the corpus, reported per doc as
  // merged non-overlapping spans. This is the character/token-level
  // complement of whole-doc MinHash: it catches the quoted paragraph,
  // the boilerplate header, and the copied passage inside otherwise
  // unique documents — the duplication mode shown to matter most for LM
  // training data. k = 8 tokens, the same published window the
  // decontamination pass uses.
  //
  // Scale shape: tokenization is one narrow explode (O(corpus tokens)
  // rows, linear); the k-gram is assembled by k-1 LEADs over ONE
  // doc-partitioned window (no array lambdas, no self-join); the global
  // duplicate test is ONE hash group-by — the only corpus-wide shuffle —
  // and span merging is a gaps-and-islands window bounded by document
  // length, never the corpus. The suffix-array formulation of the paper
  // is the single-machine constant-factor alternative; the k-gram
  // hash group-by is the form that distributes (it is the same shuffle
  // discipline as the MinHash band table). Cutting the spans out is a
  // downstream narrow map over (doc_id, span) — this operator emits the
  // evidence table.
  // ---------------------------------------------------------------------
  val substringK = 8

  /** Exploded (doc_id, pos, tok) rows — the shared token base. */
  private def tokenRows(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))

  /** All k-gram occurrences (doc_id, pos, h): k−1 LEADs over one
    * doc-partitioned window assemble the gram, one md5 hashes it.
    */
  private[graft] def kgramRows(d: DataFrame): DataFrame = {
    val wLead = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leadCols = (1 until substringK)
      .map(i => lead(col("tok"), i).over(wLead).as(s"_t$i"))
    tokenRows(d)
      .select(col("doc_id") +: col("pos") +: col("tok") +: leadCols: _*)
      .filter(col(s"_t${substringK - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        fastMd5(concat_ws(" ",
          col("tok") +: (1 until substringK).map(i => col(s"_t$i")): _*))
          .as("h"))
  }

  /** The corpus k-gram table: [[kgramRows]] over `documents`, built once
    * per (session, dir) and read by both ExactSubstr ops — the span
    * report's repeat-hash aggregate and join probe, and the cut's three
    * ownership probes. Left lazy, each probe re-ran the tokenize →
    * posexplode → k-lead window → md5 pipeline over the whole corpus
    * (measured r13: three identical scan+window stage pairs at sf0.1; at
    * 100 TB this is the dominant scan). Sized by `Parts`: a row (two
    * longs + a 32-char hash) per token is ~16× its share of the
    * compressed text, and its consumers are a partial aggregate and
    * join probes — forwarding work.
    */
  private[graft] def kgrams(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "substringKgrams") {
      val kg = Parts.sized(
        kgramRows(docs(s, dir).select(col("doc_id"), col("text"))),
        Parts.sourceBytes(s, dir, "documents") * 16).cache()
      kg.count()
      kg
    }

  /** k-gram occurrences of `kg` whose hash repeats anywhere in it. */
  private def dupOccurrences(kg: DataFrame): DataFrame = {
    val duph = kg.groupBy(col("h")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).drop("_n")
    kg.join(duph, Seq("h"))
  }

  /** The span report of the (doc_id, text) frame `d`, whose k-gram
    * occurrences are `kg` ([[kgramRows]] of `d`) — exposed for the
    * constructed-corpus spec (planted copied passages must surface with
    * exact span bounds).
    */
  private[graft] def substringSpansOver(d: DataFrame,
      kg: DataFrame): DataFrame = {
    val dp = dupOccurrences(kg).select(col("doc_id"), col("pos"))
    // gaps-and-islands: a k-gram start extends the current span iff it
    // begins before the running max span end; islands number by the
    // running count of fresh starts
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dp
      .withColumn("ni",
        when(col("pos") <= max(col("pos") + substringK).over(wPrev), 0)
          .otherwise(1))
      .withColumn("island", sum(col("ni")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + substringK).as("e"))
    val summ = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).cast("long").as("dup_tokens"))
    d.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("total_tokens"))
      .join(summ, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("total_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("total_tokens"), 4).as("dup_frac"))
  }

  def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansOver(docs(s, dir).select(col("doc_id"), col("text")),
      kgrams(s, dir))

  private val substringSpansSql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
       |  FROM documents),
       |kg AS (
       |  SELECT doc_id, CAST(u.kp.pos AS BIGINT) AS pos, u.kp.h AS h
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(range(0, greatest(len(words) - ${substringK - 1}, 0)),
       |        i -> struct_pack(pos := i,
       |          h := md5(array_to_string(words[i+1:i+$substringK], ' ')))) AS kps
       |    FROM w) l, unnest(l.kps) AS u(kp)),
       |duph AS (SELECT h FROM kg GROUP BY h HAVING COUNT(*) > 1),
       |dp AS (SELECT kg.doc_id, kg.pos FROM kg JOIN duph ON kg.h = duph.h),
       |marks AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos <= MAX(pos + $substringK) OVER (
       |        PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      THEN 0 ELSE 1 END AS ni
       |  FROM dp),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM marks),
       |spans AS (
       |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + $substringK AS e
       |  FROM isl GROUP BY doc_id, island),
       |summ AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       |         CAST(SUM(e - s) AS BIGINT) AS dup_tokens
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(s.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans,
       |  COALESCE(s.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
       |  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
       |    AS total_tokens,
       |  round(CAST(COALESCE(s.dup_tokens, 0) AS DOUBLE)
       |        / len(string_split_regex(trim(d.text), '\\s+')), 4) AS dup_frac
       |FROM documents d LEFT JOIN summ s ON s.doc_id = d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // ExactSubstr CUT application: remove every duplicated >= k-token span
  // from every document EXCEPT its canonical (first) occurrence and
  // reassemble the cleaned text — the "all but one occurrence" rule of
  // Lee et al. 2022 §4.1, token-resolved deterministically:
  //   * a duplicated k-gram occurrence is canonical iff it is the
  //     (doc_id, pos)-minimum occurrence of its hash;
  //   * a token is removed iff some non-canonical duplicated occurrence
  //     covers it and NO canonical occurrence covers it (canonical
  //     coverage wins, so the kept passage survives intact even where
  //     overlapping grams disagree).
  // Both engines replay the rule bit-identically: ownership is the
  // first-owner MIN-AGG discipline (the novelty curve's shape) — NOT a
  // rank window — and reassembly is an ordered token concat keyed per
  // doc. Scale: the extra work over the span report is one coverage
  // explode of DUPLICATED occurrences only (×k constant fan) and a
  // per-doc ordered rebuild (sort_array over doc-bounded token structs)
  // — no new corpus-wide surface beyond the one hash shuffle the report
  // already pays.
  // ---------------------------------------------------------------------
  private[graft] def substringApplyOver(d: DataFrame,
      kg: DataFrame): DataFrame = {
    // Canonical ownership without a rank window: the former
    // row_number().over(Window.partitionBy("h")) serialized EVERY
    // occurrence of one hash into a single window task — a boilerplate
    // 8-gram (license header, template sentence) repeats 1e8–1e9 times
    // at corpus scale, and unlike a skewed shuffle join a skewed window
    // partition has no AQE escape. The rule only needs the
    // (doc_id, pos)-minimum occurrence per hash, which is distributive:
    // min(doc_id) fuses with the duplicate test in one agg, min(pos)
    // within that owner doc in a second. Both buffers are primitive
    // longs, so both stay HashAggregates with map-side partials — the
    // hot key collapses to one row per mapper before any shuffle — and
    // every consumer shares the single hash-partitioned exchange on h.
    // ownDoc, ownPos and occ all probe kg, the corpus k-gram table
    // ([[kgrams]]) that the span report reads too.
    // (r13 note: a two-level (h, doc_id) → h struct-min aggregation was
    // A/B'd here to drop the join-back pass; it shuffled MORE — the
    // (h, doc)-grain partial doesn't collapse hot hashes map-side the
    // way the h-keyed partial does, and the kg exchange below is reused
    // by both consumers anyway (41 → 55 MB measured at sf0.1). Kept.)
    val ownDoc = kg.groupBy(col("h"))
      .agg(count(lit(1)).as("_n"), min(col("doc_id")).as("_od"))
      .filter(col("_n") > 1)
      .select(col("h"), col("_od"))
    val ownPos = kg.join(ownDoc, Seq("h"))
      .filter(col("doc_id") === col("_od"))
      .groupBy(col("h"), col("_od"))
      .agg(min(col("pos")).as("_op"))
    val occ = kg.join(ownPos, Seq("h"))
      .withColumn("canon",
        when(col("doc_id") === col("_od") && col("pos") === col("_op"), 1)
          .otherwise(0))
    val covered = occ.select(col("doc_id"), col("canon"),
      explode(sequence(col("pos"),
        col("pos") + lit(substringK - 1))).as("tpos"))
    val removed = covered.groupBy(col("doc_id"), col("tpos"))
      .agg(max(col("canon")).as("_hasCanon"))
      .filter(col("_hasCanon") === 0)
      .select(col("doc_id"), col("tpos").as("pos"))
    val kept = tokenRows(d).join(removed, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    // Untouched documents round-trip EXACTLY: when nothing was removed
    // the original text is passed through, so tabs/newlines/multi-space
    // runs survive and clean_text is a drop-in replacement corpus.
    // Token-normalized output only appears where a span was actually cut
    // (the rebuild cannot know the original inter-token whitespace).
    d.select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("long").as("total_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("total_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("total_tokens") === coalesce(col("n_kept"), lit(0L)),
            col("text"))
          .otherwise(coalesce(col("clean_text"), lit("")))
          .as("clean_text"))
  }

  def substringApply(s: SparkSession, dir: String): DataFrame =
    substringApplyOver(docs(s, dir).select(col("doc_id"), col("text")),
      kgrams(s, dir))

  private val substringApplySql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
       |  FROM documents),
       |kg AS (
       |  SELECT doc_id, CAST(u.kp.pos AS BIGINT) AS pos, u.kp.h AS h
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(range(0, greatest(len(words) - ${substringK - 1}, 0)),
       |        i -> struct_pack(pos := i,
       |          h := md5(array_to_string(words[i+1:i+$substringK], ' ')))) AS kps
       |    FROM w) l, unnest(l.kps) AS u(kp)),
       |own AS (
       |  SELECT h, MIN(doc_id) AS od FROM kg
       |  GROUP BY h HAVING COUNT(*) > 1),
       |ownp AS (
       |  SELECT kg.h, kg.doc_id AS od, MIN(kg.pos) AS op
       |  FROM kg JOIN own ON kg.h = own.h AND kg.doc_id = own.od
       |  GROUP BY kg.h, kg.doc_id),
       |occ AS (
       |  SELECT kg.doc_id, kg.pos,
       |    CASE WHEN kg.doc_id = o.od AND kg.pos = o.op
       |      THEN 1 ELSE 0 END AS canon
       |  FROM kg JOIN ownp o ON kg.h = o.h),
       |cov AS (
       |  SELECT doc_id, canon, pos + t.i AS tpos
       |  FROM occ, range(0, $substringK) t(i)),
       |removed AS (
       |  SELECT doc_id, tpos AS pos FROM cov
       |  GROUP BY doc_id, tpos HAVING MAX(canon) = 0),
       |tok AS (
       |  SELECT doc_id, CAST(u.tp.pos AS BIGINT) AS pos, u.tp.t AS tok
       |  FROM (
       |    SELECT doc_id, list_transform(range(0, len(words)),
       |      i -> struct_pack(pos := i, t := words[i+1])) AS tps
       |    FROM w) l, unnest(l.tps) AS u(tp)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok
       |  FROM tok t LEFT JOIN removed r
       |    ON r.doc_id = t.doc_id AND r.pos = t.pos
       |  WHERE r.pos IS NULL),
       |reb AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
       |    - COALESCE(r.n_kept, CAST(0 AS BIGINT)) AS n_removed,
       |  COALESCE(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  CASE WHEN CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
       |      = COALESCE(r.n_kept, CAST(0 AS BIGINT))
       |    THEN d.text ELSE COALESCE(r.clean_text, '') END AS clean_text
       |FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin

  private val editDistanceSql =
    s"""WITH $bandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_capped a JOIN bands_capped b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |d AS (
       |  SELECT p.doc_a, p.doc_b,
       |    levenshtein(x.text, y.text) AS edit_dist,
       |    round(CAST(levenshtein(x.text, y.text) AS DOUBLE)
       |          / greatest(length(x.text), length(y.text)), 4) AS edit_ratio
       |  FROM pairs p
       |  JOIN documents x ON x.doc_id = p.doc_a
       |  JOIN documents y ON y.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, CAST(edit_dist AS INT) AS edit_dist, edit_ratio,
       |  edit_ratio <= $editNearDupRatio AS near_dup
       |FROM d""".stripMargin

  // ---------------------------------------------------------------------
  // Transitive near-dup clustering: connected components over the
  // verified (jaccard >= threshold) pair graph, labels = component-min
  // doc_id. A one-pass "drop doc_b of each pair" rule misses chains
  // (A~B, B~C keeps C even though it duplicates A's cluster).
  //
  // Default algorithm: alternating large-star/small-star contraction
  // (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
  // Components in MapReduce and Beyond", SoCC 2014). Each phase is one
  // map-side-combinable min-agg + one join over the CURRENT edge set —
  // and that edge set SHRINKS as components contract toward stars, so
  // convergence is O(log) phases in component SIZE with falling
  // per-phase volume. Min-label propagation replays the FULL edge list
  // every round and converges in rounds bounded by component diameter —
  // on the skewed mega-component a real 100 TB corpus always has,
  // contraction's shrinking volume is the difference between a bounded
  // build and a straggler chain.
  // ---------------------------------------------------------------------
  val jaccardThreshold = 0.8

  /** Connected components over an undirected edge list `(doc_a, doc_b)`
    * of Long node ids: returns `(doc_id, cluster_id)` for every node that
    * touches an edge, where cluster_id = the component's minimum node id.
    * Standalone graph operator — [[dedupClusters]] applies it to the
    * verified near-dup pair graph, but any id-pair relation works.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    starContraction(edges)._1

  /** Large-star/small-star contraction core; returns the label table and
    * the number of (large∘small) phases it took — the phase count is
    * pinned by a spec on a long-chain graph (O(log n) is the point).
    *
    * Phase invariant (canonical big→small edge rep `(u, v), v < u`):
    * large-star links every neighbor LARGER than u to u's neighborhood
    * minimum (a node can only gain a smaller parent), small-star links
    * u and its smaller neighbors to the minimum of that smaller
    * neighborhood. Both emit only (bigger, smaller) pairs, self-loops
    * drop, and the fixpoint is a forest of stars rooted at component
    * minima — at which point the edge list IS the label table.
    *
    * Hybrid finish: once the edge set fits one task (`localThreshold`
    * edges ≈ 32 MB at 2M), the remaining components resolve in a
    * single-task union-find pass — iterative distributed rounds on a
    * driver-scale graph pay ~8 stage waves per phase for data one core
    * folds in milliseconds. The input edges are persisted and counted
    * first (their lineage runs once per call), and an input at or below
    * the threshold goes straight to that pass — the bench-scale case,
    * one narrow stage. At 100 TB the star phases do the contracting
    * (each phase shrinks the edge set by merging parallel edges into
    * star edges) until the remainder crosses the threshold. Exact either
    * way — union-find and star fixpoints both label by component min.
    */
  private[graft] def starContraction(edges: DataFrame,
      localThreshold: Long = 2000000L): (DataFrame, Int) = {
    val (in, inRows) = Parts.persisted(
      edges.select(col("doc_a").as("u"), col("doc_b").as("v")))
    if (inRows.count() <= localThreshold)
      return (unionFind(in).toDF("doc_id", "cluster_id"), 0)
    val nodes = in.select(col("u").as("id"))
      .unionByName(in.select(col("v").as("id"))).distinct()
    var (p, pRows) = Parts.persisted(in
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // Per-phase convergence probe in ONE action: row count + an
    // order-independent XOR-of-hashes digest of the (distinct) edge
    // set. Equal digests GATE the exact exceptAll confirmation — a
    // changed edge set virtually never digests equal (and a collision
    // only costs a wasted exceptAll pass, which then reports
    // non-convergence), so the O(E) set-compare runs once at the true
    // fixpoint instead of every phase whose COUNT happened to be
    // stable (a long chain keeps its count through every phase).
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var pSig = digest(p)
    var converged = pSig._1 == 0L
    var phases = 0
    while (!converged && pSig._1 > localThreshold && phases < 32) {
      // large-star over full neighborhoods: m(u) = min(Γ(u) ∪ {u});
      // every neighbor above u re-links to m(u). The min-agg is
      // distributive — a 10⁹-degree hot node combines map-side, the
      // exact skew shape the de-skewed ExactSubstr cut also avoids.
      val sym = p.unionByName(p.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("mn"))
      // No distinct here: duplicate (u, mn) rows are absorbed by the
      // small-star min-agg (map-side) and the phase-final distinct —
      // cheaper than an extra shuffle. Both phase frames fill their
      // blocks at the phase's single digest action.
      val (large, largeRows) = Parts.persisted(
        sym.filter(col("v") > col("u"))
          .join(mins, Seq("u"))
          .select(col("v").as("u"), col("mn").as("v"))
          .filter(col("u") =!= col("v")))
      // small-star over the ≤-neighborhood — exactly the out-edges of
      // the canonical rep: u and its smaller neighbors all link to the
      // smallest of them.
      val minsS = large.groupBy("u").agg(min(col("v")).as("mn"))
      val (small, smallRows) = Parts.persisted(
        large.join(minsS, Seq("u"))
          .select(col("v").as("u"), col("mn").as("v"))
          .unionByName(minsS.select(col("u"), col("mn").as("v")))
          .filter(col("u") =!= col("v")).distinct())
      // Fixpoint ⇔ the phase was an identity map on a distinct edge
      // set: equal (count, digest) gates the exact one-sided except,
      // which with equal counts proves set equality.
      val sSig = digest(small)
      converged = sSig == pSig && small.exceptAll(p).isEmpty
      // small is materialized and the convergence probe has read the
      // old p for the last time: unpersist the superseded phase (and
      // the large-star edges) so per-phase storage stays O(1) edge
      // frames. Their lineage stays, so a lost block of small still
      // recomputes.
      pRows.unpersist(blocking = false)
      largeRows.unpersist(blocking = false)
      p = small; pRows = smallRows; pSig = sSig
      phases += 1
    }
    if (!converged) {
      require(pSig._1 <= localThreshold,
        s"star contraction did not converge in $phases phases")
      p = unionFind(p)
    }
    // At fixpoint every edge is (node → component min); nodes that kept
    // their own id (roots, self-loop-only nodes) re-enter via the
    // identity rows and the min-agg keeps whichever is smaller.
    val labels = p
      .unionByName(nodes.select(col("id").as("u"), col("id").as("v")))
      .groupBy(col("u")).agg(min(col("v")).as("cluster_id"))
      .withColumnRenamed("u", "doc_id")
    (labels, phases)
  }

  /** Single-task union-find over the edges `(u, v)`: one `(u, v)` row per
    * node that touches an edge, v = its component's minimum id —
    * deterministic (component-min roots are order-independent), one
    * narrow stage, state linear in the edge count.
    */
  private def unionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        val seen = scala.collection.mutable.LongMap.empty[Unit]
        it.foreach { case (a, b) =>
          seen(a) = (); seen(b) = ()
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        seen.keysIterator.map(n => (n, find(n)))
      }.toDF("u", "v")
  }

  /** Memoized per (session, dir): the component contraction runs once,
    * and both `dedup_survivors` and the curation pipeline consume the
    * same cluster table.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "dedupClusters") {
      val edges = ngramJaccard(s, dir)
        .filter(col("jaccard") >= jaccardThreshold)
        .select(col("doc_a"), col("doc_b"))
      val labels = connectedComponents(edges)
      docs(s, dir).select(col("doc_id")).join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .cache()
    }

  /** Oracle transitive closure: min reachable doc_id per node over the
    * symmetric verified-pair graph (recursive CTE; UNION-dedup bounds it).
    */
  private[ops] val clusterCtes =
    s"""$jaccardCtesMat,
       |jp AS (SELECT doc_a, doc_b FROM jaccard WHERE jaccard >= $jaccardThreshold),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM jp
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM jp),
       |reach(d, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.d = s.b),
       |clusters AS (SELECT d AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY d)""".stripMargin

  private val dedupClustersSql =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_id FROM clusters""".stripMargin

  // ---------------------------------------------------------------------
  // Near-dup survivor selection: keep each cluster's minimum doc_id —
  // transitive (chains collapse to one survivor), not the one-pass
  // pair-drop rule.
  // ---------------------------------------------------------------------
  def nearDupSurvivors(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .filter(col("cluster_id") === col("doc_id"))
      .select(col("doc_id"))

  private val nearDupSurvivorsSql =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id FROM clusters WHERE cluster_id = doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Benchmark decontamination: count the 3-gram shingles each corpus doc
  // shares with a held-out benchmark set (`source = 'src0'` stands in for
  // an eval suite). Standard training-data hygiene — any doc overlapping
  // a benchmark n-gram is flagged before training. Shape at scale: the
  // benchmark shingle set is bounded (eval suites are tiny next to the
  // corpus), so it broadcasts; the corpus side is the memoized exploded
  // shingle table — one broadcast join + one hash-agg, no self-join.
  // ---------------------------------------------------------------------
  val benchmarkSource = "src0"

  /** Decontamination n-gram length. 3-grams (the dedup shingle) are too
    * promiscuous for contamination at scale — at sf0.1 a 3-gram overlap
    * flags 4748 of 4750 docs (every doc shares SOME common trigram with a
    * 500-doc benchmark set), which would empty the curated corpus.
    * 8-token n-grams are the published decontamination standard
    * (GPT-3 ~13-gram, FLAN/Gopher 8-gram): long enough that a shared
    * shingle means genuinely copied benchmark text.
    */
  val contaminationNgram = 8

  /** Contamination's own shingle table (8-grams; [[shingleRows]]' 3-grams
    * stay the MinHash input). Docs shorter than the n-gram contribute
    * their whole text, mirroring the oracle's slice rule.
    */
  private def contaminationShingles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "contamShingleRows") {
      val d = docs(s, dir)
      val full = d.select(col("doc_id"),
        explode(overlappingNgrams(col("text"), contaminationNgram)).as("x"))
      val short = d.filter(size(tokens(col("text"))) < contaminationNgram)
        .select(col("doc_id"),
          concat_ws(" ", tokens(col("text"))).as("x"))
      full.unionByName(short).cache()
    }

  def contamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sh = contaminationShingles(s, dir)
    val benchIds = d.filter(col("source") === benchmarkSource)
      .select(col("doc_id"))
    val bench = sh.join(benchIds, Seq("doc_id")).select(col("x")).distinct()
    val corpusIds = d.filter(col("source") =!= benchmarkSource)
      .select(col("doc_id"))
    // n_shared counts DISTINCT shared shingles; the dedup happens AFTER
    // the selective benchmark join, so the full-corpus shingle table is
    // never shuffled — only the matched (doc, shingle) rows are.
    val hits = sh.join(corpusIds, Seq("doc_id"))
      .join(broadcast(bench), Seq("x"))
      .select(col("doc_id"), col("x")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpusIds.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Shared oracle CTEs for the contamination check (names prefixed `c`
    * so they compose with [[clusterCtes]] in the curation oracle).
    */
  private[ops] val contaminationCtes =
    s"""csh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |      range(0, greatest(len(words) - $contaminationNgram, 0) + 1),
       |      i -> array_to_string(words[i+1:i+$contaminationNgram], ' '))) AS sh
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
       |        FROM documents) w),
       |cex AS (SELECT s.doc_id, t.x FROM csh s, unnest(s.sh) AS t(x)),
       |cbench AS (
       |  SELECT DISTINCT e.x FROM cex e
       |  JOIN documents d ON d.doc_id = e.doc_id
       |  WHERE d.source = '$benchmarkSource'),
       |chits AS (
       |  SELECT e.doc_id, COUNT(*) AS n_shared
       |  FROM cex e JOIN cbench b ON e.x = b.x
       |  JOIN documents d ON d.doc_id = e.doc_id
       |  WHERE d.source <> '$benchmarkSource'
       |  GROUP BY e.doc_id)""".stripMargin

  private val contaminationSql =
    s"""WITH $contaminationCtes
       |SELECT d.doc_id, CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
       |       COALESCE(h.n_shared, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN chits h ON h.doc_id = d.doc_id
       |WHERE d.source <> '$benchmarkSource'""".stripMargin

  // ---------------------------------------------------------------------
  // Segment-level dedup (the RefinedWeb/CCNet "line dedup" technique):
  // cut each doc into ordered segments, count each segment's distinct-doc
  // frequency corpus-wide, drop segments shared by more than
  // `segmentMaxDocs` docs (boilerplate: headers, nav bars, license
  // blocks), and reassemble the remaining text in original order. This
  // corpus has no newline structure, so the segmenter is a deterministic
  // 10-token chunker ([[TextFns.tokenSegments]]); a web corpus swaps in
  // `split(text, '\n')` and the rest of the plan is unchanged.
  //
  // Scale shape: segments are counted and anti-joined on their md5 (fixed
  // 32-char key, not arbitrary-length text), the hot-segment side of the
  // anti-join holds ONLY segments above the threshold (the boilerplate
  // tail — orders of magnitude smaller than the corpus; AQE broadcasts it
  // when it fits), and reassembly is one doc_id hash-agg whose per-group
  // state is the doc's own segments. No all-pairs surface anywhere.
  // ---------------------------------------------------------------------
  val segmentTokens = 10
  val segmentMaxDocs = 2

  def segmentDedup(s: SparkSession, dir: String): DataFrame =
    segmentDedupOver(docs(s, dir))

  private[graft] def segmentDedupOver(d: DataFrame): DataFrame = {
    val chunks = tokenSegments(col("text"), segmentTokens)
    val segs = d.select(col("doc_id"),
        posexplode(chunks).as(Seq("pos", "seg0")))
      .select(col("doc_id"), col("pos"), trim(col("seg0")).as("seg"))
      .withColumn("h", fastMd5(col("seg")))
    val hot = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > segmentMaxDocs)
      .select(col("h"))
    val rebuilt = segs.join(hot, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ").as("clean"))
    d.select(col("doc_id"), size(chunks).as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        fastMd5(coalesce(col("clean"), lit(""))).as("clean_fp"))
  }

  private val segmentDedupSql =
    s"""WITH c AS (
       |  SELECT doc_id, regexp_extract_all(
       |    regexp_replace(trim(text), '\\s+', ' ', 'g'),
       |    '(?:[^ ]+ ?){1,$segmentTokens}') AS chunks
       |  FROM documents),
       |segs AS (
       |  SELECT doc_id, unnest(range(1, len(chunks) + 1)) AS pos,
       |         trim(unnest(chunks)) AS seg
       |  FROM c),
       |hot AS (
       |  SELECT md5(seg) AS h FROM segs
       |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > $segmentMaxDocs),
       |rebuilt AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(seg, ' ' ORDER BY pos) AS clean
       |  FROM segs WHERE md5(seg) NOT IN (SELECT h FROM hot)
       |  GROUP BY 1)
       |SELECT c.doc_id, CAST(len(chunks) AS INT) AS n_segments,
       |  coalesce(n_kept, 0) AS n_kept,
       |  md5(coalesce(clean, '')) AS clean_fp
       |FROM c LEFT JOIN rebuilt USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // INCREMENTAL dedup — the production shape at 100 TB: an arriving
  // batch is checked against the EXISTING corpus's persisted dedup
  // index (the fingerprint table + the capped LSH band table), and the
  // corpus text is never rescanned. Per-batch cost is O(batch · index
  // probes); re-deduplicating the whole corpus per arrival — what every
  // whole-corpus op here would cost if misused incrementally — is the
  // anti-pattern this op replaces. Status per batch doc:
  // 'exact_dup' (normalized fingerprint already in the corpus),
  // 'near_dup' (shares a capped band signature with a corpus doc — the
  // candidate tier; the Jaccard verify of dedup_ngram_jaccard composes
  // downstream), else 'new'. match_id = the smallest matching corpus id.
  //
  // The simulated arrival mixes genuinely new docs (the doc_id % 10
  // slice) with RE-CRAWLED copies of corpus docs (identical text under
  // fresh batch ids) — the re-fetch case every incremental crawl hits —
  // so both dup branches fire non-vacuously; the oracle constructs the
  // identical batch. ARCHITECTURE's fixed-batch scale row was measured
  // with a source-id-capped variant of this op (see git history).
  // ---------------------------------------------------------------------
  val incrBatchMod = 10
  val recrawlMod = 7
  val recrawlIdOffset = 2000000L

  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d.filter(col("doc_id") % incrBatchMod === 0)
      .select(col("doc_id").as("batch_id"), col("doc_id").as("src_id"))
      .unionByName(
        d.filter(col("doc_id") % recrawlMod === 1
            && col("doc_id") % incrBatchMod =!= 0)
          .select((col("doc_id") + recrawlIdOffset).as("batch_id"),
            col("doc_id").as("src_id")))
    val fp = d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val exact = batch
      .join(fp.withColumnRenamed("doc_id", "src_id"), "src_id")
      .join(fp.filter(col("doc_id") % incrBatchMod =!= 0)
        .select(col("fp"), col("doc_id").as("m")), "fp")
      .groupBy(col("batch_id")).agg(min("m").as("exact_m"))
    val bands = cappedBands(s, dir)
    val near = batch
      .join(bands.withColumnRenamed("doc_id", "src_id"), "src_id")
      .join(bands.filter(col("doc_id") % incrBatchMod =!= 0)
        .select(col("band"), col("sig"), col("doc_id").as("m")),
        Seq("band", "sig"))
      .filter(col("m") =!= col("src_id"))
      .groupBy(col("batch_id")).agg(min("m").as("near_m"))
    batch.select("batch_id")
      .join(exact, Seq("batch_id"), "left")
      .join(near, Seq("batch_id"), "left")
      .select(col("batch_id"),
        when(col("exact_m").isNotNull, "exact_dup")
          .when(col("near_m").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("exact_m"), col("near_m")).as("match_id"))
  }

  private val incrementalDedupSql =
    s"""WITH $bandsCte,
       |fpn AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |batch AS (
       |  SELECT doc_id AS batch_id, doc_id AS src_id FROM documents
       |  WHERE doc_id % $incrBatchMod = 0
       |  UNION ALL
       |  SELECT doc_id + $recrawlIdOffset, doc_id FROM documents
       |  WHERE doc_id % $recrawlMod = 1 AND doc_id % $incrBatchMod <> 0),
       |exact AS (
       |  SELECT b.batch_id, MIN(c.doc_id) AS exact_m
       |  FROM batch b
       |  JOIN fpn s ON s.doc_id = b.src_id
       |  JOIN fpn c ON c.fp = s.fp AND c.doc_id % $incrBatchMod <> 0
       |  GROUP BY b.batch_id),
       |near AS (
       |  SELECT b.batch_id, MIN(cb.doc_id) AS near_m
       |  FROM batch b
       |  JOIN bands_capped sb ON sb.doc_id = b.src_id
       |  JOIN bands_capped cb ON cb.band = sb.band AND cb.sig = sb.sig
       |    AND cb.doc_id % $incrBatchMod <> 0 AND cb.doc_id <> b.src_id
       |  GROUP BY b.batch_id)
       |SELECT b.batch_id,
       |  CASE WHEN e.exact_m IS NOT NULL THEN 'exact_dup'
       |       WHEN n.near_m IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS status,
       |  COALESCE(e.exact_m, n.near_m) AS match_id
       |FROM batch b
       |LEFT JOIN exact e ON e.batch_id = b.batch_id
       |LEFT JOIN near n ON n.batch_id = b.batch_id""".stripMargin

  // ---------------------------------------------------------------------
  // LSH sensitivity curve: per collided-band count (1..numBands), how
  // many candidate pairs there are and how truly similar they are — the
  // empirical S-curve a pipeline reads before committing to an (r, b)
  // banding choice at the next scale. A pair colliding in all b bands
  // should be near-certain duplicate mass; a 1-band collision is mostly
  // noise the verify stage pays for. Watching n_true/n_pairs per stratum
  // is how the banding is tuned without re-running the corpus.
  //
  // Scale shape: identical joins to the candidate generator itself (the
  // capped band self-join), with the pair-dedup replaced by a count per
  // pair — same shuffle volume; the verify join rides the memoized
  // shingle sets like every other verify stage. Determinism: the mean is
  // derived from an integer sum of 1e-4-quantized jaccards (commutative),
  // then one double division over identical integers in both engines.
  // ---------------------------------------------------------------------
  def lshCurve(s: SparkSession, dir: String): DataFrame =
    lshCurveOver(s, dir, shingleSets(s, dir))

  /** Curve twin over the DF-capped shingle universe — the SAME truth
    * definition [[qualityReport]] labels (stopword-grade shingles
    * dropped via the shared [[cappedTruthSample]] helper), so the
    * (r,b) tuning readout and the P/R readout grade the index against
    * one truth. Pairs whose docs lose every shingle to the cap drop
    * out (J undefined over an empty universe) — inner joins, mirrored.
    */
  def lshCurveCapped(s: SparkSession, dir: String): DataFrame =
    lshCurveOver(s, dir, cappedShingleSets(s, dir))

  private def cappedShingleSets(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "dedupCappedShingleSets") {
      cappedShingleRows(s, dir)
        .groupBy(col("doc_id")).agg(collect_set(col("x")).as("sh"))
        .cache()
    }

  private def lshCurveOver(s: SparkSession, dir: String,
      sh: DataFrame): DataFrame = {
    val b = cappedBands(s, dir)
    val a = b.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val c = b.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    val pairBands = a.join(c, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("n_bands"))
    val sa = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    pairBands.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("n_bands"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("j"))
      .groupBy(col("n_bands"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("j") >= jaccardThreshold, 1L).otherwise(0L))
          .cast("long").as("n_true"),
        sum(floor(col("j") * 10000 + 0.5).cast("long")).cast("long")
          .as("sum_jaccard_q4"))
      .withColumn("mean_jaccard",
        round(col("sum_jaccard_q4").cast("double") / 10000.0 / col("n_pairs"), 4))
  }

  /** Shared curve body over whatever `sh` CTE precedes it (full or
    * capped shingle sets) — one copy of the pairbands/jcurve/quantized
    * aggregation so a fix can't silently leave one twin stale.
    */
  private lazy val lshCurveBodySql =
    s"""pairbands AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS INT) AS n_bands
       |  FROM bands_capped a JOIN bands_capped b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |jcurve AS (
       |  SELECT pb.n_bands,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS j
       |  FROM pairbands pb
       |  JOIN sh x ON x.doc_id = pb.doc_a
       |  JOIN sh y ON y.doc_id = pb.doc_b)
       |SELECT n_bands, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN j >= $jaccardThreshold THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_true,
       |  CAST(SUM(CAST(FLOOR(j * 10000 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS sum_jaccard_q4,
       |  round(CAST(SUM(CAST(FLOOR(j * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / 10000.0 / COUNT(*), 4) AS mean_jaccard
       |FROM jcurve GROUP BY n_bands""".stripMargin

  private lazy val lshCurveSql =
    s"""WITH $bandsCte,
       |sh AS ($shinglesSql),
       |$lshCurveBodySql""".stripMargin

  private lazy val lshCurveCappedSql =
    s"""WITH $bandsCte,
       |$cappedShingleRowsSql,
       |sh AS MATERIALIZED (
       |  SELECT doc_id, list(DISTINCT x) AS sh FROM shc GROUP BY doc_id),
       |$lshCurveBodySql""".stripMargin

  // ---------------------------------------------------------------------
  // Per-source duplication report: how much of each source is duplicate
  // mass — exact copies (not their content-hash group's keeper) and
  // near-dup non-survivors (not their cluster's canonical doc), with the
  // character volume the exact copies would waste if trained on. The
  // per-source view is the one that drives sourcing decisions (a crawl
  // slice that is 40% self-copies gets re-scoped, not re-deduped).
  //
  // Scale shape: one content-hash agg (shared shape with dedup_exact),
  // one doc_id join against the cluster table, one groupBy(source) —
  // all map-side-combinable; no pair joins, no windows.
  // ---------------------------------------------------------------------
  def sourceStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      col("n_chars"), fastMd5(col("text")).as("fp"))
    val keep = d.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val cl = dedupClusters(s, dir)
    d.join(keep, Seq("fp"))
      .join(cl, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .cast("long").as("n_exact_dups"),
        sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .cast("long").as("n_near_dups"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(0L)).cast("long").as("dup_chars"))
      .withColumn("near_dup_ratio",
        round(col("n_near_dups").cast("double") / col("n_docs"), 6))
  }

  // ---------------------------------------------------------------------
  // Cross-source duplication matrix: how much does each PAIR of sources
  // duplicate each other — candidate count, verified near-dup count, and
  // mean Jaccard per unordered source pair. dedup_source_stats answers
  // "how much of source X is duplicate mass"; this answers the sourcing
  // question behind it: WHICH two crawls overlap (a mirror, a re-crawl,
  // a syndication feed), i.e. which acquisition to drop rather than
  // dedup. Pairs are the banded, hot-bucket-capped LSH candidates with
  // the n-gram Jaccard verify — the same memoized surface every other
  // verify rides, so this is a re-aggregation, not a new pairwise scan.
  //
  // Scale shape: two doc_id equi joins against the narrow (doc_id,
  // source) projection + ONE hash-agg to |sources|² rows at most —
  // candidates never re-derived, nothing quadratic beyond the capped
  // candidate set itself. Determinism: counts are integers; the mean is
  // a pure integer floor-division in micro-units — NOT round(sum/n, 4):
  // q4-quantized sums over small groups land on exact .xxxx5 boundaries
  // routinely, where Spark's HALF_UP (on the decimal string) and
  // DuckDB's binary-double rounding disagree (caught at sf0.1:
  // 215/2 → 0.0108 vs 0.0107).
  // ---------------------------------------------------------------------
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val j = ngramJaccard(s, dir)
    j.join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_candidates"),
        sum(when(col("jaccard") >= jaccardThreshold, 1L).otherwise(0L))
          .cast("long").as("n_near_dups"),
        sum(floor(col("jaccard") * 10000 + 0.5).cast("long")).cast("long")
          .as("sum_jaccard_q4"))
      .withColumn("mean_jaccard_micro",
        expr("(sum_jaccard_q4 * 100) DIV n_candidates"))
  }

  private lazy val crossSourceOverlapSql =
    s"""WITH $jaccardCtesMat,
       |srcmap AS (SELECT doc_id, source FROM documents),
       |m AS (
       |  SELECT LEAST(sa.source, sb.source) AS source_a,
       |    GREATEST(sa.source, sb.source) AS source_b,
       |    COUNT(*) AS n_candidates,
       |    CAST(SUM(CASE WHEN j.jaccard >= $jaccardThreshold
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
       |    CAST(SUM(CAST(FLOOR(j.jaccard * 10000 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sum_jaccard_q4
       |  FROM jaccard j
       |  JOIN srcmap sa ON sa.doc_id = j.doc_a
       |  JOIN srcmap sb ON sb.doc_id = j.doc_b
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_candidates, n_near_dups,
       |  sum_jaccard_q4,
       |  (sum_jaccard_q4 * 100) // n_candidates AS mean_jaccard_micro
       |FROM m""".stripMargin

  private val sourceStatsSql =
    s"""WITH RECURSIVE $clusterCtes,
       |ek_src AS (
       |  SELECT md5(text) AS fp, MIN(doc_id) AS keep_id
       |  FROM documents GROUP BY md5(text))
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_exact_dups,
       |  CAST(SUM(CASE WHEN d.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_near_dups,
       |  CAST(SUM(CASE WHEN d.doc_id <> k.keep_id THEN d.n_chars ELSE 0 END)
       |    AS BIGINT) AS dup_chars,
       |  round(CAST(SUM(CASE WHEN d.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS near_dup_ratio
       |FROM documents d
       |JOIN ek_src k ON k.fp = md5(d.text)
       |JOIN clusters c ON c.doc_id = d.doc_id
       |GROUP BY d.source""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("dedup_lsh_curve", lshCurve, Some(lshCurveSql),
      "LSH sensitivity curve: candidate volume and verified-jaccard mass per collided-band count (the r,b tuning artifact)"),
    Op("dedup_lsh_curve_capped", lshCurveCapped, Some(lshCurveCappedSql),
      "the sensitivity curve over the DF-capped shingle universe - the same truth definition the quality report labels, so both dedup-quality readouts share one capped base"),
    Op("dedup_quality_report", qualityReport, Some(qualityReportSql),
      "MinHash-LSH precision/recall/F1 vs exhaustive exact-Jaccard truth on a budget-sampled doc set with DF-capped shingles - the recall-report discipline for the dedup index"),
    Op("dedup_quality_report_b125", qualityReportB125,
      Some(qualityReportB125Sql),
      "sample-budget twin (125 docs): pins that the truth-join plan shape is invariant to the budget dial"),
    Op("dedup_source_stats", sourceStats, Some(sourceStatsSql),
      "per-source duplication report: exact-copy and near-dup counts plus wasted char mass"),
    Op("dedup_cross_source", crossSourceOverlap,
      Some(crossSourceOverlapSql),
      "cross-source duplication matrix: candidate/verified near-dup counts and mean Jaccard per unordered source pair over the capped LSH candidates — the which-crawl-to-drop sourcing readout"),
    Op("dedup_incremental", incrementalDedup, Some(incrementalDedupSql),
      "incremental batch-vs-corpus dedup against persisted fingerprint + band indexes"),
    Op("dedup_segments", segmentDedup, Some(segmentDedupSql),
      "corpus-wide segment (line-level) dedup with ordered reassembly"),
    Op("text_contamination", contamination, Some(contaminationSql),
      "benchmark n-gram overlap (decontamination flag per corpus doc)"),
    Op("dedup_clusters", dedupClusters, Some(dedupClustersSql),
      "transitive near-dup clustering: min-label propagation to fixpoint"),
    Op("dedup_survivors", nearDupSurvivors, Some(nearDupSurvivorsSql),
      "near-dup survivors = cluster minima (transitive, chain-safe)"),
    Op("dedup_exact", exactDedup, Some(exactDedupSql),
      "exact dedup via content-hash group-by"),
    Op("dedup_minhash_lsh", minhashLsh, Some(minhashLshSql),
      "MinHash(8) + LSH banding (4x2) candidate pairs"),
    Op("dedup_simhash", simhash, Some(simhashSql),
      "SimHash 8-bit signatures from md5-hex projections"),
    Op("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql),
      "3-gram Jaccard verification of LSH candidates"),
    Op("dedup_containment", containment, Some(containmentSql),
      "asymmetric shingle containment on LSH candidates (quote/superset inclusion flag)"),
    Op("dedup_edit_distance", editDistance, Some(editDistanceSql),
      "exact Levenshtein verify over LSH candidates; relative-distance near-dup flag"),
    Op("dedup_substring_spans", substringSpans, Some(substringSpansSql),
      "ExactSubstr span dedup: maximal >=k-token spans duplicated anywhere in the corpus, per doc"),
    Op("dedup_substring_apply", substringApply, Some(substringApplySql),
      "ExactSubstr cut: remove all but the canonical occurrence of every duplicated span, rebuild text"))
}
