package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline over the
  * `documents` table: token statistics, quality scoring, language-ID
  * heuristic, fingerprinting. All narrow per-row transforms: at 100 TB
  * these are embarrassingly parallel map stages with no shuffle; the only
  * requirement is that the text column is pruned/projected at the scan.
  */
object TextOps extends OpGroup {

  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  // ---------------------------------------------------------------------
  // The corpus term index: the whitespace-token table every lexical op
  // reads instead of re-tokenizing `documents` per call (the split and
  // explode are the dominant per-row cost of those ops). Three frames,
  // each its own Memo key so eviction unpersists each one:
  //  - termFreqs   "termIndex.tf": (doc_id, tok, tf), one row per
  //                distinct token of a doc; a null text has no rows
  //  - termStats   "termIndex.df": (tok, df, cf), documents containing
  //                the token and its corpus count (Σtf)
  //  - docLengths  "termIndex.dl": (doc_id, dl), one row per document;
  //                dl = token count (Σtf), NULL for a null text, so the
  //                frame also counts documents
  // Consumers stay exact: an occurrence count becomes Σtf and a per-doc
  // sum of a per-token integer x becomes Σ(tf·x), both integer
  // arithmetic. Sized by `Parts` from the documents parquet bytes: a tf
  // row (two longs + the token) is a few times its share of the
  // compressed text, the vocabulary and the per-doc table are smaller.
  // ---------------------------------------------------------------------
  private[graft] def termFreqs(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "termIndex.tf") {
      Parts.sized(docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf")),
        Parts.sourceBytes(s, dir, "documents") * 4).cache()
    }

  private[graft] def termStats(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "termIndex.df") {
      Parts.sized(termFreqs(s, dir).groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")),
        Parts.sourceBytes(s, dir, "documents")).cache()
    }

  private[graft] def docLengths(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "termIndex.dl") {
      Parts.sized(docs(s, dir).select(col("doc_id"),
        when(col("text").isNotNull,
          size(tokens(col("text"))).cast("long")).as("dl")),
        Parts.sourceBytes(s, dir, "documents") / 8).cache()
    }

  /** Build and materialize the term index (the build phase's entry). */
  def buildTermIndex(s: SparkSession, dir: String): Unit =
    Seq(termFreqs _, termStats _, docLengths _).foreach(_(s, dir).count())

  // ---------------------------------------------------------------------
  // Token statistics: whitespace tokens, BPE-ish tokens, char lengths.
  // ---------------------------------------------------------------------
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, dir).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(bpeTokens(col("text"))).as("n_bpe_tokens"),
      length(col("text")).as("len_chars"),
      round(
        aggregate(transform(toks, t => length(t)), lit(0),
          (acc, x) => acc + x).cast("double") / size(toks), 4)
        .as("mean_token_len"))
  }

  // ---------------------------------------------------------------------
  // Tokenizer fertility per language: BPE-ish tokens per whitespace word
  // and characters per token — the per-language efficiency numbers every
  // tokenizer paper reports (a language whose fertility runs high pays
  // proportionally more sequence length for the same text, which skews
  // both its compute share and its effective context window). One
  // map-side-combinable hash-agg to |langs| rows; ratios are exact
  // integer milli-divisions (DIV), no float accumulation anywhere.
  // ---------------------------------------------------------------------
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("lang"),
      size(tokens(col("text"))).cast("long").as("w"),
      size(bpeTokens(col("text"))).cast("long").as("b"),
      length(col("text")).cast("long").as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("b")).as("n_bpe_tokens"), sum(col("c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        // all-empty-text strata yield NULL, not an ANSI divide error
        when(col("n_words") > 0,
          expr("(n_bpe_tokens * 1000) DIV n_words")).as("fertility_milli"),
        when(col("n_bpe_tokens") > 0,
          expr("(n_chars * 1000) DIV n_bpe_tokens"))
          .as("chars_per_token_milli"))

  private lazy val tokenizerFertilitySql =
    """WITH t AS (
      |  SELECT lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS b,
      |    CAST(len(text) AS BIGINT) AS c
      |  FROM documents),
      |g AS (
      |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_words,
      |    CAST(SUM(b) AS BIGINT) AS n_bpe_tokens,
      |    CAST(SUM(c) AS BIGINT) AS n_chars
      |  FROM t GROUP BY lang)
      |SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
      |  CASE WHEN n_words > 0
      |       THEN (n_bpe_tokens * 1000) // n_words END AS fertility_milli,
      |  CASE WHEN n_bpe_tokens > 0
      |       THEN (n_chars * 1000) // n_bpe_tokens END AS chars_per_token_milli
      |FROM g""".stripMargin

  private val tokenStatsSql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
      |  CAST(len(text) AS INT) AS len_chars,
      |  round(CAST(list_reduce(list_transform(string_split_regex(trim(text), '\s+'), t -> len(t)), (a, x) -> a + x) AS DOUBLE)
      |        / len(string_split_regex(trim(text), '\s+')), 4) AS mean_token_len
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus vocabulary heavy-hitters: exact top-k token frequencies.
  // explode → hash-agg (partial map-side combine: shuffle carries one row
  // per distinct token per mapper, never per occurrence) → global
  // TakeOrdered(k) — no full sort, no driver-side loop. Tie-break
  // (count DESC, token ASC) is total, so the cut is deterministic.
  // ---------------------------------------------------------------------
  val topTokenK = 50

  def topTokens(s: SparkSession, dir: String): DataFrame =
    termStats(s, dir)
      .select(col("tok").as("token"), col("cf").as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topTokenK)

  private val topTokensSql =
    s"""SELECT token, COUNT(*) AS n
       |FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
       |      FROM documents)
       |GROUP BY token
       |ORDER BY n DESC, token ASC
       |LIMIT $topTokenK""".stripMargin

  // ---------------------------------------------------------------------
  // Quality scoring: stopword ratio, punctuation ratio, label.
  // ---------------------------------------------------------------------
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopRatio = round(stopCount(toks).cast("double") / size(toks), 4)
    val punctRatio =
      round(punctCount(col("text")).cast("double") / length(col("text")), 4)
    docs(s, dir).select(
      col("doc_id"),
      stopRatio.as("stop_ratio"),
      punctRatio.as("punct_ratio"),
      when(size(toks) >= 20 && stopRatio >= 0.02, lit("good"))
        .otherwise(lit("low")).as("quality"))
  }

  private[ops] val qualityScoreSql = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, stop_ratio, punct_ratio,
       |  CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.02
       |       THEN 'good' ELSE 'low' END AS quality
       |FROM (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    round(CAST(len(list_filter(toks, t -> t IN ($stopList))) AS DOUBLE) / len(toks), 4) AS stop_ratio,
       |    round(CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text), 4) AS punct_ratio
       |  FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
       |        FROM documents) t) q""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Character-entropy quality signal: Shannon entropy of the per-doc
  // character distribution — the standard gibberish/boilerplate detector
  // (near-zero = repeated filler, ~4.1 bits = English-like prose, high =
  // random/encoded bytes). Two distributive aggregations, both
  // map-side-combinable: chars explode linearly, the (doc, char) count
  // collapses to O(docs × alphabet) before the doc rollup, and
  // H = log2(n) − Σc·log2(c)/n needs no per-doc array. log2 low bits
  // differ across libm implementations, so the score quantizes at 1e-3
  // like every cross-engine float. ASCII corpus: code-unit vs
  // grapheme splitting agree; a unicode corpus would need a shared
  // normalization first.
  // ---------------------------------------------------------------------
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    val perChar = docs(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    perChar.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("double") * log2(col("c").cast("double")))
          .as("clc"))
      .select(col("doc_id"), col("n").cast("long").as("n_chars"),
        floor((log2(col("n").cast("double")) - col("clc") / col("n"))
          * 1000 + 0.5).cast("long").as("entropy_q"))
  }

  private val charEntropySql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE len(text) > 0),
      |pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, sum(c) AS n,
      |         sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clc
      |  FROM pc GROUP BY 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
      |  CAST(floor((log2(CAST(n AS DOUBLE)) - clc / n) * 1000 + 0.5)
      |    AS BIGINT) AS entropy_q
      |FROM ag""".stripMargin

  // ---------------------------------------------------------------------
  // Language-ID heuristic: stopword evidence per candidate language.
  // Deliberately binary (en/und): the harness corpus has NO cross-language
  // signal — every `lang` label (en/de/fr/es/zh) draws from the identical
  // vocabulary — so per-language stopword profiles would score 0 for
  // everything but English and the extra profiles would be dead weight.
  // On a real corpus, extend by adding (lang -> stopword list) profiles
  // and taking the argmax hit count with a deterministic tie order; the
  // plan stays one narrow codegen'd map either way. `agrees` records the
  // label comparison regardless.
  // ---------------------------------------------------------------------
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val enHits = stopCount(toks)
    val predicted = when(enHits >= 1, lit("en")).otherwise(lit("und"))
    docs(s, dir).select(
      col("doc_id"),
      predicted.as("predicted_lang"),
      col("lang"),
      (predicted === col("lang")).as("agrees"))
  }

  private[ops] val langIdSql = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, predicted_lang, lang, predicted_lang = lang AS agrees
       |FROM (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'),
       |                              t -> t IN ($stopList))) >= 1
       |         THEN 'en' ELSE 'und' END AS predicted_lang
       |  FROM documents) p""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Language-ID evaluation against ground truth: the confusion table of
  // predicted vs labeled language, each cell carrying its count and its
  // share of the TRUE language's documents (recall decomposition in
  // integer ppm) — the measure-your-classifier discipline applied to the
  // gate that decides corpus membership first (a lang-ID with poor
  // recall on a language silently deletes that language from the
  // corpus; this table is where that shows). One hash-agg to
  // langs × predictions rows + a broadcast join of |langs| totals.
  // ---------------------------------------------------------------------
  def langIdEval(s: SparkSession, dir: String): DataFrame = {
    val cells = langId(s, dir)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
    cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("predicted_lang"), col("n_docs"),
        expr("(n_docs * 1000000) DIV n_lang").as("share_of_lang_ppm"),
        (col("lang") === col("predicted_lang")).as("correct"))
  }

  private lazy val langIdEvalSql =
    s"""WITH li AS ($langIdSql),
       |cells AS (
       |  SELECT lang, predicted_lang, COUNT(*) AS n_docs
       |  FROM li GROUP BY 1, 2),
       |tl AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
       |       FROM cells GROUP BY 1)
       |SELECT c.lang, c.predicted_lang, c.n_docs,
       |  (c.n_docs * 1000000) // t.n_lang AS share_of_lang_ppm,
       |  c.lang = c.predicted_lang AS correct
       |FROM cells c JOIN tl t ON t.lang = c.lang""".stripMargin

  // ---------------------------------------------------------------------
  // Exact length quantiles per language: the cut points a quality filter
  // would threshold on. `percentile` is Spark's EXACT sort-based
  // implementation with linear interpolation — the same definition as
  // DuckDB's quantile_cont, so the oracle compares exactly (after 4dp
  // rounding to absorb the final double divide). At 100 TB swap in
  // percentile_approx and the rows-only check, like a1_agg_approx.
  // ---------------------------------------------------------------------
  def lengthQuantiles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(length(text), 0.5)"), 4).as("p50_len"),
        round(expr("percentile(length(text), 0.95)"), 4).as("p95_len"))

  private val lengthQuantilesSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  round(quantile_cont(len(text), 0.5), 4) AS p50_len,
      |  round(quantile_cont(len(text), 0.95), 4) AS p95_len
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // Approximate-quantile twin of the above ([[lengthQuantiles]] names
  // this as the 100 TB path): percentile_approx keeps a fixed-size
  // KLL-style sketch per group and merges map-side — no per-group value
  // sort. Same oracle pattern as a1_agg_approx: sketch values can't be
  // hash-compared across engines, so the query emits the group keys,
  // exact doc counts, and booleans asserting each estimate lands inside
  // a ±5-rank-percent band of the exact quantile (default accuracy 10000
  // bounds rank error at 0.01%, so the band is generous); the oracle
  // asserts TRUE.
  // ---------------------------------------------------------------------
  def lengthQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile_approx(length(text), 0.5)").as("p50a"),
        expr("percentile(length(text), 0.45)").as("p50lo"),
        expr("percentile(length(text), 0.55)").as("p50hi"),
        expr("percentile_approx(length(text), 0.95)").as("p95a"),
        expr("percentile(length(text), 0.90)").as("p95lo"),
        expr("percentile(length(text), 0.99)").as("p95hi"))
      .select(col("lang"), col("n_docs"),
        col("p50a").between(col("p50lo"), col("p50hi")).as("p50_in_band"),
        col("p95a").between(col("p95lo"), col("p95hi")).as("p95_in_band"))

  private val lengthQuantilesApproxSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  TRUE AS p50_in_band, TRUE AS p95_in_band
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // Deterministic train/eval split: assign each doc by a hash of its id,
  // first 2 md5 hex chars < "29" ≈ 16% eval. The standard alternative —
  // seeded random sampling (sampleBy) — is engine-RNG-dependent and
  // can't be oracle-checked or reproduced across reruns/backfills; a
  // content-id hash is stable under repartitioning, appends, and engine
  // swaps, which is what a split column must survive in a 100 TB corpus
  // that gets rebuilt incrementally. One narrow codegen'd map, no state.
  // ---------------------------------------------------------------------
  val evalHexCeiling = "29"

  def splitAssign(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      when(substring(fastMd5(col("doc_id").cast("string")), 1, 2)
        < evalHexCeiling, lit("eval")).otherwise(lit("train")).as("split"))

  private val splitAssignSql =
    s"""SELECT doc_id, lang,
       |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$evalHexCeiling'
       |       THEN 'eval' ELSE 'train' END AS split
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // Deterministic STRATIFIED sampling: per-language Bernoulli rates via a
  // salted content-id hash — downsample the dominant language, keep more
  // of the rare ones (the corpus-rebalancing step of a training-data
  // pipeline). Spark's `sampleBy` draws from the engine RNG, so the
  // sample changes across reruns, engines, and repartitions; a hash of
  // the doc id is stable under all three and under appends. The hash is
  // SALTED with the op name so the sampling decision is independent of
  // [[splitAssign]]'s train/eval hash (unsalted, the two thresholds
  // would nest and the sample would correlate with the split). One
  // narrow codegen'd filter, no shuffle, no state.
  // ---------------------------------------------------------------------
  /** lang → first-2-md5-hex ceiling: en 12.5% ("20"/"100"), rest 50%. */
  val strataCeilings: Seq[(String, String)] = Seq(
    "en" -> "20", "de" -> "80", "fr" -> "80", "es" -> "80", "zh" -> "80")

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h = substring(
      fastMd5(concat(lit("strat|"), col("doc_id").cast("string"))), 1, 2)
    val ceiling = strataCeilings.foldLeft(lit("00")) {
      case (acc, (l, c)) => when(col("lang") === l, lit(c)).otherwise(acc)
    }
    docs(s, dir).filter(h < ceiling).select(col("doc_id"), col("lang"))
  }

  private val stratifiedSampleSql = {
    val cases = strataCeilings
      .map { case (l, c) => s"WHEN '$l' THEN '$c'" }.mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 2) <
       |  CASE lang $cases ELSE '00' END""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Within-document repetition signals (the Gopher-rules family): the
  // fraction of bigram occurrences taken by the single most frequent
  // bigram, and the fraction of trigram occurrences whose trigram repeats
  // within the doc. Boilerplate/template text scores high on both; a
  // quality gate thresholds them. Shape: ONE explode of both gram sizes
  // (lookahead-regex generation, no interpreted lambdas) → two-level
  // hash-agg keyed (doc_id, k, gram) then doc_id — partial aggregation
  // applies map-side, and both agg levels plus the join back to the doc
  // list share the doc_id shuffle key. Per-doc gram cardinality is
  // bounded by doc length, so no skew at corpus scale.
  // ---------------------------------------------------------------------
  val topBigramMax = 0.20
  val dupTrigramMax = 0.30

  def repetitionSignals(s: SparkSession, dir: String): DataFrame =
    repetitionSignalsOver(docs(s, dir))

  /** The signals over ANY frame with `doc_id`/`text` (test seam: the
    * harness corpus never crosses the published thresholds, so the
    * `repetitive` branch is exercised on constructed docs).
    */
  private[graft] def repetitionSignalsOver(d: DataFrame): DataFrame = {
    val grams = d.select(col("doc_id"), lit(2).as("k"),
        explode(overlappingBigrams(col("text"))).as("g"))
      .unionByName(d.select(col("doc_id"), lit(3).as("k"),
        explode(overlappingTrigrams(col("text"))).as("g")))
    val per = grams.groupBy(col("doc_id"), col("k"), col("g"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("k") === 2, col("n"))).as("top2"),
        sum(when(col("k") === 2, col("n"))).as("tot2"),
        sum(when(col("k") === 3 && col("n") >= 2, col("n"))).as("dup3"),
        sum(when(col("k") === 3, col("n"))).as("tot3"))
    // sum(when…) over zero matching rows is NULL (short doc / no repeated
    // trigram) — both fractions default to 0.0, same as the oracle.
    val topFrac =
      coalesce(round(col("top2").cast("double") / col("tot2"), 4), lit(0.0))
    val dupFrac =
      coalesce(round(col("dup3").cast("double") / col("tot3"), 4), lit(0.0))
    d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        topFrac.as("top_bigram_frac"),
        dupFrac.as("dup_trigram_frac"))
      .withColumn("repetitive",
        col("top_bigram_frac") > topBigramMax ||
          col("dup_trigram_frac") > dupTrigramMax)
  }

  private val repetitionSignalsSql =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |           FROM documents),
       |grams AS (
       |  SELECT doc_id, 2 AS k, unnest(list_transform(range(0, len(w) - 1),
       |    i -> array_to_string(w[i+1:i+2], ' '))) AS g
       |  FROM w
       |  UNION ALL
       |  SELECT doc_id, 3 AS k, unnest(list_transform(range(0, len(w) - 2),
       |    i -> array_to_string(w[i+1:i+3], ' '))) AS g
       |  FROM w),
       |counts AS (SELECT doc_id, k, g, COUNT(*) AS n
       |           FROM grams GROUP BY 1, 2, 3),
       |per AS (SELECT doc_id,
       |  max(n) FILTER (WHERE k = 2) AS top2,
       |  sum(n) FILTER (WHERE k = 2) AS tot2,
       |  sum(n) FILTER (WHERE k = 3 AND n >= 2) AS dup3,
       |  sum(n) FILTER (WHERE k = 3) AS tot3
       |  FROM counts GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(round(CAST(top2 AS DOUBLE) / tot2, 4), 0.0) AS top_bigram_frac,
       |  coalesce(round(CAST(dup3 AS DOUBLE) / tot3, 4), 0.0) AS dup_trigram_frac,
       |  coalesce(round(CAST(top2 AS DOUBLE) / tot2, 4), 0.0) > $topBigramMax
       |    OR coalesce(round(CAST(dup3 AS DOUBLE) / tot3, 4), 0.0) > $dupTrigramMax
       |    AS repetitive
       |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF top terms per document — the relevance-weighting step of a
  // retrieval / keyword-extraction pipeline. Weight = tf × (N+1)/(df+1):
  // the RATIONAL idf (no ln) ranks identically to log-idf (x ↦ ln is
  // monotone, and ln would differ between libm implementations in the
  // last ulp, breaking the cross-engine hash); +1 smoothing keeps
  // corpus-wide terms finite. The expression is written with the same
  // association on both engines, so every double op is IEEE-identical.
  //
  // Plan shape: the term index's tf and df tables join on the term, then
  // a doc_id window takes the top-k cut. Corpus size N (every document,
  // null texts included) joins as a broadcast 1-row aggregate of the
  // per-doc table, not a driver-side collect. Heavy terms are exactly
  // the high-df ones, so the term shuffle has no meaningful skew.
  // ---------------------------------------------------------------------
  val tfidfTopK = 3

  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = termFreqs(s, dir).withColumnRenamed("tok", "term")
    val df = termStats(s, dir).select(col("tok").as("term"), col("df"))
    // n counts documents, null texts included: docLengths has one row each
    val n = docLengths(s, dir).agg(count(lit(1)).as("n"))
    val w = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("weight",
        col("tf") * (col("n") + lit(1.0)) / (col("df") + lit(1.0)))
    import org.apache.spark.sql.expressions.Window
    w.withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("weight").desc, col("term").asc)))
      .filter(col("rnk") <= tfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("weight"),
        col("rnk"))
  }

  private val tfidfTopTermsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |w AS (SELECT doc_id, tf.term, tf, tf * (n + 1.0) / (df + 1.0) AS weight
       |      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
       |SELECT doc_id, term, tf, weight, rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY weight DESC, term ASC) AS rnk FROM w) r
       |WHERE rnk <= $tfidfTopK""".stripMargin

  // ---------------------------------------------------------------------
  // Training-sequence packing: concatenate documents in a deterministic
  // order and cut every `packCapacity` tokens — the GPT-style pretraining
  // layout where token streams flow continuously and a document may
  // straddle a sequence boundary. Packing is per (lang, shard) stratum:
  // a single global running sum would serialize the corpus through one
  // window partition, so the stream is hash-sharded first and each shard
  // packs independently — at 100 TB raise the shard count and every
  // stratum is still one bounded window partition. One shuffle on the
  // stratum key; the running sum itself is a linear pass per partition.
  // ---------------------------------------------------------------------
  val packCapacity = 256
  val packShards = 4

  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seqFirst =
      floor((col("cum_tokens") - col("n_tokens")) / lit(packCapacity.toDouble))
    val seqLast = floor((col("cum_tokens") - 1) / lit(packCapacity.toDouble))
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % packShards).as("shard"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        col("cum_tokens"),
        seqFirst.as("seq_first"), seqLast.as("seq_last"),
        (seqFirst =!= seqLast).as("crosses_boundary"))
  }

  private val packSequencesSql =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, doc_id % $packShards AS shard,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, shard, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM toks)
       |SELECT doc_id, lang, shard, n_tokens, cum_tokens,
       |  CAST(FLOOR((cum_tokens - n_tokens) / $packCapacity.0) AS BIGINT) AS seq_first,
       |  CAST(FLOOR((cum_tokens - 1) / $packCapacity.0) AS BIGINT) AS seq_last,
       |  CAST(FLOOR((cum_tokens - n_tokens) / $packCapacity.0) AS BIGINT)
       |    <> CAST(FLOOR((cum_tokens - 1) / $packCapacity.0) AS BIGINT) AS crosses_boundary
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // Overlapping chunking (RAG / context-window prep): fixed-width char
  // windows every `chunkStride` chars, so consecutive chunks overlap by
  // width − stride. explode(sequence(...)) fans each doc out to its
  // offsets inside one narrow codegen'd stage — no shuffle at all; chunk
  // extraction is a per-row substring. Output size is a fixed multiple
  // of the corpus (≈ len/stride rows per doc), the scale cost is the
  // write, not the plan.
  // ---------------------------------------------------------------------
  val chunkWidth = 120
  val chunkStride = 90

  def chunkOverlap(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)),
          lit(chunkStride))).as("off"))
      .select(col("doc_id"), col("off"),
        floor(col("off") / lit(chunkStride.toDouble)).cast("int").as("chunk_idx"),
        col("text").substr(col("off") + 1, lit(chunkWidth)).as("chunk"))

  private val chunkOverlapSql =
    s"""SELECT doc_id, CAST(off AS INT) AS off,
       |  CAST(FLOOR(off / $chunkStride.0) AS INT) AS chunk_idx,
       |  substr(text, CAST(off AS INT) + 1, $chunkWidth) AS chunk
       |FROM (SELECT doc_id, text,
       |        unnest(generate_series(0, greatest(length(text) - 1, 0), $chunkStride)) AS off
       |      FROM documents) t""".stripMargin

  // ---------------------------------------------------------------------
  // Data-mixing plan: per-source token inventory + the sampling rate that
  // hits a per-source token budget (rate = min(1, budget/tokens)) — the
  // planning half of mixture construction; text_stratified_sample is the
  // execution half. One map-side-combined hash-agg over the corpus; the
  // result is one row per source, broadcast-sized at any corpus scale.
  // Rates are rounded BEFORE the estimated-token product so both engines
  // multiply the identical double.
  // ---------------------------------------------------------------------
  val mixTokenBudget = 4000

  def mixtureWeights(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("rate",
        round(least(lit(1.0), lit(mixTokenBudget.toDouble) / col("n_tokens")), 6))
      .withColumn("est_tokens",
        floor(col("rate") * col("n_tokens")).cast("long"))

  private val mixtureWeightsSql =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
       |  round(least(1.0, $mixTokenBudget.0 / CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)), 6) AS rate,
       |  CAST(FLOOR(round(least(1.0, $mixTokenBudget.0 / CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)), 6)
       |    * CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)) AS BIGINT) AS est_tokens
       |FROM documents GROUP BY source""".stripMargin
  // ---------------------------------------------------------------------
  // Unigram LM quality score: the CCNet-style filter signal — score each
  // document by the average log-probability of its tokens under the
  // corpus's own unigram distribution (low = out-of-distribution junk).
  //
  // Scale design: the term index's vocabulary (cf per token) gives the
  // log-probs; the tf table joins them and re-aggregates by doc_id, a
  // token's occurrences weighted by tf. No broadcast hint on the
  // vocab join: AQE picks broadcast while the vocab fits and falls back
  // to shuffle join when it doesn't (a 100 TB corpus vocabulary can be
  // billions of tokens — never assume it is driver-sized).
  //
  // Determinism: ln() is quantized to integer MICRO-units per DISTINCT
  // token (floor, not half-rounding) before any summation, so the
  // per-doc sums are exact integer arithmetic in any engine and any
  // partition order; only the final display division is floating point.
  // ---------------------------------------------------------------------
  def lmScore(s: SparkSession, dir: String): DataFrame =
    termFreqs(s, dir).join(unigramLogProbs(s, dir), "tok")
      .groupBy(col("doc_id"))
      .agg(sum("tf").cast("int").as("n_tokens"),
        sum(col("tf") * col("lp_micro")).as("lp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lp_sum").cast("double") / lit(1e6) / col("n_tokens"), 4)
          .as("avg_logprob"))

  /** (tok, lp_micro): floor(ln(cf / Σcf) · 10⁶) per distinct token. */
  private def unigramLogProbs(s: SparkSession, dir: String): DataFrame = {
    val freq = termStats(s, dir).select(col("tok"), col("cf").as("c"))
    val total = freq.agg(sum("c").as("n"))
    freq.crossJoin(broadcast(total))
      .select(col("tok"),
        floor(log(col("c").cast("double") / col("n")) * lit(1e6))
          .cast("long").as("lp_micro"))
  }

  private val lmScoreSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |tot AS (SELECT SUM(c) AS n FROM freq),
      |lp AS (
      |  SELECT tok, CAST(FLOOR(ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS lp_micro
      |  FROM freq, tot)
      |SELECT t.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
      |  round(CAST(SUM(l.lp_micro) AS DOUBLE) / 1000000 / COUNT(*), 4) AS avg_logprob
      |FROM toks t JOIN lp l USING (tok)
      |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
  // language's documents into head/middle/tail at the per-language LM-
  // score tertiles — the published recipe for ranking a crawl by fluency
  // per language so downstream mixing can favor the head. Composes
  // lmScore's integer-quantized doc score with the curriculum op's
  // broadcast-cut-point discipline: the naive form is ntile(3) OVER
  // (PARTITION BY lang ORDER BY score) — a stratum-sized window sort,
  // the shape the window audit rejects.
  //
  // Scale design: the doc score reuses lmScore's two partial-agg'd
  // shuffles. The tertile cuts use EXACT percentile over the MILLI-
  // quantized score, whose aggregation state is bounded by the VALUE
  // RANGE, not the corpus: avg log-prob per token lies in
  // [ln(1/corpus_tokens), 0] — even a 10^14-token corpus floors at
  // -32e3 milli — so the counts-map percentile buffer holds ≤ ~35k
  // distinct integers per language no matter how many documents feed
  // it. Cuts re-enter as a broadcast; assignment is a stateless CASE.
  //
  // Determinism: score_milli is exact integer arithmetic (floor of an
  // exact-double division); both engines interpolate tertiles with the
  // same lower + frac*(upper-lower) formula over identical integers,
  // and a tertile of integer positions is never within one ulp of an
  // integer unless exactly ON one, so the <= boundary rule (boundary
  // doc → lower bucket) agrees across engines.
  // ---------------------------------------------------------------------
  /** The narrow (doc_id, lang, score_milli) frame perplexityBuckets
    * reads twice — the cut computation and the final assignment. Left
    * lazy, Catalyst plans the whole scoring chain TWICE (two corpus
    * passes, and the audit sees the doubled cross-join); built once per
    * (session, dir), both read this cache and the scoring chain runs
    * once. Sized by `Parts` like [[docLengths]]: one narrow row per
    * document.
    */
  private[graft] def perplexityByLang(s: SparkSession,
      dir: String): DataFrame =
    Memo.of(s, dir, "perplexityByLang") {
      val scored = termFreqs(s, dir).join(unigramLogProbs(s, dir), "tok")
        .groupBy(col("doc_id"))
        .agg(floor(sum(col("tf") * col("lp_micro")).cast("double") /
          (sum("tf") * lit(1000.0))).cast("long").as("score_milli"))
      val byLang = Parts.sized(
        docs(s, dir).select(col("doc_id"), col("lang")).join(scored, "doc_id"),
        Parts.sourceBytes(s, dir, "documents") / 8).cache()
      byLang.count()
      byLang
    }

  def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val byLang = perplexityByLang(s, dir)
    val cuts = byLang.groupBy(col("lang")).agg(
      expr("percentile(score_milli, 0.3333333333333333)").as("c1"),
      expr("percentile(score_milli, 0.6666666666666666)").as("c2"))
    byLang.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("score_milli"),
        when(col("score_milli") <= col("c1"), lit("tail"))
          .when(col("score_milli") <= col("c2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  private val perplexityBucketsSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |tot AS (SELECT SUM(c) AS n FROM freq),
      |lp AS (
      |  SELECT tok, CAST(FLOOR(ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS lp_micro
      |  FROM freq, tot),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(FLOOR(CAST(SUM(l.lp_micro) AS DOUBLE) / (COUNT(*) * 1000.0)) AS BIGINT) AS score_milli
      |  FROM toks t JOIN lp l USING (tok) GROUP BY t.doc_id),
      |by_lang AS (
      |  SELECT d.doc_id, d.lang, s.score_milli
      |  FROM documents d JOIN scored s USING (doc_id)),
      |cuts AS (
      |  SELECT lang,
      |    quantile_cont(score_milli, 0.3333333333333333) AS c1,
      |    quantile_cont(score_milli, 0.6666666666666666) AS c2
      |  FROM by_lang GROUP BY lang)
      |SELECT b.doc_id, b.lang, b.score_milli,
      |  CASE WHEN b.score_milli <= c.c1 THEN 'tail'
      |       WHEN b.score_milli <= c.c2 THEN 'middle'
      |       ELSE 'head' END AS bucket
      |FROM by_lang b JOIN cuts c USING (lang)""".stripMargin

  // ---------------------------------------------------------------------
  // Data-mixing drift: KL(P_source || P_corpus) over unigram token
  // distributions — the QA twin of mixtureWeights (which plans HOW MUCH
  // of each source to take, while this measures how far each source's
  // language is from the blend). Same integer-quantization rule as
  // lmScore: each (source, token) KL term is floored to NANO-units
  // before the per-source sum, so partition order can't move the result.
  // (source × distinct-token) rows stay aggregate-sized at any corpus
  // scale; every join key is the token, shuffled once.
  // ---------------------------------------------------------------------
  def klMixture(s: SparkSession, dir: String): DataFrame = {
    val bySrc = docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
    val srcTot = bySrc.groupBy(col("source")).agg(sum("c_st").as("n_s"))
    val corpus = bySrc.groupBy(col("tok")).agg(sum("c_st").as("c_t"))
    val corpusTot = corpus.agg(sum("c_t").as("n"))
    val pSt = col("c_st").cast("double") / col("n_s")
    val pT = col("c_t").cast("double") / col("n")
    bySrc.join(srcTot, "source")
      .join(corpus, "tok")
      .crossJoin(broadcast(corpusTot))
      .select(col("source"),
        floor(pSt * log(pSt / pT) * lit(1e9)).cast("long").as("term_nano"))
      .groupBy(col("source"))
      .agg(sum("term_nano").as("kl_nano"))
      .select(col("source"),
        round(col("kl_nano").cast("double") / lit(1e9), 6).as("kl_divergence"))
  }

  private val klMixtureSql =
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |by_src AS (SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
      |src_tot AS (SELECT source, SUM(c_st) AS n_s FROM by_src GROUP BY 1),
      |corpus AS (SELECT tok, SUM(c_st) AS c_t FROM by_src GROUP BY 1),
      |tot AS (SELECT SUM(c_t) AS n FROM corpus)
      |SELECT b.source,
      |  round(CAST(SUM(CAST(FLOOR(
      |    (CAST(b.c_st AS DOUBLE) / s.n_s)
      |    * ln((CAST(b.c_st AS DOUBLE) / s.n_s) / (CAST(c.c_t AS DOUBLE) / t.n))
      |    * 1000000000) AS BIGINT)) AS DOUBLE) / 1000000000, 6) AS kl_divergence
      |FROM by_src b
      |JOIN src_tot s USING (source)
      |JOIN corpus c USING (tok), tot t
      |GROUP BY b.source""".stripMargin

  // ---------------------------------------------------------------------
  // PII redaction: email / phone / IPv4 regex classes replaced with
  // typed placeholders, plus per-class match counts. The synthetic corpus
  // carries no PII (verified: zero '@' or digit-dot sequences), so the
  // query enriches each document with DETERMINISTIC spans derived from
  // doc_id — constructed identically in the DuckDB oracle — making the
  // redaction branch genuinely fire (≈half the docs get an email, a third
  // a phone, a fifth an IP) instead of passing vacuously on no-ops.
  //
  // Pure per-row map stage (no shuffle); patterns stay in the
  // Java∩RE2 common subset so both engines match the same spans. The
  // counts are taken on the pre-redaction text, the fingerprint on the
  // post-redaction text, so the oracle verifies both the detector and
  // the rewriter byte-for-byte.
  // ---------------------------------------------------------------------
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+[0-9][0-9-]{6,}[0-9]"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val enriched = concat(col("text"),
      when(id % 2 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com"))).otherwise(lit("")),
      when(id % 3 === 0, concat(lit(" call +1-555-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" from 10."), (id % 256).cast("string"),
        lit(".0.1"))).otherwise(lit("")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(enriched,
      lit(emailRe), lit("<EMAIL>")),
      lit(phoneRe), lit("<PHONE>")),
      lit(ipRe), lit("<IP>"))
    docs(s, dir).select(id,
      regexp_count(enriched, lit(emailRe)).cast("int").as("n_email"),
      regexp_count(enriched, lit(phoneRe)).cast("int").as("n_phone"),
      regexp_count(enriched, lit(ipRe)).cast("int").as("n_ip"),
      fastMd5(redacted).as("redacted_fp"))
  }

  private val piiRedactSql =
    s"""WITH enriched AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$emailRe')) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all(t, '$phoneRe')) AS INT) AS n_phone,
       |  CAST(len(regexp_extract_all(t, '$ipRe')) AS INT) AS n_ip,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g'),
       |    '$ipRe', '<IP>', 'g')) AS redacted_fp
       |FROM enriched""".stripMargin

  // ---------------------------------------------------------------------
  // Vocabulary encoding: map each document's token stream to an id array
  // against a frequency-ranked vocab (id 1 = most frequent; OOV → 0) —
  // the tokenize→ids step of a training-data pipeline. The vocab cut is
  // sized so the OOV path is exercised at test scale (corpus has 31
  // distinct tokens, V=25 leaves 6 out-of-vocabulary).
  //
  // Plan shape: vocab = one explode + hash-agg + TakeOrdered(V); the rank
  // window then runs on a SINGLE partition of ≤V rows (bounded by
  // construction — V is a config, not data-dependent). Encoding is a
  // BROADCAST left join of the posexploded token stream against the
  // vocab, then one doc_id hash-agg whose collect_list is made
  // deterministic by sorting on the carried position before projecting
  // ids. One shuffle total (back to doc grain); the token stream itself
  // never shuffles on the token.
  // ---------------------------------------------------------------------
  val vocabV = 25

  def vocabEncode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, dir).select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(vocabV)
      .select(col("term"), row_number()
        .over(Window.orderBy(col("n").desc, col("term").asc))
        .cast("int").as("id"))
    // token_ids is emitted comma-joined: the driver's pandas harness
    // cannot sort/hash array cells, and the scalar form compares 1:1.
    toks.join(broadcast(vocab), Seq("term"), "left")
      .withColumn("tid", coalesce(col("id"), lit(0)))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid").cast("string")), ",").as("token_ids"),
        sum(when(col("id").isNull, 1).otherwise(0)).cast("int").as("n_oov"))
  }

  private val vocabEncodeSql =
    s"""WITH darr AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
       |  FROM documents),
       |idx AS (SELECT doc_id, arr,
       |          UNNEST(generate_series(1, len(arr))) AS pos FROM darr),
       |toks AS (SELECT doc_id, pos, arr[pos] AS term FROM idx),
       |vocab AS (
       |  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS INT) AS id
       |  FROM (SELECT term, COUNT(*) AS n FROM toks GROUP BY 1) f
       |  ORDER BY n DESC, term ASC LIMIT $vocabV)
       |SELECT doc_id,
       |       string_agg(CAST(COALESCE(v.id, 0) AS VARCHAR), ',' ORDER BY pos)
       |         AS token_ids,
       |       CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS INT) AS n_oov
       |FROM toks LEFT JOIN vocab v USING (term)
       |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Robust outlier filter: per-language median/MAD z-score over document
  // length — the quality gate that drops truncated fragments and
  // concatenation blobs without letting the outliers themselves move the
  // cut point (mean/stddev would; median/MAD don't). The 2.0 cut is a
  // parameter, chosen so both branches fire at test scale (max |z| on
  // this corpus is 2.73).
  //
  // Plan shape: two grouped EXACT medians (languages are a bounded set,
  // so each agg shuffles to ~|langs| groups) broadcast back to the corpus
  // scan — the fact itself never shuffles. At 100 TB swap
  // median → percentile_approx exactly as text_quantiles_approx does; the
  // shape is unchanged. mad=0 (over half the group identical) yields NULL
  // z and a non-outlier flag rather than ±inf.
  // ---------------------------------------------------------------------
  val outlierZCut = 2.0

  def outlierDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val med = d.groupBy(col("lang")).agg(median(col("n_chars")).as("med"))
    val mad = d.join(broadcast(med), "lang").groupBy(col("lang"))
      .agg(median(abs(col("n_chars") - col("med"))).as("mad"))
    val z = (col("n_chars") - col("med")) / col("mad")
    d.join(broadcast(med), "lang").join(broadcast(mad), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("mad") === 0, lit(null)).otherwise(round(z, 4))
          .as("robust_z"),
        when(col("mad") === 0, lit(false)).otherwise(abs(z) > outlierZCut)
          .as("outlier"))
  }

  private val outlierDocsSql =
    s"""WITH m AS (SELECT lang, median(n_chars) AS med FROM documents GROUP BY 1),
       |md AS (SELECT d.lang, median(abs(n_chars - med)) AS mad
       |       FROM documents d JOIN m USING (lang) GROUP BY 1)
       |SELECT doc_id, d.lang, n_chars,
       |  CASE WHEN mad = 0 THEN NULL
       |       ELSE round((n_chars - med) / mad, 4) END AS robust_z,
       |  CASE WHEN mad = 0 THEN FALSE
       |       ELSE abs((n_chars - med) / mad) > $outlierZCut END AS outlier
       |FROM documents d JOIN m USING (lang) JOIN md USING (lang)""".stripMargin

  def fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp"))

  private val fingerprintsSql =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // Inverted index: token → (df, cf, posting list of doc_id:tf). The
  // search-side artifact of the corpus (retrieval, contamination lookup,
  // hard-negative mining all probe it). Shape: the term index's
  // (doc, token) tf table → token hash-agg collecting postings, map-side
  // combined; nothing is globally sorted — the posting list is sorted
  // WITHIN each token row by `sort_array`.
  // Postings are "%06d:tf" strings so lexicographic array order IS
  // doc_id order and the parquet/DuckDB comparison stays scalar-typed.
  // At 100 TB a stopword's posting list exceeds one row's sane size:
  // shard the group key to (token, doc_id DIV shardSpan) and emit one
  // posting-segment row per shard — same two-agg shape; the df/cf
  // rollup then sums over shards (exactly the segment pattern
  // `dedup_segments` uses). The single-row-per-token form here is the
  // compact head; the sharded form is the documented scale path.
  // ---------------------------------------------------------------------
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    termFreqs(s, dir).withColumnRenamed("tok", "token")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        array_join(sort_array(collect_list(
          format_string("%06d:%d", col("doc_id"), col("tf")))), ",")
          .as("postings"))

  private val invertedIndexSql =
    """SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |  string_agg(format('{:06d}:{}', doc_id, tf), ',' ORDER BY doc_id)
      |    AS postings
      |FROM (
      |  SELECT token, doc_id, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |        FROM documents) t
      |  GROUP BY token, doc_id) tf
      |GROUP BY token""".stripMargin

  // ---------------------------------------------------------------------
  // Deterministic global shuffle: the last step before training — break
  // source/time locality by scattering the corpus into `shuffleShards`
  // pseudorandom shards with a pseudorandom order inside each. Both
  // coordinates derive from a salted md5 of the doc id, so the shuffle is
  // reproducible across reruns, engines, repartitions, and appends
  // (engine-RNG `orderBy(rand())` is none of those). Shard = 4 hex
  // digits of the hash mod the shard COUNT — which is a parameter
  // ([[globalShuffleAt]]), not a constant, because rows-per-shard stays
  // bounded only if shards scale with the corpus (Curate.shardsFor is
  // the rule as code); within-shard position = row_number over
  // (hash, doc_id).
  //
  // Scale shape: the shard map is a narrow codegen'd stage; the ordinal
  // is ONE shuffle on the shard key, each window partition corpus/shards
  // rows BY THE PARAMETER. Past what one task should sort, the
  // deployment path is repartitionByRange(shard, h) +
  // sortWithinPartitions(h) — writers emit hash-ordered files per shard
  // and the within-shard ordinal becomes (file sequence, row-in-file),
  // the same dense-numbering decomposition
  // SurrogateKeys.withGlobalRowNumber uses. The oracle-pinned form here
  // verifies the coordinates themselves, at two shard settings.
  // ---------------------------------------------------------------------
  val shuffleShards = 8
  final val shuffleShardsAlt = 16

  def globalShuffle(s: SparkSession, dir: String): DataFrame =
    globalShuffleAt(s, dir, shuffleShards)

  /** Shard count as a PARAMETER (the same deployment rule as
    * Curate.shardsFor): rows-per-shard stays bounded only if shards
    * scale with the corpus, so the count is an argument — 4 hex digits
    * of the routing hash mod `shards`, defined for any count ≤ 2¹⁶.
    */
  def globalShuffleAt(s: SparkSession, dir: String, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = fastMd5(concat(lit("shuf|"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h").asc, col("doc_id").asc)
    docs(s, dir).select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 4), 16, 10).cast("long") % shards)
          .cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  private[ops] def globalShuffleSqlAt(shards: Int): String =
    s"""WITH h AS (
       |  SELECT doc_id, md5('shuf|' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(CAST('0x' || substring(h, 1, 4) AS BIGINT) % $shards AS INT)
       |    AS shard,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY CAST('0x' || substring(h, 1, 4) AS BIGINT) % $shards
       |    ORDER BY h ASC, doc_id ASC) AS INT) AS pos
       |FROM h""".stripMargin

  private val globalShuffleSql = globalShuffleSqlAt(shuffleShards)

  // ---------------------------------------------------------------------
  // DSIR-style importance sampling (Xie et al. 2023): re-weight the
  // corpus toward a target domain by each document's average unigram
  // log importance ratio ln(p_target/q_corpus), then accept documents
  // with probability increasing in that score. Target here = the 'en'
  // slice (stand-in for any curated domain); add-one smoothing over the
  // corpus vocabulary keeps target-unseen tokens finite.
  //
  // Determinism: like lmScore, each distinct token's log-ratio is floored
  // to integer MICRO-units before summation (exact BIGINT arithmetic in
  // any engine/order); the acceptance TIER is chosen by integer
  // cross-multiplication (lr_sum·20 vs ±1e6·n_tokens — never a float
  // threshold), and acceptance itself is a salted-hash hex-prefix
  // compare, the same engine-stable coin as text_split_assign. Shape:
  // two explode→hash-aggs build the two distributions, one token join
  // scores docs — identical plan family (and cost) to lmScore.
  // ---------------------------------------------------------------------
  def importanceSample(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tFreq = toks.filter(col("lang") === "en")
      .groupBy(col("tok")).agg(count(lit(1)).as("c_t"))
    val corpusTot = freq.agg(count(lit(1)).as("v"), sum("c").as("n"))
    val targetTot = toks.filter(col("lang") === "en")
      .agg(count(lit(1)).as("n_t"))
    val lr = freq.join(tFreq, Seq("tok"), "left")
      .select(col("tok"), col("c"), coalesce(col("c_t"), lit(0L)).as("c_t"))
      .crossJoin(broadcast(corpusTot)).crossJoin(broadcast(targetTot))
      .select(col("tok"),
        floor(log(
          ((col("c_t") + 1).cast("double") / (col("n_t") + col("v"))) /
            ((col("c") + 1).cast("double") / (col("n") + col("v"))))
          * lit(1e6)).cast("long").as("lr_micro"))
    val tier = when(col("lr_sum") * 20 >= col("n_tokens") * lit(1000000L), "d0")
      .when(col("lr_sum") >= 0, "80")
      .when(col("lr_sum") * 20 >= col("n_tokens") * lit(-1000000L), "40")
      .otherwise("10")
    toks.join(lr, "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum("lr_micro").as("lr_sum"))
      .select(col("doc_id"), col("lang"), col("n_tokens").cast("int"),
        // + 0 normalizes IEEE signed zero: DuckDB's round keeps -0.0 for a
        // tiny negative sum, Spark's BigDecimal round yields +0.0
        (round(col("lr_sum").cast("double") / lit(1e6) / col("n_tokens"), 4)
          + lit(0d)).as("avg_log_ratio"),
        tier.as("tier"),
        (substring(fastMd5(concat(lit("dsir|"), col("doc_id").cast("string"))),
          1, 2) < tier).as("sampled"))
  }

  private val importanceSampleSql =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |tfreq AS (SELECT tok, COUNT(*) AS c_t FROM toks WHERE lang = 'en' GROUP BY tok),
      |ctot AS (SELECT COUNT(*) AS v, SUM(c) AS n FROM freq),
      |ttot AS (SELECT COUNT(*) AS n_t FROM toks WHERE lang = 'en'),
      |lr AS (
      |  SELECT f.tok, CAST(FLOOR(ln(
      |      ((COALESCE(t.c_t, 0) + 1) / CAST(tt.n_t + ct.v AS DOUBLE))
      |      / ((f.c + 1) / CAST(ct.n + ct.v AS DOUBLE))) * 1000000) AS BIGINT) AS lr_micro
      |  FROM freq f LEFT JOIN tfreq t USING (tok), ctot ct, ttot tt),
      |scored AS (
      |  SELECT k.doc_id, k.lang, COUNT(*) AS n_tokens, SUM(l.lr_micro) AS lr_sum
      |  FROM toks k JOIN lr l USING (tok)
      |  GROUP BY k.doc_id, k.lang),
      |tiered AS (
      |  SELECT doc_id, lang, n_tokens, lr_sum,
      |    CASE WHEN lr_sum * 20 >= n_tokens * 1000000 THEN 'd0'
      |         WHEN lr_sum >= 0 THEN '80'
      |         WHEN lr_sum * 20 >= n_tokens * -1000000 THEN '40'
      |         ELSE '10' END AS tier
      |  FROM scored)
      |SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
      |  round(CAST(lr_sum AS DOUBLE) / 1000000 / n_tokens, 4) + 0 AS avg_log_ratio,
      |  tier,
      |  substring(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 2) < tier AS sampled
      |FROM tiered""".stripMargin

  // ---------------------------------------------------------------------
  // Weighted sampling WITHOUT replacement (Efraimidis–Spirtas 2006):
  // draw `weightedSampleN` documents with inclusion odds proportional to
  // length (n_chars — the token-budget proxy a pre-training mix weights
  // by). Each doc gets key u^(1/w) for uniform u; the N LARGEST keys are
  // exactly a weighted sample without replacement — the one-pass,
  // merge-friendly form of weighted sampling (A-ES), vs. sequential
  // draws that need N dependent passes. Ranked via the monotone
  // transform ln(u)/w floored to integer PICO-units (engine-stable
  // compare, same discipline as lmScore's micro-units); u derives from a
  // salted md5 prefix, so the draw is deterministic and repartition-
  // stable. Scale shape: one narrow map then orderBy+limit = TakeOrdered
  // (k rows per partition, k-merge on the driver) — never a global
  // window; the rank column is assigned AFTER the cut, over N rows.
  // ---------------------------------------------------------------------
  val weightedSampleN = 100

  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = fastMd5(concat(lit("wsamp|"), col("doc_id").cast("string")))
    // u ∈ (0,1]: 32-bit hash value + 1 over 2^32 + 1
    val u = (conv(substring(h, 1, 8), 16, 10).cast("long") + 1)
      .cast("double") / lit(4294967297.0)
    val key = floor(log(u) / greatest(col("n_chars"), lit(1)) * lit(1e12))
      .cast("long")
    val keyed = docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        key.as("key_pico"))
      .orderBy(col("key_pico").desc, col("doc_id").asc)
      .limit(weightedSampleN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("key_pico").desc, col("doc_id").asc)
    keyed.withColumn("rank", row_number().over(w).cast("int"))
  }

  private val weightedSampleSql =
    s"""WITH keyed AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(FLOOR(ln(
       |        (CAST('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 8)
       |          AS BIGINT) + 1) / 4294967297.0)
       |      / greatest(n_chars, 1) * 1e12) AS BIGINT) AS key_pico
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, key_pico,
       |  CAST(ROW_NUMBER() OVER (ORDER BY key_pico DESC, doc_id ASC) AS INT) AS rank
       |FROM keyed ORDER BY key_pico DESC, doc_id ASC LIMIT $weightedSampleN""".stripMargin

  // ---------------------------------------------------------------------
  // BM25 retrieval scoring (Robertson/Sparck Jones): the ranking function
  // behind Lucene/Elasticsearch, over the term index's (doc, token) tf,
  // df and doc-length tables. Query = the corpus's top-`bm25QueryTerms`
  // df tokens (derived IN the plan, so the op is self-contained and
  // identical at every scale factor); score(d) = Σ_t idf(t) ·
  // tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
  //
  // Scale shape: the query-term table is tiny by construction →
  // broadcast semi-reduction of the tf table BEFORE any per-doc work, so
  // only docs containing a query term are ever scored; final top-k is
  // orderBy+limit (TakeOrdered — k rows per partition then a k-merge,
  // never a single-partition window). Determinism: per-(doc, term)
  // scores are floored to integer MICRO-units before the per-doc sum,
  // and the cut's total order (score DESC, doc_id ASC) is engine-stable.
  // ---------------------------------------------------------------------
  val bm25K1 = 1.2
  val bm25B = 0.75
  val bm25QueryTerms = 3
  val bm25TopK = 20

  def bm25(s: SparkSession, dir: String): DataFrame = {
    val tf = termFreqs(s, dir)
    val df = termStats(s, dir).select(col("tok"), col("df"))
    val dl = docLengths(s, dir)
    val stats = bm25Stats(dl)
    val q = df.orderBy(col("df").desc, col("tok").asc).limit(bm25QueryTerms)
    val avgdl = col("total").cast("double") / col("n")
    val idf = log(((col("n") - col("df") + 0.5) / (col("df") + 0.5)) + 1)
    val denom = col("tf") + lit(bm25K1) *
      (lit(1) - lit(bm25B) + lit(bm25B) * (col("dl") / avgdl))
    tf.join(broadcast(q), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(idf * ((col("tf") * lit(bm25K1 + 1)) / denom) * lit(1e6))
          .cast("long").as("term_micro"))
      .groupBy(col("doc_id"))
      .agg(sum("term_micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(bm25TopK)
  }

  /** (n, total): documents with at least one token and their token sum
    * (a null text has a null dl and counts in neither).
    */
  private def bm25Stats(dl: DataFrame): DataFrame =
    dl.agg(count(col("dl")).as("n"), sum("dl").as("total"))

  private val bm25Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
       |q AS (SELECT tok, df FROM df ORDER BY df DESC, tok ASC LIMIT $bm25QueryTerms)
       |SELECT t.doc_id, CAST(SUM(CAST(FLOOR(
       |    ln(((s.n - q.df + 0.5) / (q.df + 0.5)) + 1)
       |    * ((t.tf * ${bm25K1 + 1}) /
       |       (t.tf + $bm25K1 * (1 - $bm25B + $bm25B * (d.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |    * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
       |FROM tf t JOIN q USING (tok) JOIN dl d USING (doc_id), stats s
       |GROUP BY t.doc_id
       |ORDER BY score_micro DESC, t.doc_id ASC LIMIT $bm25TopK""".stripMargin

  // ---------------------------------------------------------------------
  // BPE merge training (Sennrich et al. 2016): the first `bpeRounds`
  // merge rules a byte-pair-encoding tokenizer would learn from this
  // corpus. Each round counts ADJACENT symbol pairs over the vocabulary
  // (weighted by word frequency, overlapping pairs counted like the
  // reference implementations), picks the most frequent pair with a
  // (count DESC, pair ASC) total-order tie-break, and applies the merge
  // greedily left-to-right — exactly the single-pass non-overlapping
  // `replace` both engines share, which for one rule IS the exhaustive
  // greedy application ("aaa" + (a,a) → [aa, a]).
  //
  // Scale design: word frequencies come from the term index, so every
  // round runs over the VOCABULARY (distinct
  // words), not the corpus — the cost structure that lets real BPE
  // trainers do 50k merges. Words are "|"-delimited symbol strings
  // ("|a|b|c|"), safe because the corpus is pipe-free (asserted upstream
  // of the delimiter choice); pair extraction is a per-word adjacent zip
  // (explode + map-side-combined hash-agg), and the winning pair is ONE
  // collected row per round — the k-means-centroid shape, not a driver
  // loop over data. Production BPE maintains incremental pair-count
  // deltas instead of recounting; the full recount here is what makes
  // each round independently oracle-verifiable. All-integer counts, no
  // floats anywhere. Character-level splitting is codepoint-based in
  // both engines (identical on this BMP-only corpus); a byte-level BPE
  // would first hex-encode, same shape.
  //
  // MERGE-COUNT CEILING: each round is one distributed pair-count plus a
  // one-row collect and a chained `replace` — fine for the 3 demo rounds
  // the oracle unrolls, but a real 30k-merge vocabulary would mean 30k
  // sequential driver round trips and a 30k-deep replace chain (the plan
  // itself becomes the bottleneck long before the data does). The scale
  // path is the production-BPE shape: maintain incremental pair-count
  // DELTAS (a merge only perturbs counts of pairs adjacent to the merged
  // pair, so each round updates O(vocab-touched) rows instead of
  // recounting), batch mutually-non-adjacent top-k merges per round, and
  // checkpoint `rep` every ~64 rounds to cut the replace-chain lineage.
  // Kept as the recount form here because it makes EVERY round
  // independently oracle-verifiable.
  // ---------------------------------------------------------------------
  val bpeRounds = 3

  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // word frequencies are the term index's cf: every round reads the
    // cached vocabulary, never the corpus
    val words = termStats(s, dir)
      .filter(col("tok") =!= "")
      .select(concat(lit("|"), regexp_replace(col("tok"), "(.)", "$1|"))
        .as("rep"), col("cf").as("freq"))
    val pairStructs = expr(
      "transform(slice(toks, 1, size(toks)-1), (x, i) -> " +
        "struct(x AS a, toks[i+1] AS b))")
    var cur = words
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to bpeRounds) {
      val best = cur
        .withColumn("toks", filter(split(col("rep"), "\\|", -1), _ =!= ""))
        .select(explode(pairStructs).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      best.headOption.foreach { row =>
        val (a, b, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r, a, b, a + b, c))
        cur = cur.withColumn("rep", replace(col("rep"),
          lit(s"|$a|$b|"), lit(s"|$a$b|")))
      }
    }
    merges.result()
      .toDF("round", "left", "right", "merged", "pair_count")
  }

  private val bpeMergesSql = {
    def round(n: Int): String =
      s"""p$n AS (
         |  SELECT l[i] AS a, l[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (SELECT l, freq, unnest(range(2, len(l) - 1)) AS i
         |        FROM (SELECT string_split(rep, '|') AS l, freq
         |              FROM w${n - 1}) s) t
         |  GROUP BY 1, 2),
         |b$n AS (SELECT a, b, c FROM p$n ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |w$n AS (
         |  SELECT replace(rep, (SELECT '|' || a || '|' || b || '|' FROM b$n),
         |                      (SELECT '|' || a || b || '|' FROM b$n)) AS rep,
         |         freq
         |  FROM w${n - 1})""".stripMargin
    val rounds = (1 to bpeRounds).map(round).mkString(",\n")
    val selects = (1 to bpeRounds).map { n =>
      s"""SELECT $n AS round, a AS "left", b AS "right",
         |  a || b AS merged, c AS pair_count FROM b$n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT tok AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |        FROM documents) t
       |  WHERE tok <> '' GROUP BY tok),
       |w0 AS (
       |  SELECT '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS rep, freq
       |  FROM words),
       |$rounds
       |$selects""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Hard-negative mining (retrieval/embedding training data): for each
  // query document, the top-scoring OTHER documents under BM25 on the
  // query's own token set — lexically close but non-identical, exactly
  // the negatives a dual encoder learns the most from. Exact duplicates
  // (same normalized fingerprint) are excluded: a copy of the query is a
  // false negative that would poison the contrastive loss; the near-dup
  // exclusion can be widened with dedup_minhash_lsh's pair table.
  //
  // Scale shape: query docs are bounded by construction, so their token
  // sets broadcast and semi-reduce the tf table exactly like text_bm25's
  // query terms; scoring touches only (candidate, shared-token) rows.
  // Per-query top-k via ONE rank window on q_id — the query side is the
  // bounded dimension, so the window partitions stay small at any corpus
  // size. Same integer micro-unit scoring as text_bm25.
  // ---------------------------------------------------------------------
  val hnQueryDocs = 3
  val hnTopK = 5

  // Memoized: TWO registered queries consume this list (the op itself
  // and sim_hybrid_rrf's lexical side); without sharing, the fuse
  // re-executes the whole tf/df/scoring pipeline. The persisted frame is
  // queries × hnTopK rows — trivially bounded.
  def hardNegatives(s: SparkSession, dir: String): DataFrame =
    Memo.of(s, dir, "hardNegatives")(hardNegativesBuild(s, dir).persist())

  private def hardNegativesBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreqs(s, dir)
    val df = termStats(s, dir).select(col("tok"), col("df"))
    val dl = docLengths(s, dir)
    val stats = bm25Stats(dl)
    // tf holds each (doc, token) once: a query's distinct token set
    val qterms = tf.filter(col("doc_id") < hnQueryDocs)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(df, "tok")
    val fp = docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val qfp = fp.filter(col("doc_id") < hnQueryDocs)
      .select(col("doc_id").as("q_id"), col("fp").as("q_fp"))
    val avgdl = col("total").cast("double") / col("n")
    val idf = log(((col("n") - col("df") + 0.5) / (col("df") + 0.5)) + 1)
    val denom = col("tf") + lit(bm25K1) *
      (lit(1) - lit(bm25B) + lit(bm25B) * (col("dl") / avgdl))
    val scored = tf.join(broadcast(qterms), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        floor(idf * ((col("tf") * lit(bm25K1 + 1)) / denom) * lit(1e6))
          .cast("long").as("term_micro"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum("term_micro").as("score_micro"))
      .join(fp, "doc_id").join(broadcast(qfp), "q_id")
      .filter(col("fp") =!= col("q_fp"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= hnTopK)
      .select(col("q_id"), col("doc_id"), col("score_micro"), col("rank"))
  }

  // private[ops]: sim_hybrid_rrf wraps this whole statement as its
  // lexical-list CTE (nested WITH — legal DuckDB)
  private[ops] val hardNegativesSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
       |qterms AS (
       |  SELECT DISTINCT t.doc_id AS q_id, t.tok, d.df
       |  FROM toks t JOIN df d USING (tok) WHERE t.doc_id < $hnQueryDocs),
       |fp AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |scored AS (
       |  SELECT q.q_id, t.doc_id, CAST(SUM(CAST(FLOOR(
       |      ln(((s.n - q.df + 0.5) / (q.df + 0.5)) + 1)
       |      * ((t.tf * ${bm25K1 + 1}) /
       |         (t.tf + $bm25K1 * (1 - $bm25B + $bm25B * (d.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |      * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
       |  FROM tf t JOIN qterms q USING (tok) JOIN dl d ON d.doc_id = t.doc_id,
       |       stats s
       |  WHERE t.doc_id <> q.q_id
       |  GROUP BY q.q_id, t.doc_id)
       |SELECT q_id, doc_id, score_micro, rank FROM (
       |  SELECT sc.q_id, sc.doc_id, sc.score_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY sc.q_id
       |      ORDER BY sc.score_micro DESC, sc.doc_id ASC) AS INT) AS rank
       |  FROM scored sc
       |  JOIN fp c ON c.doc_id = sc.doc_id
       |  JOIN fp q ON q.doc_id = sc.q_id
       |  WHERE c.fp <> q.fp) t
       |WHERE rank <= $hnTopK""".stripMargin

  // ---------------------------------------------------------------------
  // Collocation mining: top bigrams by pointwise mutual information —
  // PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) — with a minimum-count floor
  // (PMI's classic failure mode is hapax pairs scoring highest; the
  // floor is the standard fix). Unigram counts are the term index's cf,
  // as in lmScore; bigram extraction is the same adjacent zip the BPE
  // trainer uses, over doc token arrays.
  // Determinism: the single PMI double is computed with one identical
  // expression tree in both engines and floored to integer micro-units
  // BEFORE the (pmi DESC, pair ASC) cut, so ranking never compares raw
  // floats. Top-k via orderBy+limit (TakeOrdered).
  // ---------------------------------------------------------------------
  val pmiMinCount = 5
  val pmiTopK = 20

  def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(tokens(col("text")).as("toks"))
    val pairs = toks
      .select(explode(expr("transform(slice(toks, 1, size(toks)-1), " +
        "(x, i) -> struct(x AS a, toks[i+1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val big = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val uni = termStats(s, dir).select(col("tok"), col("cf").as("c"))
    val tTot = uni.agg(sum("c").as("t"))
    val bTot = big.agg(sum("c_ab").as("bt"))
    val pmi = floor(log(
      (col("c_ab").cast("double") / col("bt")) /
        ((col("c_a").cast("double") / col("t"))
          * (col("c_b").cast("double") / col("t")))) * lit(1e6))
      .cast("long")
    big.filter(col("c_ab") >= pmiMinCount)
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .select(col("a"), col("b"), col("c_ab"), pmi.as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc)
      .limit(pmiTopK)
  }

  private val pmiBigramsSql =
    s"""WITH d AS (
       |  SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |pairs AS (
       |  SELECT toks[i] AS a, toks[i + 1] AS b
       |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM d) t),
       |big AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b),
       |uni AS (
       |  SELECT tok, COUNT(*) AS c
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |        FROM documents) u
       |  GROUP BY tok),
       |ttot AS (SELECT SUM(c) AS t FROM uni),
       |btot AS (SELECT SUM(c_ab) AS bt FROM big)
       |SELECT g.a, g.b, g.c_ab,
       |  CAST(FLOOR(ln(
       |    (CAST(g.c_ab AS DOUBLE) / bt.bt) /
       |    ((CAST(ua.c AS DOUBLE) / tt.t) * (CAST(ub.c AS DOUBLE) / tt.t)))
       |    * 1000000) AS BIGINT) AS pmi_micro
       |FROM big g
       |JOIN uni ua ON ua.tok = g.a
       |JOIN uni ub ON ub.tok = g.b, ttot tt, btot bt
       |WHERE g.c_ab >= $pmiMinCount
       |ORDER BY pmi_micro DESC, g.a ASC, g.b ASC LIMIT $pmiTopK""".stripMargin

  // ---------------------------------------------------------------------
  // Bigram LM quality score: lmScore's conditional twin — each document's
  // average log P(w_i | w_{i-1}) under the corpus's own bigram model
  // with add-one smoothing over the vocabulary, p(b|a) =
  // (c(a,b) + 1) / (c(a) + V). Catches locally-scrambled text that the
  // unigram filter scores as perfectly in-distribution (same words,
  // impossible transitions). Same shapes as lmScore: the bigram table is
  // the BPE/PMI adjacent zip; log terms quantize to integer MICRO-units
  // per DISTINCT bigram before the per-doc sum, so results are
  // engine/order-exact; the bigram-table join key is (prev, cur),
  // shuffled once.
  // ---------------------------------------------------------------------
  def lmBigramScore(s: SparkSession, dir: String): DataFrame = {
    val pairsByDoc = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks)-1), (x, i) -> " +
          "struct(x AS a, toks[i+1] AS b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bigrams = pairsByDoc.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
    val uni = termStats(s, dir).select(col("tok"), col("cf").as("c"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val lp = bigrams
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .crossJoin(broadcast(vocab))
      .select(col("a"), col("b"),
        floor(log((col("c_ab") + 1).cast("double") / (col("c_a") + col("v")))
          * lit(1e6)).cast("long").as("lp_micro"))
    pairsByDoc.join(lp, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum("lp_micro").as("lp_sum"))
      // the average stays in integer micro-units via FLOOR division —
      // round(x, 4) of a ratio has half-boundary cases where the two
      // engines' rounding disagrees (hit at sf0.1: one doc in 5000 landed
      // exactly on .00005); floor of the same double has no boundary
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("lp_sum").cast("double") / col("n_bigrams"))
          .cast("long").as("avg_logprob_micro"))
  }

  private val lmBigramScoreSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM d) t),
      |bigrams AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b),
      |uni AS (
      |  SELECT tok, COUNT(*) AS c
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents) u
      |  GROUP BY tok),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |lp AS (
      |  SELECT g.a, g.b,
      |    CAST(FLOOR(ln(CAST(g.c_ab + 1 AS DOUBLE) / (ua.c + vv.v)) * 1000000) AS BIGINT) AS lp_micro
      |  FROM bigrams g JOIN uni ua ON ua.tok = g.a, vocab vv)
      |SELECT p.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
      |  CAST(FLOOR(CAST(SUM(l.lp_micro) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_logprob_micro
      |FROM pairs p JOIN lp l ON l.a = p.a AND l.b = p.b
      |GROUP BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Mixture-plan EXECUTION: mixtureWeights plans per-source sampling
  // rates; this op applies them deterministically. The planned rate
  // (a data-dependent double) becomes a 256-level acceptance threshold —
  // floor(rate·256) rendered as a 2-hex-char ceiling — and each doc's
  // salted content-hash prefix is compared against its source's ceiling:
  // P(sampled) = floor(rate·256)/256, reproducible across reruns,
  // engines, repartitions, and appends (the text_split_assign coin with
  // a data-driven threshold). rate = 1 short-circuits to accept-all
  // ('zz' out-ranges every hex prefix) so full-keep sources cost no
  // precision. The budget sits well under the per-source token counts at
  // the verification SF so rejection genuinely fires (~40% of docs);
  // the tiny-SF corpus keeps everything, exercising the accept-all
  // branch there. One broadcast of the aggregate-sized plan; the corpus
  // never shuffles.
  // ---------------------------------------------------------------------
  final val applyTokenBudget = 800

  def mixtureApply(s: SparkSession, dir: String): DataFrame = {
    val plan = docs(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("rate",
        round(least(lit(1.0), lit(applyTokenBudget.toDouble) / col("n_tokens")), 6))
      .withColumn("lvl",
        least(lit(256), floor(col("rate") * 256)).cast("int"))
      .withColumn("ceil", when(col("lvl") >= 256, lit("zz"))
        .otherwise(lpad(lower(hex(col("lvl"))), 2, "0")))
      .select(col("source"), col("rate"), col("ceil"))
    docs(s, dir).select(col("doc_id"), col("source"))
      .join(broadcast(plan), "source")
      .select(col("doc_id"), col("source"), col("rate"),
        (substring(fastMd5(concat(lit("mix|"), col("doc_id").cast("string"))),
          1, 2) < col("ceil")).as("sampled"))
  }

  private val mixtureApplySql =
    s"""WITH plan AS (
       |  SELECT source,
       |    round(least(1.0, $applyTokenBudget.0 /
       |      CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)), 6) AS rate
       |  FROM documents GROUP BY source),
       |th AS (
       |  SELECT source, rate,
       |    CAST(least(256, FLOOR(rate * 256)) AS INT) AS lvl
       |  FROM plan),
       |th2 AS (
       |  SELECT source, rate,
       |    CASE WHEN lvl >= 256 THEN 'zz'
       |         ELSE lpad(lower(to_hex(lvl)), 2, '0') END AS ceil
       |  FROM th)
       |SELECT d.doc_id, d.source, t.rate,
       |  substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 2) < t.ceil AS sampled
       |FROM documents d JOIN th2 t USING (source)""".stripMargin

  // ---------------------------------------------------------------------
  // Novelty curve: for each document in doc_id (arrival) order, the
  // fraction of its distinct 3-gram shingles never seen in any earlier
  // document — the diminishing-returns signal data-selection uses to
  // decide when more of a source stops adding information (and the
  // per-doc form of the "new n-grams per crawl snapshot" curve in the
  // C4/RefinedWeb analyses). Rides [[DedupOps.shingleRows]]'s memoized
  // exploded shingles: first-owner is one min-agg keyed on the shingle,
  // attribution is one keyed join back, the curve is one hash-agg on
  // doc_id — three keyed, map-side-combinable stages, nothing quadratic,
  // no window over the corpus.
  // ---------------------------------------------------------------------
  def noveltyCurve(s: SparkSession, dir: String): DataFrame = {
    val sh = DedupOps.shingleRows(s, dir).distinct()
    val first = sh.groupBy(col("x")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("x"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  private lazy val noveltyCurveSql =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, t.x
       |  FROM (${DedupOps.shinglesSqlForCompose}) s, unnest(s.sh) AS t(x)),
       |first AS (SELECT x, MIN(doc_id) AS first_doc FROM sh GROUP BY x)
       |SELECT s.doc_id,
       |  COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  round(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS novelty
       |FROM sh s JOIN first f ON f.x = s.x
       |GROUP BY s.doc_id""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("text_novelty", noveltyCurve, Some(noveltyCurveSql),
      "novelty curve: per-doc fraction of first-seen shingles in arrival order (diminishing-returns signal)"),
    Op("text_inverted_index", invertedIndex, Some(invertedIndexSql),
      "inverted index: token -> df/cf + sorted doc:tf posting list, two map-side-combined aggs"),
    Op("text_token_stats", tokenStats, Some(tokenStatsSql),
      "token counting: whitespace + BPE-ish regex + mean token length"),
    Op("text_tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql),
      "per-language tokenizer fertility: BPE tokens per word and chars per token in exact integer milli-units"),
    Op("text_char_entropy", charEntropy, Some(charEntropySql),
      "Shannon character entropy per doc: the gibberish/filler quality signal, two distributive aggs"),
    Op("text_quality_score", qualityScore, Some(qualityScoreSql),
      "quality scoring: stopword/punctuation ratios + label"),
    Op("text_lang_id", langId, Some(langIdSql),
      "language-ID stopword heuristic vs dataset label"),
    Op("text_langid_eval", langIdEval, Some(langIdEvalSql),
      "language-ID confusion table vs ground truth: per-cell counts and integer-ppm recall decomposition"),
    Op("text_fingerprint", fingerprints, Some(fingerprintsSql),
      "document fingerprinting: md5 over normalized text"),
    Op("text_top_tokens", topTokens, Some(topTokensSql),
      "corpus vocabulary heavy-hitters: exact top-k token frequencies"),
    Op("text_length_quantiles", lengthQuantiles, Some(lengthQuantilesSql),
      "exact per-language length quantiles (quality-filter cut points)"),
    Op("text_quantiles_approx", lengthQuantilesApprox,
      Some(lengthQuantilesApproxSql),
      "sketch quantiles verified inside a rank band of the exact values"),
    Op("text_split_assign", splitAssign, Some(splitAssignSql),
      "deterministic hash-based train/eval split (repartition-stable)"),
    Op("text_repetition", repetitionSignals, Some(repetitionSignalsSql),
      "Gopher-style within-doc repetition signals: top-bigram + duplicated-trigram fractions"),
    Op("text_stratified_sample", stratifiedSample, Some(stratifiedSampleSql),
      "deterministic per-language stratified sample via salted id hash"),
    Op("text_tfidf", tfidfTopTerms, Some(tfidfTopTermsSql),
      "TF-IDF top terms per doc (rational idf: cross-engine-deterministic ranking)"),
    Op("text_pack_sequences", packSequences, Some(packSequencesSql),
      "GPT-style sequence packing: sharded running token sums cut every capacity tokens"),
    Op("text_chunk_overlap", chunkOverlap, Some(chunkOverlapSql),
      "overlapping fixed-width chunking (RAG prep): explode over stride offsets, no shuffle"),
    Op("text_mixture_weights", mixtureWeights, Some(mixtureWeightsSql),
      "data-mixing plan: per-source token inventory + budget-hitting sampling rates"),
    Op("text_perplexity_buckets", perplexityBuckets, Some(perplexityBucketsSql),
      "CCNet head/middle/tail: per-language LM-score tertiles via bounded-range percentile cuts"),
    Op("text_lm_score", lmScore, Some(lmScoreSql),
      "CCNet-style unigram LM avg log-prob quality score, integer-quantized logs"),
    Op("text_kl_mixture", klMixture, Some(klMixtureSql),
      "per-source KL divergence from the corpus unigram distribution"),
    Op("text_pii_redact", piiRedact, Some(piiRedactSql),
      "PII redaction: email/phone/IPv4 classes + counts over a deterministically enriched corpus"),
    Op("text_vocab_encode", vocabEncode, Some(vocabEncodeSql),
      "token→id encoding against a frequency-ranked vocab (broadcast join, OOV→0)"),
    Op("text_outlier_docs", outlierDocs, Some(outlierDocsSql),
      "robust per-language outlier filter: median/MAD z-score over doc length"),
    Op("text_global_shuffle", globalShuffle, Some(globalShuffleSql),
      "deterministic pre-training shuffle: salted-hash shard + within-shard ordinal"),
    Op("text_global_shuffle_s16",
      (s, d) => globalShuffleAt(s, d, shuffleShardsAlt),
      Some(globalShuffleSqlAt(shuffleShardsAlt)),
      "the shuffle layout at a second shard setting: shard count is a deployment parameter"),
    Op("text_weighted_sample", weightedSample, Some(weightedSampleSql),
      "Efraimidis-Spirtas weighted sample without replacement (length-proportional, one TakeOrdered)"),
    Op("text_importance_sample", importanceSample, Some(importanceSampleSql),
      "DSIR-style importance sampling toward a target domain (integer-tiered acceptance)"),
    Op("text_bm25", bm25, Some(bm25Sql),
      "BM25 retrieval scoring over the tf table (broadcast query semi-reduction + TakeOrdered)"),
    Op("text_bpe_merges", bpeMerges, Some(bpeMergesSql),
      "BPE tokenizer training: first merge rules via vocabulary-level pair counting rounds"),
    Op("text_hard_negatives", hardNegatives, Some(hardNegativesSql),
      "hard-negative mining: per-query BM25 top-k over non-identical docs (dual-encoder training)"),
    Op("text_pmi_bigrams", pmiBigrams, Some(pmiBigramsSql),
      "collocation mining: top bigrams by PMI with a min-count floor, integer-micro ranking"),
    Op("text_lm_bigram_score", lmBigramScore, Some(lmBigramScoreSql),
      "bigram LM quality score: avg log P(w|prev) with add-one smoothing, integer-quantized"),
    Op("text_mixture_apply", mixtureApply, Some(mixtureApplySql),
      "mixture-plan execution: planned rates as 256-level hash-coin acceptance thresholds"))
}
