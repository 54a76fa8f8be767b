package graft.llm

import graft.ops.CoreOps.sortedOnce
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language ID
  * (marker-token scoring), quality scoring (length/punct/stopword
  * ratios), token counting and document fingerprinting.
  *
  * Everything is codegen'd builtins (regexp_extract_all + higher-order
  * array functions) — no UDFs — and every ratio is a quotient of
  * integers computed identically in both engines, so outputs need no
  * rounding to hash-match the oracle.
  */
object TextStats {

  /** Marker lexicons per language (tiny stopword sets). Scoring is
    * count-of-marker-tokens; argmax with a fixed precedence order
    * breaks ties deterministically. (The fixture's `lang` labels are
    * synthetic and uncorrelated with its shared vocabulary — the
    * operator's contract is the deterministic classifier, verified by
    * the oracle, not label recovery.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "he"))

  // call_function keeps this a plain expression tree — no SQL-text
  // splicing, so aliased/derived input columns work (the reference's
  // F8 f-string wart, avoided per SURVEY.md §2.8)
  private[graft] def tokens(text: Column): Column =
    call_function("regexp_extract_all", lower(text), lit("[a-z0-9]+"), lit(0))

  private[llm] def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))

  /** The t02 composite quality score computed straight from a text
    * column (shared with d12 curation, where the corpus twins have no
    * pre-computed `n_chars`). Identical arithmetic to [[quality]]:
    * int/int ratios, then the fixed 0.4/0.3/0.3 composite.
    */
  private[llm] def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val alnum = aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
    val meanTokenLen = alnum.cast("double") / nTokens
    val stopwordRatio = markerCount(toks, Stopwords).cast("double") / nTokens
    when(nTokens >= 20, lit(1.0)).otherwise(lit(0.0)) * lit(0.4) +
      when(stopwordRatio.between(0.05, 0.5), lit(1.0)).otherwise(lit(0.0)) * lit(0.3) +
      when(meanTokenLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.0)) * lit(0.3)
  }

  /** The t02 quality composite as an INTEGER level (4·g1 + 3·g2 +
    * 3·g3 ∈ {0, 3, 4, 6, 7, 10} — the same total order as
    * [[qualityScore]]·10, float-free so rank boundaries are
    * bit-deterministic). Shared by d52's quota cap.
    */
  private[llm] def qualityLevel(text: Column): Column = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val alnum = aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
    val meanTokenLen = alnum.cast("double") / nTokens
    val stopwordRatio = markerCount(toks, Stopwords).cast("double") / nTokens
    when(nTokens >= 20, lit(4)).otherwise(lit(0)) +
      when(stopwordRatio.between(0.05, 0.5), lit(3)).otherwise(lit(0)) +
      when(meanTokenLen.between(3.0, 10.0), lit(3)).otherwise(lit(0))
  }

  /** DuckDB expression twin of [[qualityLevel]] (over a `text` column
    * in scope). `lazy` — references [[toksSql]], declared later.
    */
  private[llm] lazy val qualityLevelSql: String =
    s"(CASE WHEN len($toksSql) >= 20 THEN 4 ELSE 0 END)" +
      s" + (CASE WHEN ${markerCountSql(Stopwords)}::DOUBLE / len($toksSql) BETWEEN 0.05 AND 0.5 THEN 3 ELSE 0 END)" +
      s" + (CASE WHEN list_sum(list_transform($toksSql, t -> length(t)))::DOUBLE / len($toksSql) BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END)"

  /** DuckDB spelling of [[qualityScore]] over a relation exposing
    * (doc_id, text) — yields a CTE body `SELECT doc_id, quality`.
    */
  private[llm] def qualityScoreSql(src: String): String =
    s"""SELECT doc_id,
       |       -- ::DOUBLE output (the d16b rule): the decimal-literal composite
       |       -- is DECIMAL(6,2) in DuckDB, a type the driver-side pandas bridge
       |       -- materializes via a conversion the hash gate must never depend
       |       -- on. Exact-decimal 0.70 and the Spark double sum are the same
       |       -- float64 (ties-to-even on the 0.4+0.3 products), so the cast is
       |       -- value-identical.
       |       CAST((CASE WHEN len($toksSql) >= 20 THEN 1.0 ELSE 0.0 END) * 0.4
       |       + (CASE WHEN ${markerCountSql(Stopwords)}::DOUBLE / len($toksSql) BETWEEN 0.05 AND 0.5 THEN 1.0 ELSE 0.0 END) * 0.3
       |       + (CASE WHEN list_sum(list_transform($toksSql, t -> length(t)))::DOUBLE / len($toksSql) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.3
       |         AS DOUBLE) AS quality
       |FROM $src""".stripMargin

  /** argmax over per-language marker scores with earlier-language
    * precedence on ties; "und" when no marker occurs. `score` maps a
    * language slug to its score Column (shared by t01 and d14).
    */
  private[llm] def predLangFromScores(score: String => Column): Column = {
    val langs = LangMarkers.map(_._1)
    langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), elseCol) =>
      val isMax = langs.drop(i + 1).foldLeft(score(lang) > 0: Column) {
        (acc, other) => acc && score(lang) >= score(other)
      }
      val beatsEarlier = langs.take(i).foldLeft(isMax) {
        (acc, earlier) => acc && score(lang) > score(earlier)
      }
      when(beatsEarlier, lit(lang)).otherwise(elseCol)
    }
  }

  /** Language prediction straight from a text column (d14's filter). */
  private[llm] def predLang(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangMarkers.map { case (l, ms) => l -> markerCount(toks, ms) }.toMap
    predLangFromScores(scores)
  }

  /** Staged per-era language-marker score relation: one row per
    * document with (doc_id, lang, score_&lt;l&gt; per [[LangMarkers]]
    * language). The marker counting itself
    * (`size(filter(toks, …))` — a HigherOrderFunction, interpreted,
    * no codegen) was the largest linear text cost in the suite (t37
    * 15.7 s / t01 11.2 s at the 100× stress scale, round 8), and t01,
    * t25 and t37 each re-derived the identical counts per run. The
    * counts are a deterministic pure function of the corpus, so they
    * are an INDEX artifact (the dc_* / ci_* discipline): built once per
    * corpus and build, staged with [[graft.ops.Staging.index]], and
    * every consumer reads the
    * staged parquet — integer columns, codegen all the way after the
    * one amortized build.
    */
  private[graft] def langScoresIndex(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scoreCols = LangMarkers.map { case (lang, ms) =>
      markerCount(toks, ms).as(s"score_$lang")
    }
    val loc = graft.ops.Staging.index(dir, "lang_scores")(
      Tables.documents(spark, dir).select((col("doc_id") +: col("lang") +: scoreCols): _*))
    Tables.parquet(spark, loc)
  }

  /** t01 — heuristic language ID: score = marker-token count per
    * language; predict the max-scoring language, ties broken by
    * [[LangMarkers]] order; no markers at all → "und" (undetermined).
    * Scores come from the staged [[langScoresIndex]]; the argmax vote
    * is a codegen projection over its integer columns.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    langScoresIndex(spark, dir)
      .select((col("doc_id") +: LangMarkers.map { case (l, _) => col(s"score_$l") }): _*)
      .withColumn("pred_lang", predLangFromScores(l => col(s"score_$l")))
      .orderBy("doc_id")
  }

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** t02 — quality scoring: token counts, mean token length, non-alnum
    * ratio, stopword ratio, and a composite quality score. All ratios
    * are int/int (identical in both engines); the composite is a fixed
    * arithmetic expression of those ratios.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(toks).as("n_tokens"),
        aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x).as("alnum_chars"),
        markerCount(toks, Stopwords).as("n_stop"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        (col("alnum_chars").cast("double") / col("n_tokens")).as("mean_token_len"),
        ((col("n_chars") - col("alnum_chars")).cast("double") / col("n_chars")).as("nonalnum_ratio"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"))
      .withColumn("quality",
        when(col("n_tokens") >= 20, lit(1.0)).otherwise(lit(0.0)) * lit(0.4)
          + when(col("stopword_ratio").between(0.05, 0.5), lit(1.0)).otherwise(lit(0.0)) * lit(0.3)
          + when(col("mean_token_len").between(3.0, 10.0), lit(1.0)).otherwise(lit(0.0)) * lit(0.3))
      .transform(sortedOnce(_, "doc_id"))
  }

  /** t03 — token counting: whitespace tokens, word tokens, distinct
    * words, and a BPE-ish subword estimate (⌈alnum_chars/4⌉ — the
    * common ~4-chars-per-token heuristic, integer arithmetic only).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(call_function("regexp_extract_all", col("text"), lit("\\S+"), lit(0))).as("n_ws_tokens"),
        size(toks).as("n_words"),
        size(array_distinct(toks)).as("n_distinct_words"),
        aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x).as("alnum_chars"))
      .withColumn("est_bpe_tokens", expr("cast((alnum_chars + 3) div 4 as int)"))
      .transform(sortedOnce(_, "doc_id"))
  }

  /** t04 — document fingerprint: min-hash + xor-fold over the distinct
    * 8-gram shingle hashes (order-independent content signature; the
    * rolling-hash shingles come from [[TextHash.shingles]]). Computed
    * as per-row array folds — no explode, no aggregate, no shuffle;
    * min and xor are order-independent so the fold equals the oracle's
    * grouped min/bit_xor exactly.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextHash.hashedShingles(col("text"), 0).as("hs"))
      .select(col("doc_id"),
        array_min(col("hs")).as("fp_min"),
        aggregate(col("hs"), lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"),
        size(col("hs")).cast("long").as("n_shingles"))
      .transform(sortedOnce(_, "doc_id"))

  /** The (word, doc_id, tf) relation behind t05/t06 — one explode +
    * one hash aggregate, partial/final split keeps the shuffle at one
    * row per distinct (doc, word).
    */
  private def termFreq(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))

  /** t05 — vocabulary building: global top-100 terms by corpus
    * frequency (ties → lexicographic). Two-level aggregate — per-doc
    * tf first, then per-word totals — so the word-level shuffle moves
    * one row per (doc, word), and the top-k is TakeOrderedAndProject,
    * never a global sort.
    */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    termFreq(spark, dir)
      .groupBy("word")
      .agg(sum("tf").as("freq"), count(lit(1)).as("doc_freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(100)

  /** t06 — TF-IDF: top-5 terms per document ranked by `tf · ln(N/df)`.
    * The df relation (vocab-sized) broadcasts back onto the tf
    * relation; N is a broadcast 1-row aggregate; ranking is one window
    * shuffle on doc_id.
    *
    * The ln-based score stays INTERNAL: Java Math.log and libm ln
    * disagree by 1 ulp on ~0.06% of inputs (measured), so a raw double
    * score could fail the driver's exact hash compare. The emitted
    * columns are the bit-exact integers (tf, df) + rank; a rank flip
    * would need two scores within 1 ulp at the top-5 boundary —
    * absent from all three fixture SFs (gate-verified) and harmless
    * to the operator's contract.
    */
  def tfidfTop5(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one explode+aggregate pass feeds tf, df AND the N scalar
    val tf = termFreq(spark, dir).persist()
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct("doc_id").as("n_docs"))
    val rank = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word").asc)
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= 5)
      .select("doc_id", "rank", "word", "tf", "df")
      .orderBy("doc_id", "rank")
  }

  /** Per-source exact + HyperLogLog++ (`approx_count_distinct`,
    * rsd 5%) distinct-word counts — the raw sketch output behind d16.
    * The estimate column is engine-specific bits, so it never appears
    * in a hash-gated query; TextPrepSpec pins its relative error
    * ≤ 15% (3× the rsd-5% sigma) directly on this frame.
    */
  private[graft] def distinctSketchRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("word")).as("n_distinct_exact"),
           approx_count_distinct(col("word"), 0.05).as("n_distinct_approx"))
      .orderBy("source")

  /** KMV sketch size for the d16/d16b distinct estimates: relative sd
    * of the (k−1)/U₍k₎ estimator is ~1/√k ≈ 3.1 %, so the emitted 15 %
    * bound sits at ~4.8σ — and, unlike a bound on HLL++ (whose bits
    * are engine-private and whose bias region flaked the round-7
    * driver gate on a regenerated fixture), the KMV estimate is a
    * DETERMINISTIC integer function of the portable hash, so both
    * engines compute the identical estimate and the bound boolean can
    * never disagree across engines or fixture seeds.
    */
  val KmvDistinctK = 1024
  private val KmvDistinctSeed = 16

  /** 2⁵⁶ — the portable-hash value space ([[TextHash.phash]] keeps 14
    * hex digits). `(k−1)·2⁵⁶` for k=[[KmvDistinctK]] has 10 significant
    * bits, hence is EXACTLY representable as an IEEE double: both
    * engines compute the same numerator, the same rounded-to-nearest
    * divisor, the same quotient, the same floor.
    */
  private val KmvSpace = 72057594037927936.0d

  /** The KMV estimate from (k_eff, vk): exact count when the sketch
    * never filled, else `⌊(k−1)·2⁵⁶ / (vk+1)⌋` (Beyer et al. SIGMOD'07,
    * the d42 machinery applied to plain distinct counting).
    */
  private def kmvEstimate(kEff: Column, vk: Column): Column =
    when(kEff < KmvDistinctK, kEff).otherwise(
      floor(lit((KmvDistinctK - 1).toDouble * KmvSpace)
        / (vk + lit(1L)).cast("double")))

  private def kmvEstimateSqlText(kEff: String, vk: String): String =
    s"(CASE WHEN $kEff < $KmvDistinctK THEN $kEff ELSE " +
      // CAST, not a 72057594037927936.0 literal: DuckDB types that
      // literal DECIMAL(18,1) and the multiply overflows AT EXECUTION
      // the first time the ELSE branch runs (i.e. the first fixture
      // whose sketch fills) — the DOUBLE product is the same exact
      // value (≤ 10 significant bits)
      s"floor((${KmvDistinctK - 1}.0 * CAST(72057594037927936 AS DOUBLE)) / ($vk + 1))::BIGINT END)"

  /** d16 — cardinality sketching, fully hash-gated: per-source exact
    * vs k-minimum-values distinct-word estimates, plus the declared
    * claim "within 15% of the exact count" (~4.8σ at k=1024). At
    * 100 TB a sketch is the only affordable distinct count (constant
    * memory, mergeable partials); KMV keeps that shape — per-source
    * k-smallest distinct hashes via a partitioned ranked window
    * (WindowGroupLimit prunes to k per partition before the shuffle)
    * — while being a deterministic function of the portable hash, so
    * the ESTIMATE ITSELF crosses engines and rides the DuckDB hash
    * gate (the d22/d42 precedent). The HLL++ twin stays available in
    * [[distinctSketchRaw]] (TextPrepSpec pins its 15 % error) as the
    * engine-native production variant; it is kept OFF the gate because
    * its bits are engine-private and its bias region made the bound
    * boolean seed-fragile (the round-7 d16b red row).
    */
  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
    val exact = words.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("word")).as("n_distinct_exact"))
    val wk = Window.partitionBy("source").orderBy("h")
    val sk = words
      .select(col("source"), TextHash.phash(col("word"), KmvDistinctSeed).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= KmvDistinctK)
      .groupBy("source").agg(count(lit(1)).as("k_eff"), max("h").as("vk"))
    exact.join(sk, Seq("source"))
      .select(col("source"), col("n_tokens"), col("n_distinct_exact"),
        kmvEstimate(col("k_eff"), col("vk")).as("kmv_estimate"),
        (abs(kmvEstimate(col("k_eff"), col("vk")) - col("n_distinct_exact"))
          .cast("double")
          <= lit(0.15) * col("n_distinct_exact")).as("sketch_ok"))
      .orderBy("source")
  }

  lazy val oracleDistinctSketch: String =
    s"""WITH w AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |ex AS (
      |  SELECT source, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct_exact
      |  FROM w GROUP BY source),
      |h AS (SELECT DISTINCT source, ${TextHash.phashSql("w", KmvDistinctSeed)} AS h FROM w),
      |sk AS (
      |  SELECT source, count(*) AS k_eff, max(h) AS vk FROM (
      |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |    FROM h) WHERE rn <= $KmvDistinctK GROUP BY source)
      |SELECT ex.source, n_tokens, n_distinct_exact,
      |  ${kmvEstimateSqlText("k_eff", "vk")} AS kmv_estimate,
      |  abs(${kmvEstimateSqlText("k_eff", "vk")} - n_distinct_exact)
      |    <= 0.15 * n_distinct_exact AS sketch_ok
      |FROM ex JOIN sk USING (source)
      |ORDER BY source""".stripMargin

  /** d16b — the MERGE side of the sketch claim: the corpus-wide KMV
    * built by merging every source's sketch (union the per-source
    * k-min sets, re-take the k smallest) — the operation that makes a
    * sketch the 100 TB distinct count (a sum of per-split exacts would
    * overcount shared words; merged sketches don't). The KMV merge is
    * EXACT: the corpus k smallest distinct hashes are each within
    * their own source's k smallest, so merging per-source sketches
    * reproduces the direct corpus sketch bit-for-bit — which is
    * precisely what the oracle computes (one global k-min, no merge),
    * putting the merge property itself on the hash gate. Alongside:
    * the 15 % estimate bound (deterministic — see [[distinctSketch]])
    * and the union's subadditivity (global exact ≤ Σ per-source
    * exacts, strict when sources share vocabulary).
    */
  def distinctSketchBound(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
    val perSource = words.groupBy("source")
      .agg(countDistinct(col("word")).as("nd"))
      .agg(sum("nd").as("sum_source_distinct"))
    // per-source sketches (the partials a 1000-executor plan would
    // ship) → merge: distinct + global k smallest. TakeOrdered moves
    // O(sources·k) rows, never the corpus.
    val wk = Window.partitionBy("source").orderBy("h")
    val merged = words
      .select(col("source"), TextHash.phash(col("word"), KmvDistinctSeed).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= KmvDistinctK)
      .select("h").distinct()
      .orderBy("h").limit(KmvDistinctK)
      .agg(count(lit(1)).as("k_eff"), max("h").as("vk"))
    words
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("word")).as("n_distinct_exact"))
      .crossJoin(broadcast(perSource))
      .crossJoin(broadcast(merged))
      .select(lit("corpus").as("scope"), col("n_tokens"),
        col("n_distinct_exact"), col("sum_source_distinct"),
        kmvEstimate(col("k_eff"), col("vk")).as("kmv_estimate"),
        (abs(kmvEstimate(col("k_eff"), col("vk")) - col("n_distinct_exact"))
          .cast("double")
          <= lit(0.15) * col("n_distinct_exact")).as("sketch_ok"),
        (col("n_distinct_exact") <= col("sum_source_distinct")).as("subadditive_ok"))
  }

  lazy val oracleDistinctSketchBound: String =
    s"""WITH w AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |per_source AS (
      |  -- ::BIGINT: DuckDB sum(BIGINT) yields HUGEINT, which pandas degrades
      |  -- to float64 (617.0) while Spark emits int64 (617) — the driver's
      |  -- hash is representation-sensitive, so the output type must be BIGINT.
      |  SELECT sum(nd)::BIGINT AS sum_source_distinct
      |  FROM (SELECT count(DISTINCT w) AS nd FROM w GROUP BY source)),
      |h AS (SELECT DISTINCT ${TextHash.phashSql("w", KmvDistinctSeed)} AS h FROM w),
      |sk AS (
      |  SELECT count(*) AS k_eff, max(h) AS vk FROM (
      |    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h)
      |  WHERE rn <= $KmvDistinctK)
      |SELECT 'corpus' AS scope,
      |  count(*) AS n_tokens,
      |  count(DISTINCT w.w) AS n_distinct_exact,
      |  (SELECT sum_source_distinct FROM per_source) AS sum_source_distinct,
      |  (SELECT ${kmvEstimateSqlText("k_eff", "vk")} FROM sk) AS kmv_estimate,
      |  abs((SELECT ${kmvEstimateSqlText("k_eff", "vk")} FROM sk)
      |    - count(DISTINCT w.w)) <= 0.15 * count(DISTINCT w.w) AS sketch_ok,
      |  count(DISTINCT w.w) <= (SELECT sum_source_distinct FROM per_source) AS subadditive_ok
      |FROM w""".stripMargin

  // ---- DuckDB oracles -------------------------------------------------------

  private[graft] val toksSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  private def markerCountSql(markers: Seq[String]): String =
    s"len(list_filter($toksSql, t -> t IN (${markers.map(m => s"'$m'").mkString(", ")})))::INT"

  /** CASE-chain argmax over `score_<lang>` columns — SQL twin of
    * [[predLangFromScores]].
    */
  private def bestLangCaseSql: String = {
    val langs = LangMarkers.map(_._1)
    langs.zipWithIndex.reverse.foldLeft("'und'") { case (elseSql, (lang, i)) =>
      val geLater = langs.drop(i + 1).map(o => s"score_$lang >= score_$o")
      val gtEarlier = langs.take(i).map(e => s"score_$lang > score_$e")
      val conds = (s"score_$lang > 0" +: (geLater ++ gtEarlier)).mkString(" AND ")
      s"CASE WHEN $conds THEN '$lang' ELSE $elseSql END"
    }
  }

  private def langScoreColsSql: String =
    LangMarkers.map { case (lang, ms) =>
      s"${markerCountSql(ms)} AS score_$lang"
    }.mkString(",\n         ")

  /** `SELECT doc_id, pred_lang` over any (doc_id, text) relation —
    * SQL twin of [[predLang]] (d14's oracle filter).
    */
  private[llm] def predLangSelectSql(src: String): String =
    s"""SELECT doc_id, $bestLangCaseSql AS pred_lang
       |FROM (SELECT doc_id,
       |         $langScoreColsSql
       |      FROM $src)""".stripMargin

  val oracleLangId: String = {
    val langs = LangMarkers.map(_._1)
    s"""WITH s AS (
       |  SELECT doc_id,
       |         $langScoreColsSql
       |  FROM documents)
       |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
       |       $bestLangCaseSql AS pred_lang
       |FROM s
       |ORDER BY doc_id""".stripMargin
  }

  val oracleQuality: String = {
    s"""WITH s AS (
       |  SELECT doc_id, n_chars,
       |         len($toksSql)::INT AS n_tokens,
       |         list_sum(list_transform($toksSql, t -> length(t)))::INT AS alnum_chars,
       |         ${markerCountSql(Stopwords)} AS n_stop
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_chars, n_tokens,
       |         alnum_chars::DOUBLE / n_tokens AS mean_token_len,
       |         (n_chars - alnum_chars)::DOUBLE / n_chars AS nonalnum_ratio,
       |         n_stop::DOUBLE / n_tokens AS stopword_ratio
       |  FROM s)
       |SELECT doc_id, n_chars, n_tokens, mean_token_len, nonalnum_ratio, stopword_ratio,
       |       -- ::DOUBLE output — see qualityScoreSql (the d16b rule)
       |       CAST((CASE WHEN n_tokens >= 20 THEN 1.0 ELSE 0.0 END) * 0.4
       |       + (CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.5 THEN 1.0 ELSE 0.0 END) * 0.3
       |       + (CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.3
       |         AS DOUBLE) AS quality
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  val oracleTokenStats: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '\\S+'))::INT AS n_ws_tokens,
       |  len($toksSql)::INT AS n_words,
       |  len(list_distinct($toksSql))::INT AS n_distinct_words,
       |  list_sum(list_transform($toksSql, t -> length(t)))::INT AS alnum_chars,
       |  ((list_sum(list_transform($toksSql, t -> length(t)))::INT + 3) // 4)::INT AS est_bpe_tokens
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  private val termFreqSql: String =
    s"""tf AS (
       |  SELECT word, doc_id, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toksSql) AS word FROM documents)
       |  GROUP BY word, doc_id)""".stripMargin

  val oracleVocabTopK: String =
    s"""WITH $termFreqSql
       |SELECT word, sum(tf)::BIGINT AS freq, count(*) AS doc_freq
       |FROM tf GROUP BY word
       |ORDER BY freq DESC, word
       |LIMIT 100""".stripMargin

  val oracleTfidfTop5: String =
    s"""WITH $termFreqSql,
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
       |scored AS (
       |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
       |         tf.tf * ln(n.n_docs::DOUBLE / df.df) AS tfidf
       |  FROM tf JOIN df USING (word) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, word, tf, df
       |FROM ranked WHERE rank <= 5
       |ORDER BY doc_id, rank""".stripMargin

  /** t10 — repetition metrics (Gopher-style quality rules): the
    * duplicate-word-trigram fraction and the most-frequent-word mass,
    * gated into a keep/reject flag. Entirely map-side: both metrics
    * fold over the in-row token array (`array_distinct` for trigram
    * dups, a distinct×occurrence scan for the top word — O(V·N) per
    * row with V ≈ 30-word vocab), so the trigram relation is never
    * materialized, let alone shuffled; at 100 TB this runs at scan
    * speed next to t01-t03. Ratios are int/int double divisions —
    * bit-identical across engines, shipped unrounded.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(repetitionMetrics(Tables.documents(spark, dir)), "doc_id")

  /** The t10 metric computation over any (doc_id, text) relation —
    * split out so the short-doc edge (< 3 words → empty trigram list,
    * no ANSI element_at crash) is unit-testable off-fixture.
    */
  private[graft] def repetitionMetrics(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    docs
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n_words"),
        // guard: below 3 words `sequence(1, size-2)` has stop < start and
        // Spark counts DOWN (indices 0 and -1 → ANSI element_at crash);
        // a short doc must instead yield an empty trigram list, matching
        // the oracle's empty `range(1, len-1)`
        when(size(col("ws")) >= 3,
          transform(sequence(lit(1), size(col("ws")) - 2), i =>
            concat_ws(" ", element_at(col("ws"), i),
              element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
          .otherwise(array().cast("array<string>")).as("tris"))
      .select(col("doc_id"), col("n_words"),
        size(col("tris")).as("n_trigrams"),
        size(array_distinct(col("tris"))).as("n_distinct_trigrams"),
        array_max(transform(array_distinct(col("ws")),
          w => size(filter(col("ws"), x => x === w)))).as("top_word_n"))
      .select(col("doc_id"), col("n_words"), col("n_trigrams"),
        col("n_distinct_trigrams"), col("top_word_n"),
        when(col("n_trigrams") > 0,
          (col("n_trigrams") - col("n_distinct_trigrams")).cast("double") / col("n_trigrams"))
          .as("dup_trigram_frac"),
        (col("top_word_n").cast("double") / col("n_words")).as("top_word_frac"))
      .withColumn("keep",
        (col("dup_trigram_frac") <= 0.02 && col("top_word_frac") <= 0.15).cast("int"))
  }

  val oracleRepetition: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tri AS (
      |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS t
      |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u),
      |ts AS (
      |  SELECT doc_id, count(*) AS n_tri, count(DISTINCT t) AS n_dtri
      |  FROM tri GROUP BY 1),
      |wc AS (
      |  SELECT doc_id, max(c) AS top_n, sum(c) AS n_words
      |  FROM (SELECT doc_id, word, count(*) AS c
      |        FROM ws, LATERAL (SELECT unnest(w) AS word) v GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT ws.doc_id,
      |  n_words::INT AS n_words,
      |  coalesce(n_tri, 0)::INT AS n_trigrams,
      |  coalesce(n_dtri, 0)::INT AS n_distinct_trigrams,
      |  top_n::INT AS top_word_n,
      |  CASE WHEN coalesce(n_tri, 0) > 0 THEN (n_tri - n_dtri)::DOUBLE / n_tri END AS dup_trigram_frac,
      |  top_n::DOUBLE / n_words AS top_word_frac,
      |  (CASE WHEN coalesce(n_tri, 0) > 0 THEN (n_tri - n_dtri)::DOUBLE / n_tri END <= 0.02
      |    AND top_n::DOUBLE / n_words <= 0.15)::INT AS keep
      |FROM ws LEFT JOIN ts USING (doc_id) JOIN wc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val oracleFingerprint: String =
    s"""WITH h AS (
       |  SELECT DISTINCT doc_id, unnest(${TextHash.hashedShinglesSql("text", 0)}) AS h
       |  FROM documents)
       |SELECT doc_id, min(h) AS fp_min, bit_xor(h) AS fp_xor, count(*) AS n_shingles
       |FROM h GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** t13 — corpus novelty scoring: the fraction of a doc's distinct
    * 8-char shingles (same t04 hash spine) whose FIRST corpus
    * occurrence (minimum doc_id) is this doc. High novelty = genuinely
    * new content; low novelty = mostly restatement of earlier docs —
    * the per-document complement of d19's span removal, used to rank
    * crawl snapshots before curation.
    *
    * Shuffle budget: the shingle relation aggregates once on the hash
    * (first-owner per shingle), joins back on the hash (keyed, one row
    * per distinct (doc, shingle)), and aggregates per doc. The ratio
    * is int/int — bit-deterministic, shipped unrounded.
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextHash.hashedShingles(col("text"), 0)).as("h"))
    val firstOwner = sh.groupBy("h").agg(min("doc_id").as("first_doc"))
    sh.join(firstOwner, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  val oracleNovelty: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, unnest(${TextHash.hashedShinglesSql("text", 0)}) AS h
       |  FROM documents),
       |f AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
       |SELECT doc_id,
       |  count(*) AS n_shingles,
       |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE / count(*) AS novelty
       |FROM sh JOIN f USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** t15 — trained linear quality classifier applied at scan time (the
    * fasttext-style filter shape: a model trained OFFLINE is shipped as
    * plain weights and scored map-side next to the scan — no shuffle,
    * no UDF, no model server). The t02 composite is a hand-tuned rule;
    * this is the production successor: features → w·x → threshold.
    *
    * Everything stays INTEGER so the oracle hash-matches: features are
    * counts, the two ratio features are per-mille / ×10 integer
    * divisions (positive operands, so DuckDB's truncating `//` equals
    * JVM `div`), and the logit is a BIGINT dot product with integer
    * weights at ×1000 scale. A float sigmoid would be engine-dependent;
    * the decision boundary (logit > 0) doesn't need it.
    *
    * Scale shape (100 TB): pure map-side — runs at scan speed alongside
    * t01-t03 in one pass; weights are compile-time literals (a real
    * deployment would broadcast them), so the plan is a single Project.
    */
  def qualityLogit(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).as("n_words"),
        markerCount(toks, Stopwords).as("n_stop"),
        aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x).as("alnum_chars"))
      .select(col("doc_id"), col("n_words"), col("n_stop"), col("alnum_chars"),
        when(col("n_words") > 0, expr("cast(n_stop * 1000 div n_words as int)"))
          .otherwise(lit(0)).as("stop_pm"),
        when(col("n_words") > 0, expr("cast(alnum_chars * 10 div n_words as int)"))
          .otherwise(lit(0)).as("mtl_x10"))
      .withColumn("logit_x1000",
        (lit(-3000L) + lit(10L) * col("stop_pm")
          + lit(4L) * least(col("n_words"), lit(500))
          + lit(10L) * col("mtl_x10")).cast("long"))
      .withColumn("keep", col("logit_x1000") > 0)
      .transform(sortedOnce(_, "doc_id"))
  }

  val GrowthDeciles = 10L

  /** t20 — vocabulary-growth (Heaps-law) curve: distinct-vocabulary
    * size after each tenth of the corpus in doc_id order — the
    * diagnostic a pretraining run reads to see whether more data still
    * buys new vocabulary or the corpus has gone stale.
    *
    * The naive form recounts `count(DISTINCT word)` over every prefix —
    * ten full dedup passes. This computes each word's FIRST-OCCURRENCE
    * doc (`min(doc_id)` — one spillable hash agg with map-side partial
    * combine) once; the vocab size at checkpoint c is then just the
    * count of words whose first occurrence lands at or before c — a
    * 10-row rollup. Checkpoints are fixed fractions of the id RANGE
    * (the d44 bucketing: pure expression of doc_id and driver-held
    * min/max, no rank window over the corpus). The final cumulative
    * sum runs over exactly `GrowthDeciles` rows — bounded output, like
    * the Percentiles locator table.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val (minId, maxId) = (b.getLong(0), b.getLong(1))
    val span = (maxId - minId) / GrowthDeciles + 1
    def decileOf(c: String) = expr(s"($c - $minId) div $span + 1")
    val firstDoc = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy("word").agg(min("doc_id").as("first_doc"))
    val newWords = firstDoc.groupBy(decileOf("first_doc").as("decile"))
      .agg(count(lit(1)).as("new_words"))
    val nDocs = docs.groupBy(decileOf("doc_id").as("decile"))
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(newWords, Seq("decile"), "left")
      .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
      // GrowthDeciles rows total — the unpartitioned window is bounded
      .withColumn("vocab_size", sum("new_words").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("decile", "n_docs", "new_words", "vocab_size")
      .orderBy("decile")
  }

  val oracleVocabGrowth: String =
    s"""WITH b AS (SELECT min(doc_id) AS mn,
       |                  (max(doc_id) - min(doc_id)) // $GrowthDeciles + 1 AS span
       |           FROM documents),
       |w AS (
       |  SELECT word, min(doc_id) AS first_doc
       |  FROM (SELECT doc_id, unnest(list_distinct($toksSql)) AS word FROM documents)
       |  GROUP BY word),
       |nw AS (SELECT (first_doc - mn) // span + 1 AS decile, count(*)::BIGINT AS new_words
       |       FROM w, b GROUP BY 1),
       |nd AS (SELECT (doc_id - mn) // span + 1 AS decile, count(*)::BIGINT AS n_docs
       |       FROM documents, b GROUP BY 1)
       |SELECT nd.decile, nd.n_docs,
       |       coalesce(nw.new_words, 0)::BIGINT AS new_words,
       |       sum(coalesce(nw.new_words, 0)) OVER (ORDER BY nd.decile
       |         ROWS UNBOUNDED PRECEDING)::BIGINT AS vocab_size
       |FROM nd LEFT JOIN nw USING (decile)
       |ORDER BY nd.decile""".stripMargin

  val oracleQualityLogit: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |         len($toksSql)::INT AS n_words,
       |         ${markerCountSql(Stopwords)} AS n_stop,
       |         list_sum(list_transform($toksSql, t -> length(t)))::INT AS alnum_chars
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_words, n_stop, alnum_chars,
       |    CASE WHEN n_words > 0 THEN (n_stop * 1000 // n_words)::INT ELSE 0 END AS stop_pm,
       |    CASE WHEN n_words > 0 THEN (alnum_chars * 10 // n_words)::INT ELSE 0 END AS mtl_x10
       |  FROM f)
       |SELECT doc_id, n_words, n_stop, alnum_chars, stop_pm, mtl_x10,
       |  (-3000 + 10 * stop_pm + 4 * least(n_words, 500) + 10 * mtl_x10)::BIGINT AS logit_x1000,
       |  (-3000 + 10 * stop_pm + 4 * least(n_words, 500) + 10 * mtl_x10) > 0 AS keep
       |FROM r ORDER BY doc_id""".stripMargin

  /** Zipf fit uses only the top-K ranks per language. Fitting the
    * full vocabulary would need a global rank (an unpartitioned sort
    * at 100 TB); the standard rank-frequency fit uses the head anyway,
    * and top-K per group is a bounded window after a vocab-sized
    * aggregate.
    */
  val ZipfTopK = 200

  /** t24 — Zipf law fit per language: OLS of ln(count) on ln(rank)
    * over the top-[[ZipfTopK]] terms (rank ties broken by word).
    * Corpus-health metric: a healthy natural-language crawl slice has
    * slope ≈ -1; templated/spammy slices flatten or steepen it.
    *
    * Plan shape: one (lang, word) aggregate (map-side partials over
    * the exploded tokens), a per-lang bounded window for rank, then
    * the q07 closed-form OLS — no global sort, no driver collect.
    * Parity: ln() is libm on both engines; the centered sums change
    * only in the last few ulps across sum orders, and slope/intercept/
    * r2 are rounded to 6 decimals (the q07 convention).
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
    val rankW = Window.partitionBy("lang").orderBy(col("c").desc, col("word"))
    val xy = tf.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= ZipfTopK)
      .select(col("lang"),
        log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    val langW = Window.partitionBy("lang")
    xy
      .withColumn("xbar", avg("x").over(langW))
      .withColumn("ybar", avg("y").over(langW))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_terms"),
        max("xbar").as("xbar"), max("ybar").as("ybar"),
        sum((col("x") - col("xbar")) * (col("y") - col("ybar"))).as("sxy"),
        sum((col("x") - col("xbar")) * (col("x") - col("xbar"))).as("sxx"),
        sum((col("y") - col("ybar")) * (col("y") - col("ybar"))).as("syy"))
      // degenerate-fit guards (the t27 discipline): a single-term
      // language makes sxx = 0, a flat head (all counts equal) makes
      // syy = 0 — NULL instead of an ANSI 0/0 error / NaN drift
      .select(col("lang"), col("n_terms"),
        when(col("sxx") > 0, round(col("sxy") / col("sxx"), 6)).as("slope"),
        when(col("sxx") > 0,
          round(col("ybar") - (col("sxy") / col("sxx")) * col("xbar"), 6)).as("intercept"),
        when(col("sxx") > 0 && col("syy") > 0,
          round((col("sxy") * col("sxy")) / (col("sxx") * col("syy")), 6)).as("r2"))
      .orderBy("lang")
  }

  lazy val oracleZipfFit: String =
    s"""WITH tf AS (
       |  SELECT lang, word, count(*)::BIGINT AS c
       |  FROM (SELECT lang, unnest($toksSql) AS word FROM documents)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT lang, c,
       |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, word) AS rank
       |  FROM tf),
       |xy AS (
       |  SELECT lang, ln(rank::DOUBLE) AS x, ln(c::DOUBLE) AS y
       |  FROM ranked WHERE rank <= $ZipfTopK),
       |centered AS (
       |  SELECT lang, x, y,
       |         avg(x) OVER (PARTITION BY lang) AS xbar,
       |         avg(y) OVER (PARTITION BY lang) AS ybar
       |  FROM xy),
       |fit AS (
       |  SELECT lang, count(*)::BIGINT AS n_terms,
       |         max(xbar) AS xbar, max(ybar) AS ybar,
       |         sum((x - xbar) * (y - ybar)) AS sxy,
       |         sum((x - xbar) * (x - xbar)) AS sxx,
       |         sum((y - ybar) * (y - ybar)) AS syy
       |  FROM centered GROUP BY lang)
       |SELECT lang, n_terms,
       |       CASE WHEN sxx > 0 THEN round(sxy / sxx, 6) END AS slope,
       |       CASE WHEN sxx > 0 THEN round(ybar - (sxy / sxx) * xbar, 6) END AS intercept,
       |       CASE WHEN sxx > 0 AND syy > 0 THEN round((sxy * sxy) / (sxx * syy), 6) END AS r2
       |FROM fit ORDER BY lang""".stripMargin

  /** t27 — Heaps' law fit: OLS of ln(vocab_size) on ln(cumulative
    * docs) over the t20 decile curve. β (the slope) is the
    * vocabulary-growth exponent — natural corpora sit near 0.5; β
    * drifting toward 0 means the crawl slice is saturating (template
    * churn), toward 1 means unbounded novel tokens (noise/boilerplate
    * explosions). Companion corpus-health metric to t24's Zipf slope.
    *
    * Cost: a bounded window over the GrowthDeciles-row curve, then a
    * 1-row closed-form fit — the corpus is only touched through t20's
    * relations.
    */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = vocabGrowth(spark, dir)
      .withColumn("cum_docs", sum("n_docs").over(runW))
      .filter(col("vocab_size") > 0)
      .select(log(col("cum_docs").cast("double")).as("x"),
        log(col("vocab_size").cast("double")).as("y"))
    val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pts
      .withColumn("xbar", avg("x").over(allW))
      .withColumn("ybar", avg("y").over(allW))
      .agg(
        count(lit(1)).as("n_points"),
        max("xbar").as("xbar"), max("ybar").as("ybar"),
        sum((col("x") - col("xbar")) * (col("y") - col("ybar"))).as("sxy"),
        sum((col("x") - col("xbar")) * (col("x") - col("xbar"))).as("sxx"),
        sum((col("y") - col("ybar")) * (col("y") - col("ybar"))).as("syy"))
      // degenerate-fit guards: a 1-point curve makes sxx = 0, a flat
      // curve (vocabulary saturated in decile 1) makes syy = 0 — NULL
      // instead of an ANSI 0/0 error / NaN drift
      .select(col("n_points"),
        when(col("sxx") > 0, round(col("sxy") / col("sxx"), 6)).as("beta"),
        when(col("sxx") > 0,
          round(col("ybar") - (col("sxy") / col("sxx")) * col("xbar"), 6)).as("ln_k"),
        when(col("sxx") > 0 && col("syy") > 0,
          round((col("sxy") * col("sxy")) / (col("sxx") * col("syy")), 6)).as("r2"))
  }

  lazy val oracleHeapsFit: String =
    s"""WITH vg AS ($oracleVocabGrowth),
       |pts AS (
       |  SELECT ln(cum_docs::DOUBLE) AS x, ln(vocab_size::DOUBLE) AS y
       |  FROM (SELECT decile, vocab_size,
       |          sum(n_docs) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_docs
       |        FROM vg)
       |  WHERE vocab_size > 0),
       |centered AS (
       |  SELECT x, y, avg(x) OVER () AS xbar, avg(y) OVER () AS ybar FROM pts),
       |fit AS (
       |  SELECT count(*)::BIGINT AS n_points,
       |         max(xbar) AS xbar, max(ybar) AS ybar,
       |         sum((x - xbar) * (y - ybar)) AS sxy,
       |         sum((x - xbar) * (x - xbar)) AS sxx,
       |         sum((y - ybar) * (y - ybar)) AS syy
       |  FROM centered)
       |SELECT n_points,
       |       CASE WHEN sxx > 0 THEN round(sxy / sxx, 6) END AS beta,
       |       CASE WHEN sxx > 0 THEN round(ybar - (sxy / sxx) * xbar, 6) END AS ln_k,
       |       CASE WHEN sxx > 0 AND syy > 0 THEN round((sxy * sxy) / (sxx * syy), 6) END AS r2
       |FROM fit""".stripMargin

  /** t25 — language-ID evaluation: per-language precision / recall /
    * F1 (integer ppm) of the t01 heuristic against the labeled `lang`
    * column. The eval every pipeline needs next to its classifier:
    * t01 ships predictions, t25 ships the confusion-derived quality of
    * those predictions.
    *
    * Plan shape: ONE map-side pass — 3 conditional sums per language
    * fused into a single agg (no shuffle beyond the 1-row partial
    * merge), then a bounded stack to |langs| rows. All ratios are
    * integer ppm (JVM long division == DuckDB `//` for non-negatives).
    */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val langs = LangMarkers.map(_._1)
    val p = langScoresIndex(spark, dir)
      .select(col("lang"), predLangFromScores(l => col(s"score_$l")).as("pred"))
    val aggs = langs.flatMap { l =>
      Seq(
        sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"true_$l"),
        sum(when(col("pred") === l, 1L).otherwise(0L)).as(s"pred_$l"),
        sum(when(col("lang") === l && col("pred") === l, 1L).otherwise(0L)).as(s"tp_$l"))
    }
    val one = p.agg(aggs.head, aggs.tail: _*)
    val stacked = one.select(expr(
      s"stack(${langs.size}, " +
        langs.map(l => s"'$l', true_$l, pred_$l, tp_$l").mkString(", ") +
        ") AS (lang, n_true, n_pred, tp)"))
    stacked
      .withColumn("precision_ppm",
        when(col("n_pred") > 0, expr("tp * 1000000 div n_pred")).otherwise(0L))
      .withColumn("recall_ppm",
        when(col("n_true") > 0, expr("tp * 1000000 div n_true")).otherwise(0L))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") > 0,
          expr("2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)"))
          .otherwise(0L))
      .orderBy("lang")
  }

  lazy val oracleLangIdEval: String = {
    val langs = LangMarkers.map(_._1)
    val perLang = langs.map { l =>
      s"""SELECT '$l' AS lang,
         |  sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END)::BIGINT AS n_true,
         |  sum(CASE WHEN pred = '$l' THEN 1 ELSE 0 END)::BIGINT AS n_pred,
         |  sum(CASE WHEN lang = '$l' AND pred = '$l' THEN 1 ELSE 0 END)::BIGINT AS tp
         |FROM j""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS (${predLangSelectSql("documents")}),
       |j AS (SELECT d.lang, p.pred_lang AS pred
       |      FROM documents d JOIN p USING (doc_id)),
       |m AS (
       |$perLang),
       |r AS (
       |  SELECT lang, n_true, n_pred, tp,
       |    (CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred ELSE 0 END)::BIGINT AS precision_ppm,
       |    (CASE WHEN n_true > 0 THEN tp * 1000000 // n_true ELSE 0 END)::BIGINT AS recall_ppm
       |  FROM m)
       |SELECT lang, n_true, n_pred, tp, precision_ppm, recall_ppm,
       |  (CASE WHEN precision_ppm + recall_ppm > 0
       |        THEN 2 * precision_ppm * recall_ppm // (precision_ppm + recall_ppm)
       |        ELSE 0 END)::BIGINT AS f1_ppm
       |FROM r ORDER BY lang""".stripMargin
  }

  // -- t29: unigram-entropy quality signal -------------------------------------

  /** t29 — per-document Shannon entropy of the unigram distribution
    * (Gopher-style repetition/diversity signal: low entropy = a few
    * tokens dominate = templated or degenerate text, complementary to
    * t10's n-gram repetition ratio). `entropy = log2(n) - Σ c·log2(c) / n`
    * over per-word counts c; `norm_entropy` divides by the max possible
    * `log2(n_distinct)` so documents of different lengths compare on
    * [0, 1] (0 when a doc has a single distinct token — the degenerate
    * case where the normalizer is 0).
    *
    * Scale shape: one hash-aggregate per (doc, word) with map-side
    * partials, then a per-doc fold — the same two-level shape as t05;
    * no joins, no windows, nothing corpus-global.
    */
  def unigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val h = log2(col("n_tokens")) - col("clog") / col("n_tokens")
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
           count(lit(1)).as("n_distinct"),
           sum(col("c").cast("double") * log2(col("c"))).as("clog"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(h, 6).as("entropy"),
        round(when(col("n_distinct") > 1, h / log2(col("n_distinct")))
          .otherwise(lit(0.0)), 6).as("norm_entropy"))
      .orderBy("doc_id")
  }

  val oracleUnigramEntropy: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
       |a AS (
       |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS n_distinct,
       |         sum(c::DOUBLE * log2(c)) AS clog
       |  FROM c GROUP BY 1)
       |SELECT doc_id, n_tokens, n_distinct,
       |  round(log2(n_tokens) - clog / n_tokens, 6) AS entropy,
       |  round(CASE WHEN n_distinct > 1
       |             THEN (log2(n_tokens) - clog / n_tokens) / log2(n_distinct)
       |             ELSE 0.0 END, 6) AS norm_entropy
       |FROM a ORDER BY doc_id""".stripMargin

  // -- t31: PMI collocations ----------------------------------------------------

  /** A bigram must occur this often corpus-wide to be scored (PMI is
    * unstable on hapax pairs — the standard phrase-mining floor).
    */
  val PmiMinCount = 3
  val PmiTopK = 50

  /** t31 — pointwise-mutual-information collocations: the top-K
    * adjacent word pairs by `log2(p(ab) / (p(a)·p(b)))` — the classic
    * phrase-mining / tokenizer-vocabulary signal (a high-PMI pair is a
    * merge candidate BPE should learn, a multi-word entity, or a
    * template artifact worth inspecting).
    *
    * Scale shape: bigrams come from ONE map-side `zip_with` over each
    * doc's token array (never a positional self-join), then a
    * vocab²-bounded hash aggregate with map-side partials; unigram
    * counts broadcast onto the pair relation; the only global sort is
    * the final window over the ≤|vocab|² candidate relation — bounded
    * by the vocabulary, not the corpus. PMI doubles are built from an
    * identical left-associated op tree in both engines, so they agree
    * bit-for-bit before the 6-dp rounding.
    */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokens(col("text"))
    val docs = Tables.documents(spark, dir)
    // both small relations feed multiple subtrees — cache so the corpus
    // is tokenized exactly twice (once per shape), not once per consumer
    val uni = docs.select(explode(tok).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")).persist()
    val pairs = docs.select(explode(zip_with(
        slice(tok, lit(1), greatest(size(tok) - 1, lit(0))),
        slice(tok, lit(2), greatest(size(tok) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab")).persist()
    val nUni = uni.agg(sum("c").as("n_uni"))
    val nBi = pairs.agg(sum("c_ab").as("n_bi"))
    val w = Window.orderBy(col("pmi").desc, col("w1"), col("w2"))
    pairs.filter(col("c_ab") >= PmiMinCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_b"))), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log2(col("c_ab").cast("double") * col("n_uni") * col("n_uni")
          / (col("n_bi").cast("double") * col("c_a") * col("c_b"))), 6).as("pmi"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PmiTopK)
      .orderBy("rank")
  }

  val oraclePmiBigrams: String =
    s"""WITH tk AS (SELECT $toksSql AS t FROM documents),
       |uni AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
       |bi AS (
       |  SELECT b, count(*) AS c_ab FROM (
       |    SELECT unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS b
       |    FROM tk)
       |  GROUP BY b),
       |tot AS (SELECT sum(c)::BIGINT AS n_uni FROM uni),
       |totb AS (SELECT sum(c_ab)::BIGINT AS n_bi FROM bi),
       |sp AS (
       |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2, c_ab
       |  FROM bi WHERE c_ab >= $PmiMinCount),
       |ranked AS (
       |  SELECT sp.w1, sp.w2, sp.c_ab,
       |    round(log2(sp.c_ab::DOUBLE * n_uni * n_uni
       |               / (n_bi::DOUBLE * a.c * b.c)), 6) AS pmi
       |  FROM sp JOIN uni a ON a.w = sp.w1 JOIN uni b ON b.w = sp.w2, tot, totb)
       |SELECT w1, w2, c_ab, pmi,
       |  CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT) AS rank
       |FROM ranked QUALIFY rank <= $PmiTopK
       |ORDER BY rank""".stripMargin

  // -- t32: term burstiness (Church-Gale VMR) -----------------------------------

  val BurstTopK = 30

  /** t32 — term burstiness: for the top-K words by collection
    * frequency, the variance-to-mean ratio of the per-document count
    * (zeros included). Under Poisson (a word sprinkled independently)
    * VMR ≈ 1; content words BURST (VMR ≫ 1 — they recur within the
    * documents they touch), function words sit near 1. The Church-Gale
    * signal that separates topical terms from glue — used to pick
    * keyword candidates and to sanity-check synthetic corpora (a
    * generator that sprinkles tokens i.i.d. shows VMR ≈ 1 everywhere).
    *
    * `vmr = E[x²]/E[x] − E[x] = sumsq/cf − cf/D` — two exact-integer
    * divisions and one subtraction, the identical IEEE tree in both
    * engines. Scale shape: the t29 two-level hash aggregate (map-side
    * partials, vocab-bounded result) plus a broadcast 1-row doc count;
    * the only sort is the top-K window over the vocab-bounded relation.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("cf").desc, col("word"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("word")
      .agg(count(lit(1)).as("df"), sum("c").as("cf"),
        sum(col("c") * col("c")).as("sumsq"))
      .crossJoin(broadcast(nDocs))
      .select(col("word"), col("df"), col("cf"),
        round(col("sumsq").cast("double") / col("cf")
          - col("cf").cast("double") / col("n_docs"), 6).as("vmr"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BurstTopK)
      .orderBy("rank")
  }

  val oracleBurstiness: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
       |a AS (
       |  SELECT w AS word, count(*) AS df, sum(c)::BIGINT AS cf,
       |         sum(c * c)::BIGINT AS sumsq
       |  FROM c GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT word, df, cf,
       |  round(sumsq::DOUBLE / cf - cf::DOUBLE / n_docs, 6) AS vmr,
       |  CAST(row_number() OVER (ORDER BY cf DESC, word) AS INT) AS rank
       |FROM a, n
       |QUALIFY rank <= $BurstTopK
       |ORDER BY rank""".stripMargin

  // -- t33: held-out n-gram coverage vs train ------------------------------------

  /** t33 — train-coverage of the held-out splits: for every val/test
    * document (the d13 split rule), the fraction of its adjacent-pair
    * bigrams that ALSO occur anywhere in the train split. The
    * generalization-gap probe that sits between t13's within-corpus
    * novelty and d18's contamination spans: coverage ≈ 1 means the
    * eval set exercises only constructions the model trained on;
    * a low-coverage doc is genuinely out-of-distribution (or junk).
    *
    * Scale shape: the train bigram DICTIONARY is vocab²-bounded, so it
    * broadcasts; held-out docs stream map-side through one zip_with +
    * explode and a left-semi-style null test — no corpus-sized shuffle,
    * and the per-doc fold is a two-level hash aggregate. Integer
    * per-mille coverage keeps the gate float-free.
    */
  def trainCoverage(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokens(col("text"))
    val withSplit = Tables.documents(spark, dir)
      .withColumn("split", Sampling.splitCol(col("doc_id")))
    def bigrams(df: DataFrame) = df.select(col("doc_id"), col("split"),
      explode(zip_with(
        slice(tok, lit(1), greatest(size(tok) - 1, lit(0))),
        slice(tok, lit(2), greatest(size(tok) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bi"))
    val trainDict = bigrams(withSplit.filter(col("split") === "train"))
      .select("bi").distinct()
      .withColumn("in_train", lit(true))
    bigrams(withSplit.filter(col("split") =!= "train"))
      .join(broadcast(trainDict), Seq("bi"), "left")
      .groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("in_train"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("doc_id"), col("split"), col("n_bigrams"), col("n_covered"),
        // integer DIV, not `/` (Column./ is always double division);
        // operands are non-negative so truncation == floor == DuckDB //
        expr("n_covered * 1000 DIV n_bigrams").as("coverage_pm"))
      .orderBy("doc_id")
  }

  lazy val oracleTrainCoverage: String = {
    val splitCase = Sampling.splitCaseSql("doc_id")
    s"""WITH d AS (
       |  SELECT doc_id, $splitCase AS split, $toksSql AS t FROM documents),
       |bi AS (
       |  SELECT doc_id, split,
       |         unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bi
       |  FROM d),
       |dict AS (SELECT DISTINCT bi FROM bi WHERE split = 'train')
       |SELECT b.doc_id, b.split,
       |  count(*)::BIGINT AS n_bigrams,
       |  count(dict.bi)::BIGINT AS n_covered,
       |  (count(dict.bi) * 1000 // count(*))::BIGINT AS coverage_pm
       |FROM bi b LEFT JOIN dict ON b.bi = dict.bi
       |WHERE b.split <> 'train'
       |GROUP BY 1, 2
       |ORDER BY doc_id""".stripMargin
  }

  // -- t37: language-tag mismatch list ------------------------------------------

  /** t37 — the per-document language-tag cleanup list: every document
    * whose t01 marker-vote prediction DISAGREES with its `lang` tag,
    * with both scores and the vote margin. t25 grades the classifier
    * in aggregate (ppm confusion); this emits the actionable rows — a
    * positive margin means the text really reads like the predicted
    * language (a mislabeled tag, route to re-tag), a zero/low margin
    * means the doc is marker-poor (route to the quality gate instead).
    * The lexical sibling of d67's embedding-side mislabel list.
    *
    * Scale shape: one codegen projection over the staged
    * [[langScoresIndex]] (marker counts amortized once per era; the
    * argmax vote and score lookups are pure codegen); the mismatch
    * filter prunes before the presentation sort, so only the cleanup
    * list itself shuffles. Integer scores, total tiebreak order — no
    * floats anywhere.
    */
  def langMismatch(spark: SparkSession, dir: String): DataFrame = {
    val tagScore = element_at(
      map(LangMarkers.flatMap { case (l, _) => Seq(lit(l), col(s"score_$l")) }: _*),
      col("lang"))
    val predScore = element_at(
      map(LangMarkers.flatMap { case (l, _) => Seq(lit(l), col(s"score_$l")) }: _*),
      col("pred_lang"))
    langScoresIndex(spark, dir)
      .withColumn("pred_lang", predLangFromScores(l => col(s"score_$l")))
      .where(col("pred_lang") =!= col("lang"))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        // 0, not NULL, for a tag/prediction outside the marker set
        // (t01 votes 'und' on marker-free docs): "no marker evidence"
        coalesce(tagScore, lit(0)).as("score_tag"),
        coalesce(predScore, lit(0)).as("score_pred"))
      .withColumn("margin", col("score_pred") - col("score_tag"))
      .orderBy("doc_id")
  }

  lazy val oracleLangMismatch: String = {
    val langs = LangMarkers.map(_._1)
    def scoreCase(of: String) =
      s"CASE $of ${langs.map(l => s"WHEN '$l' THEN score_$l").mkString(" ")} ELSE 0 END"
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |         $langScoreColsSql
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang, ${langs.map(l => s"score_$l").mkString(", ")},
       |         $bestLangCaseSql AS pred_lang
       |  FROM s)
       |SELECT doc_id, lang, pred_lang,
       |  ${scoreCase("lang")} AS score_tag,
       |  ${scoreCase("pred_lang")} AS score_pred,
       |  ${scoreCase("pred_lang")} - ${scoreCase("lang")} AS margin
       |FROM p
       |WHERE pred_lang <> lang
       |ORDER BY doc_id""".stripMargin
  }

  // -- t38: source-overlap matrix -------------------------------------------------

  /** t38 — the source-overlap matrix: exact Jaccard similarity of the
    * distinct-bigram SETS of every source pair. The mixture-design
    * complement of d68 (which measures distributional drift between
    * splits): two sources with high set overlap are redundant in a
    * training mixture (d26/d52 should treat them as one pool), and a
    * source overlapping nothing is the diversity an upsampler
    * protects. Integer arithmetic end-to-end (∩ via one equi-join on
    * the bigram key, ∪ = |A|+|B|−∩, Jaccard in exact per-million).
    *
    * Scale shape: one corpus pass explodes to (source, bigram),
    * distinct folds it to the vocab²-bounded per-source set relation;
    * the pair intersection is a bigram-keyed equi-join of that bounded
    * relation with map-side partial counts — never all-pairs over
    * docs. |sources|² result rows.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokens(col("text"))
    val bigrams = Tables.documents(spark, dir)
      .select(col("source"), explode(zip_with(
        slice(tok, lit(1), greatest(size(tok) - 1, lit(0))),
        slice(tok, lit(2), greatest(size(tok) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bi"))
      .distinct()
      .persist() // feeds the sizes AND both legs of the intersection join
    val sizes = bigrams.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = bigrams.toDF("src_a", "bi")
      .join(bigrams.toDF("src_b", "bi"), Seq("bi"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    sizes.toDF("src_a", "n_a")
      .join(sizes.toDF("src_b", "n_b"), col("src_a") < col("src_b"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      // ppm from doubles (the d68 convention): `n_common * 1000000`
      // in BIGINT overflows once a source holds ~9e12 distinct
      // bigrams; presentation-only, so the double tree is fine and
      // identical IEEE in both engines.
      .withColumn("jaccard_ppm",
        floor(col("n_common").cast("double") * 1e6
          / (col("n_a") + col("n_b") - col("n_common")).cast("double")))
      .orderBy("src_a", "src_b")
  }

  lazy val oracleSourceOverlap: String =
    s"""WITH d AS (SELECT source, $toksSql AS t FROM documents),
       |bi AS (
       |  SELECT DISTINCT source,
       |         unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bi
       |  FROM d),
       |sz AS (SELECT source, count(*)::BIGINT AS n FROM bi GROUP BY 1),
       |iv AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_common
       |  FROM bi a JOIN bi b ON a.bi = b.bi AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT sa.source AS src_a, sb.source AS src_b, sa.n AS n_a, sb.n AS n_b,
       |  coalesce(iv.n_common, 0)::BIGINT AS n_common,
       |  floor(coalesce(iv.n_common, 0)::DOUBLE * 1000000.0
       |     / (sa.n + sb.n - coalesce(iv.n_common, 0))::DOUBLE)::BIGINT AS jaccard_ppm
       |FROM sz sa
       |JOIN sz sb ON sa.source < sb.source
       |LEFT JOIN iv ON iv.src_a = sa.source AND iv.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin

  // -- t35: Simpson lexical diversity per language --------------------------------

  /** t35 — per-language Simpson (inverse-participation) lexical
    * diversity: `inv_simpson = n² / Σc²` over the language's term
    * counts — the "effective vocabulary" a sampler sees (a language
    * whose mass sits on a handful of boilerplate terms has
    * inv_simpson ≪ vocab even when raw vocab looks healthy). The
    * log-free complement of t29's Shannon entropy: Σc² is an exact
    * BIGINT, so the diversity ratio is a quotient of identical
    * integers in both engines — no transcendental anywhere.
    *
    * `eff_ratio = n² / (Σc²·vocab)` ∈ (0, 1] normalizes by vocabulary
    * size (1 = perfectly uniform usage).
    *
    * Scale shape: two hash aggregates with map-side partials —
    * (lang, word) counts then a per-lang fold — and |langs| result
    * rows. Nothing shuffles but the count partials; at 100 TB this is
    * the same one-pass profile as t29.
    */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("sum_sq"),
        round(col("n_tokens").cast("double") * col("n_tokens") / col("sum_sq"), 6)
          .as("inv_simpson"),
        round(col("n_tokens").cast("double") * col("n_tokens")
          / (col("sum_sq") * col("vocab")), 6).as("eff_ratio"))
      .orderBy("lang")

  // -- t36: per-document character entropy -----------------------------------

  /** t36 — per-document character-level Shannon entropy plus the
    * distinct-character count: the junk filter that catches what word
    * statistics can't see (a doc of one repeated character scores near
    * 0 bits; binary noise pushed through a text column scores near the
    * alphabet ceiling — both are drop signals in a CCNet/Gopher-style
    * rule stack, and both can carry healthy-LOOKING token counts).
    * The per-DOCUMENT complement of t29's corpus-level word entropy,
    * at character granularity like t30's mojibake scan.
    *
    * Parity: the level counts are exact integers; the Σc·log2(c) fold
    * rides the 6-dp round exactly as m21's identically-shaped raster
    * entropy does. One explode + two hash aggregates, map-side
    * partials, |docs| rows out — per-doc character histograms never
    * leave their aggregate.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    // '[^\n]', not '.': Java regex '.' also excludes \r and the
    // Unicode line separators (U+0085, U+2028, U+2029) while DuckDB's
    // RE2 '.' excludes only \n — an explicit newline-complement class
    // reads every non-\n char identically in both engines regardless
    // of what line separators a doc carries.
    val chars = call_function("regexp_extract_all", col("text"), lit("[^\\n]"), lit(0))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(chars).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_read"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log2(col("c"))).as("clog"))
      .select(col("doc_id"), col("n_read"), col("n_distinct"),
        round(log2(col("n_read")) - col("clog") / col("n_read"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  val oracleCharEntropy: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[^\n]')) AS ch FROM documents),
      |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
      |a AS (
      |  SELECT doc_id, sum(c)::BIGINT AS n_read, count(*)::BIGINT AS n_distinct,
      |         sum(c::DOUBLE * log2(c)) AS clog
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n_read, n_distinct,
      |  round(log2(n_read) - clog / n_read, 6) AS entropy
      |FROM a
      |ORDER BY doc_id""".stripMargin

  val oracleSimpsonDiversity: String =
    s"""WITH t AS (
       |  SELECT lang, unnest($toksSql) AS w FROM documents),
       |c AS (SELECT lang, w, count(*) AS c FROM t GROUP BY 1, 2),
       |a AS (
       |  SELECT lang, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
       |         sum(c * c)::BIGINT AS sum_sq
       |  FROM c GROUP BY 1)
       |SELECT lang, n_tokens, vocab, sum_sq,
       |  round(n_tokens::DOUBLE * n_tokens / sum_sq, 6) AS inv_simpson,
       |  round(n_tokens::DOUBLE * n_tokens / (sum_sq * vocab), 6) AS eff_ratio
       |FROM a
       |ORDER BY lang""".stripMargin
}
