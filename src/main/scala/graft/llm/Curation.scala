package graft.llm

import graft.ops.CoreOps.sortedOnce
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a production training-data pipeline runs
  * before a training job is allowed to see the data:
  *
  *  - d18 benchmark decontamination — flag train docs sharing word
  *    n-grams with the held-out eval split (the GPT-3-style 13-gram
  *    collision scan, scaled down to the fixture's short docs);
  *  - d19 duplicate-span removal — C4-style global dedup at
  *    sub-document granularity (fixed char chunks standing in for
  *    lines, which the fixture text lacks): keep the first occurrence
  *    of every distinct chunk, reassemble what survives;
  *  - d20 temperature-weighted language mixing — sample each language
  *    stratum with probability ∝ n^α (α = 0.5), the standard
  *    multilingual rebalancing step, with integer-snapped weights so
  *    the decision boundary is bit-deterministic across engines.
  *
  * Scale shape: every candidate-generation step is keyed — n-gram
  * hash equi-joins (with a document-frequency cap bounding hot-key
  * skew), a chunk-hash window, and broadcast lang dimensions. Nothing
  * is all-pairs; nothing sorts globally before the presentation sort.
  */
object Curation {

  // ---- d18: benchmark decontamination --------------------------------------

  val NgramWords = 8
  val NgramSeed = 13

  /** N-grams seen in more docs than this are dropped before the join:
    * boilerplate n-grams (at web scale: license headers, navigation
    * text) would otherwise each produce |train ∩ h| × |eval ∩ h| join
    * rows — the classic hot-key blow-up. Dropping them is also
    * methodologically right: a phrase shared by hundreds of documents
    * is not evidence of benchmark leakage.
    */
  val MaxNgramDf = 100

  /** The distinct 56-bit hashes of a doc's word [[NgramWords]]-grams
    * (empty for docs with fewer than [[NgramWords]] words — the guard
    * keeps `sequence` from generating a negative-step range).
    */
  private[graft] def ngramHashes(text: Column): Column = {
    val ws = split(text, " ")
    when(size(ws) >= NgramWords,
      array_distinct(transform(
        sequence(lit(1), size(ws) - lit(NgramWords - 1)),
        i => TextHash.phash(concat_ws(" ", slice(ws, i, lit(NgramWords))), NgramSeed))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** d18 — decontamination scan: for every (train doc, eval doc) pair
    * sharing at least one [[NgramWords]]-word n-gram, count the shared
    * distinct n-grams. Splits are the deterministic d13 assignment
    * ([[Sampling.splitCol]]); the corpus is [[Dedup.corpus]] (docs +
    * truncated twins) so real contamination exists to find — a twin
    * landing in `test` while its original landed in `train` is exactly
    * the leak this scan exists to catch.
    *
    * Shuffle budget: the posting index ([[decontamIndex]] — one
    * explode + df aggregate, staged per era) then one equi-join on
    * the hash and one pair aggregate — all keyed, no broadcast of the
    * corpus, no all-pairs anything.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (_, evalPath, trainPath) = decontamIndex(spark, dir)
    Tables.parquet(spark, trainPath)
      .join(Tables.parquet(spark, evalPath), Seq("h"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_id", "eval_id")
  }

  /** Era-staged decontamination posting index shared by d18 (one-shot
    * scan) and s16 (streaming admission): `dc_hot` — n-gram hashes
    * with corpus df > [[MaxNgramDf]] (the boilerplate cap, stored
    * INVERTED because the allowed set is corpus-sized and the hot set
    * tiny by construction); `dc_eval` — (h, eval_id) postings of the
    * test split; `dc_train` — (h, train_id) postings of the train
    * split with the hot set already removed. Built in ONE
    * explode+aggregate pass per corpus and build, staged with
    * [[graft.ops.Staging.indexes]]. At 100 TB this is the
    * production shape: the n-gram posting index is corpus-era state
    * paid once, reused by every batch scan, every new benchmark, and
    * the streaming admission check.
    */
  private[graft] def decontamIndex(spark: SparkSession, dir: String)
      : (String, String, String) = {
    val staged = graft.ops.Staging.indexes(dir, "dc_hot", "dc_eval", "dc_train") { put =>
      // persisted: the explode+md5 n-gram leg is the dominant CPU cost
      // and feeds all three artifacts — uncached it would run thrice
      val ex = Dedup.corpus(spark, dir)
        .select(col("doc_id"), Sampling.splitCol(col("doc_id")).as("split"),
          explode(ngramHashes(col("text"))).as("h"))
        .persist()
      val hot = ex.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxNgramDf)
        .select("h")
        .localCheckpoint() // tiny; reused by the dc_train anti-join
      put("dc_hot", hot)
      put("dc_eval", ex.filter(col("split") === "test").select(col("h"), col("doc_id").as("eval_id")))
      put("dc_train",
        ex.filter(col("split") === "train")
          .select(col("h"), col("doc_id").as("train_id"))
          .join(broadcast(hot), Seq("h"), "left_anti"))
      ex.unpersist()
    }
    (staged(0), staged(1), staged(2))
  }

  private def ngramHashesSql(wsExpr: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($wsExpr) - ${NgramWords - 1}, 0) + 1), " +
      s"i -> ${TextHash.phashSql(s"array_to_string(($wsExpr)[i:i + ${NgramWords - 1}], ' ')", NgramSeed)}))"

  val oracleDecontaminate: String =
    s"""WITH ${Dedup.corpusSql},
       |ex AS (
       |  SELECT doc_id, ${Sampling.splitCaseSql("doc_id")} AS split, unnest(hs) AS h
       |  FROM (SELECT doc_id, ${ngramHashesSql("string_split(text, ' ')")} AS hs FROM corpus)),
       |allowed AS (SELECT h FROM ex GROUP BY h HAVING count(*) <= $MaxNgramDf)
       |SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS n_shared
       |FROM ex t JOIN allowed USING (h) JOIN ex e USING (h)
       |WHERE t.split = 'train' AND e.split = 'test'
       |GROUP BY 1, 2
       |ORDER BY train_id, eval_id""".stripMargin

  /** A test doc is FLAGGED contaminated when at least this fraction
    * (in parts-per-million) of its eligible n-grams also appear in
    * the train split — the "drop the benchmark item" threshold of a
    * decontamination audit (GPT-3 appendix C / Lee et al. use 50-70%
    * overlap; 50% here).
    */
  val ContamFlagPpm = 500000L

  /** t22 — per-eval-doc contamination ATTRIBUTION: where d18 emits the
    * raw (train, eval, shared-n-gram) pair counts, this is the audit
    * report a decontamination decision actually reads — for every
    * test-split doc, what FRACTION of its eligible n-grams leak from
    * the train split (`contam_ppm`, integer parts-per-million), which
    * single train doc explains the most overlap (`top_train_id`, the
    * likely source), and whether the doc crosses the
    * [[ContamFlagPpm]] drop threshold. "Eligible" = the doc's
    * distinct n-grams minus the > [[MaxNgramDf]]-df hot set — phrases
    * shared by hundreds of docs are boilerplate, not leakage, and
    * counting them would both blow up the join and dilute the signal.
    *
    * Scale shape: rides the same staged per-era posting index as d18
    * (the corpus is tokenized ONCE per era); the eval side of every
    * join is benchmark-sized by definition (test split ≪ corpus), so
    * the per-(eval, train) attribution counts and the top-1 window run
    * over benchmark-scale rows — the corpus contributes only the
    * already-staged train posting list, probed by one equi-join on
    * the n-gram hash. Integer ppm (`div`), so the flag boundary is
    * bit-deterministic across engines.
    */
  def contamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (hotPath, evalPath, trainPath) = decontamIndex(spark, dir)
    val hot = Tables.parquet(spark, hotPath)
    // dc_eval is staged unfiltered; dc_train is already hot-pruned
    val ev = Tables.parquet(spark, evalPath)
      .join(broadcast(hot), Seq("h"), "left_anti")
    val tr = Tables.parquet(spark, trainPath)
    val elig = ev.groupBy("eval_id").agg(count(lit(1)).as("n_eligible"))
    val mt = ev.join(tr.select("h").distinct(), Seq("h"))
      .groupBy("eval_id").agg(count(lit(1)).as("n_matched"))
    val pairCnt = ev.join(tr, Seq("h"))
      .groupBy("eval_id", "train_id").agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy("eval_id").orderBy(col("n_shared").desc, col("train_id"))
    val top = pairCnt.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("eval_id"), col("train_id").as("top_train_id"),
        col("n_shared").as("top_shared"))
    elig
      .join(mt, Seq("eval_id"), "left")
      .join(top, Seq("eval_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("contam_ppm", expr("n_matched * 1000000 div n_eligible"))
      .select(col("eval_id"), col("n_eligible"), col("n_matched"),
        col("contam_ppm"), col("top_train_id"), col("top_shared"),
        (col("contam_ppm") >= ContamFlagPpm).as("flagged"))
      .orderBy("eval_id")
  }

  val oracleContamAttribution: String =
    s"""WITH ${Dedup.corpusSql},
       |ex AS (
       |  SELECT doc_id, ${Sampling.splitCaseSql("doc_id")} AS split, unnest(hs) AS h
       |  FROM (SELECT doc_id, ${ngramHashesSql("string_split(text, ' ')")} AS hs FROM corpus)),
       |hot AS (SELECT h FROM ex GROUP BY h HAVING count(*) > $MaxNgramDf),
       |ev AS (
       |  SELECT doc_id AS eval_id, h FROM ex
       |  WHERE split = 'test' AND h NOT IN (SELECT h FROM hot)),
       |trd AS (
       |  SELECT doc_id AS train_id, h FROM ex
       |  WHERE split = 'train' AND h NOT IN (SELECT h FROM hot)),
       |elig AS (SELECT eval_id, count(*) AS n_eligible FROM ev GROUP BY 1),
       |mt AS (
       |  SELECT e.eval_id, count(*) AS n_matched
       |  FROM ev e JOIN (SELECT DISTINCT h FROM trd) t USING (h)
       |  GROUP BY 1),
       |pc AS (
       |  SELECT e.eval_id, t.train_id, count(*) AS n_shared
       |  FROM ev e JOIN trd t USING (h)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT eval_id, train_id, n_shared,
       |         row_number() OVER (PARTITION BY eval_id
       |                            ORDER BY n_shared DESC, train_id) AS rn
       |  FROM pc)
       |SELECT g.eval_id, g.n_eligible,
       |  coalesce(m.n_matched, 0) AS n_matched,
       |  coalesce(m.n_matched, 0) * 1000000 // g.n_eligible AS contam_ppm,
       |  t.train_id AS top_train_id, t.n_shared AS top_shared,
       |  (coalesce(m.n_matched, 0) * 1000000 // g.n_eligible) >= $ContamFlagPpm AS flagged
       |FROM elig g
       |LEFT JOIN mt m USING (eval_id)
       |LEFT JOIN top t ON t.eval_id = g.eval_id AND t.rn = 1
       |ORDER BY eval_id""".stripMargin

  // ---- d19: duplicate-span (chunk) removal ---------------------------------

  val SpanLen = 120 // non-overlapping char chunks — the "line" analog

  /** d19 — C4-style duplicate-span removal: split every doc into fixed
    * [[SpanLen]]-char chunks, keep only the FIRST occurrence of each
    * distinct chunk across the whole corpus (first = smallest
    * (doc_id, chunk_idx)), and emit per-doc survival stats plus the
    * md5 of the surviving spans in order (hash-of-hashes — proves the
    * reassembled text without moving it twice).
    *
    * Shuffle budget: chunk explode is map-side; ONE window shuffle on
    * the chunk hash picks winners; ONE doc-keyed aggregate reassembles.
    * At 100 TB the chunk-hash shuffle is the canonical global-dedup
    * exchange — perfectly partitionable, no skew beyond true duplicate
    * mass.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val starts = sequence(lit(1), greatest(length(col("text")), lit(1)), lit(SpanLen))
    val chunks = Dedup.corpus(spark, dir)
      .select(col("doc_id"), col("text"), explode(starts).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / SpanLen).cast("int").as("chunk_idx"),
        md5(col("text").substr(col("start"), lit(SpanLen))).as("chunk_md5"),
        length(col("text").substr(col("start"), lit(SpanLen))).cast("long").as("chunk_len"))
    val w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_idx")
    chunks
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep"), col("chunk_len")).otherwise(0L)).as("clean_len"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("chunk_idx"), col("chunk_md5"))))),
          s => s.getField("chunk_md5")), "")).as("clean_md5"))
      .orderBy("doc_id")
  }

  val oracleSpanDedup: String =
    s"""WITH ${Dedup.corpusSql},
       |chunks AS (
       |  SELECT doc_id, ((start - 1) // $SpanLen)::INT AS chunk_idx,
       |         md5(substr(text, start::INT, $SpanLen)) AS chunk_md5,
       |         length(substr(text, start::INT, $SpanLen))::BIGINT AS chunk_len
       |  FROM (SELECT doc_id, text,
       |          unnest(range(1, greatest(length(text), 1) + 1, $SpanLen)) AS start
       |        FROM corpus)),
       |flagged AS (
       |  SELECT *, row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) = 1 AS keep
       |  FROM chunks)
       |SELECT doc_id,
       |  count(*) AS n_chunks,
       |  sum(keep::INT)::BIGINT AS n_kept,
       |  coalesce(sum(chunk_len) FILTER (WHERE keep), 0)::BIGINT AS clean_len,
       |  md5(coalesce(string_agg(chunk_md5, '' ORDER BY chunk_idx) FILTER (WHERE keep), '')) AS clean_md5
       |FROM flagged
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- t14: boilerplate (high-document-frequency span) removal -------------

  /** A chunk occurring in at least this many DISTINCT docs is
    * boilerplate. At web scale this is the CCNet/RefinedWeb line-level
    * filter: navigation text, cookie banners and license headers recur
    * across many pages, and — unlike true duplicate content (d19) —
    * must be dropped from EVERY document, first occurrence included.
    */
  val BoilerMinDf = 2

  /** t14 — boilerplate removal: split docs into the same fixed
    * [[SpanLen]]-char chunks as d19, count each distinct chunk's
    * document frequency, and remove every occurrence of chunks whose
    * df ≥ [[BoilerMinDf]]. Complements d19 exactly: span dedup keeps
    * the FIRST copy of duplicated content, boilerplate removal keeps
    * NONE of it.
    *
    * Shuffle budget: one chunk-hash aggregate (the df table) + one
    * equi-join back on the chunk hash (AQE reuses the partitioning —
    * both sides key on chunk_md5) + one doc-keyed reassembly
    * aggregate. No window, no all-pairs, skew bounded by the hottest
    * chunk's true occurrence count.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val starts = sequence(lit(1), greatest(length(col("text")), lit(1)), lit(SpanLen))
    // persisted: the explode+md5 chunk leg feeds TWO subtrees (the df
    // aggregate and the join-back) — uncached it would scan and hash
    // the corpus twice (the d18 lesson)
    val chunks = Dedup.corpus(spark, dir)
      .select(col("doc_id"), col("text"), explode(starts).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / SpanLen).cast("int").as("chunk_idx"),
        md5(col("text").substr(col("start"), lit(SpanLen))).as("chunk_md5"),
        length(col("text").substr(col("start"), lit(SpanLen))).cast("long").as("chunk_len"))
      .persist()
    val df = chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("df"))
    chunks.join(df, Seq("chunk_md5"))
      .withColumn("keep", col("df") < BoilerMinDf)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_boiler"),
        sum(when(col("keep"), col("chunk_len")).otherwise(0L)).as("clean_len"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("chunk_idx"), col("chunk_md5"))))),
          s => s.getField("chunk_md5")), "")).as("clean_md5"))
      .orderBy("doc_id")
  }

  val oracleBoilerplate: String =
    s"""WITH ${Dedup.corpusSql},
       |chunks AS (
       |  SELECT doc_id, ((start - 1) // $SpanLen)::INT AS chunk_idx,
       |         md5(substr(text, start::INT, $SpanLen)) AS chunk_md5,
       |         length(substr(text, start::INT, $SpanLen))::BIGINT AS chunk_len
       |  FROM (SELECT doc_id, text,
       |          unnest(range(1, greatest(length(text), 1) + 1, $SpanLen)) AS start
       |        FROM corpus)),
       |df AS (
       |  SELECT chunk_md5, count(DISTINCT doc_id) AS df
       |  FROM chunks GROUP BY chunk_md5),
       |flagged AS (
       |  SELECT c.*, df < $BoilerMinDf AS keep
       |  FROM chunks c JOIN df USING (chunk_md5))
       |SELECT doc_id,
       |  count(*) AS n_chunks,
       |  sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_boiler,
       |  coalesce(sum(chunk_len) FILTER (WHERE keep), 0)::BIGINT AS clean_len,
       |  md5(coalesce(string_agg(chunk_md5, '' ORDER BY chunk_idx) FILTER (WHERE keep), '')) AS clean_md5
       |FROM flagged
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- d20: temperature-weighted language mixing ---------------------------

  val LangMixSeed = 17

  /** d20 — temperature-weighted language sampling (α = 0.5): keep each
    * doc of language ℓ with probability p_ℓ = min(1, T·w_ℓ / (S·n_ℓ)),
    * where w_ℓ = ⌊√n_ℓ⌋, S = Σ w and T = ⌊N/2⌋ — i.e. sample half the
    * corpus with language shares ∝ √n instead of n, upweighting tail
    * languages exactly as multilingual pretraining mixes do.
    *
    * Determinism: weights are snapped to INTEGERS (⌊√n⌋ — IEEE sqrt is
    * correctly rounded, so the floor is engine-identical), making S an
    * integer sum (order-free, unlike a float sum) and p_ℓ a single
    * division of exact integers — bit-identical in Spark and DuckDB,
    * so the keep/drop boundary never flips between engines. The keep
    * decision u < p uses the portable 56-bit doc hash as u ∈ [0,1).
    *
    * Scale shape: one tiny lang aggregate + its grand total, both
    * broadcast back onto the corpus — the q13 dimension pattern; the
    * corpus itself never shuffles.
    */
  def langMix(spark: SparkSession, dir: String): DataFrame = {
    val langDims = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .withColumn("w", floor(sqrt(col("n_lang"))).cast("long"))
    val totals = langDims.agg(
      sum("w").as("s"),
      (sum("n_lang") / 2).cast("long").as("t"))
    val u = TextHash.phash(col("doc_id").cast("string"), LangMixSeed)
      .cast("double") / lit(72057594037927936.0) // 2^56
    Tables.documents(spark, dir)
      .join(broadcast(langDims), Seq("lang"))
      .crossJoin(broadcast(totals))
      .withColumn("p_keep",
        least(lit(1.0), (col("t") * col("w")).cast("double") / (col("s") * col("n_lang")).cast("double")))
      .filter(u < col("p_keep"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("p_keep"))
      .orderBy("doc_id")
  }

  val oracleLangMix: String = {
    val u = s"CAST(${TextHash.phashSql("doc_id::VARCHAR", LangMixSeed)} AS DOUBLE) / 72057594037927936.0"
    s"""WITH ld AS (
       |  SELECT lang, count(*)::BIGINT AS n_lang,
       |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT sum(w)::BIGINT AS s, (sum(n_lang) // 2)::BIGINT AS t FROM ld)
       |SELECT doc_id, lang, n_lang,
       |  least(1.0::DOUBLE, CAST(t * w AS DOUBLE) / CAST(s * n_lang AS DOUBLE)) AS p_keep
       |FROM documents JOIN ld USING (lang) CROSS JOIN tot
       |WHERE $u < least(1.0::DOUBLE, CAST(t * w AS DOUBLE) / CAST(s * n_lang AS DOUBLE))
       |ORDER BY doc_id""".stripMargin
  }

  // ---- t16: maximal duplicated-span detection --------------------------------

  /** Token k-gram width for t16 — spans shorter than [[SpanK]] words
    * can't be detected, matching the "min duplicated substring length"
    * knob of suffix-array substring dedup.
    */
  val SpanK = 5

  /** Hash seed for t16's k-gram keys (disjoint from d18/d19 seeds). */
  val SpanSeed = 7

  /** t16 — maximal duplicated-span detection: the token-k-gram
    * approximation of exact-substring training-data dedup (the
    * suffix-array method of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — arXiv:2107.06499). A word
    * [[SpanK]]-gram is *duplicated* when it occurs in ≥ 2 distinct
    * docs; per doc, runs of consecutive duplicated k-gram start
    * positions merge (islands-and-gaps) into MAXIMAL spans — the
    * char-precise suffix-array spans, discretized to word granularity.
    * d19 removes one fixed-width chunk per duplicate hash; this
    * reports the full extent of every cross-doc repeat, which is what
    * a span-removal policy actually wants as input.
    *
    * Scale shape: unlike every pair-based dedup leg, this is
    * O(total k-grams) END TO END — no candidate pairs exist at any
    * point. One codegen'd map pass hashes each doc's k-grams
    * (transform over the token array, no UDF), one hash agg counts
    * distinct docs per k-gram (two-level: partial map-side), one
    * equi-join marks duplicated positions, and one per-doc window
    * (spillable sort within doc_id) merges islands. Every stage
    * partitions on a uniform hash key; hot k-grams (boilerplate in
    * every doc) concentrate JOIN fan-out only in proportion to their
    * true occurrence count — the output mass, not a quadratic blowup.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOn(Tables.documents(spark, dir))

  /** t16 core on any `(doc_id, text)` relation. */
  def dupSpansOn(documents: DataFrame): DataFrame = {
    val k = SpanK
    val toks = documents
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .withColumn("nw", size(col("ws")))
      .where(col("nw") >= k)
    val kg = toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), col("nw") - lit(k - 1)),
          i => TextHash.phash(concat_ws(" ", slice(col("ws"), i, lit(k))), SpanSeed))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gh"))
    val dup = kg.groupBy("gh")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select("gh")
    // islands with tolerance k−1: two duplicated k-gram start positions
    // whose word windows overlap or touch belong to one maximal span
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val isl = kg.join(dup, Seq("gh"))
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > lit(k - 1), 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    isl.groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"))
      .transform(sortedOnce(_, "doc_id", "span_start"))
  }

  /** t16b — the ORACLE-CHECKED approximation bound for t16 (the
    * q56/d34 declared-bound pattern): what can the k-gram islands
    * approximation miss versus exact suffix-array substring dedup
    * (Lee et al. arXiv:2107.06499)?
    *
    * The pinned SOUNDNESS claim: at WORD granularity, t16 never misses
    * a duplicated window of ≥ [[SpanK]] words — every k-word window
    * whose EXACT TEXT (string equality, no hashing, so hash collisions
    * cannot fake coverage) occurs in ≥ 2 docs starts inside a reported
    * span. Per doc: `n_dup_windows` (exact duplicated windows),
    * `n_covered` (those inside a span), `all_covered` = 1 iff equal —
    * constant-1 by the guarantee, and the oracle RE-DERIVES it from
    * the raw text, so a miss breaks the hash. `excess_positions` =
    * span-marked positions with no exactly-duplicated window —
    * measures the over-report side (k-gram hash collisions; 0 in
    * practice at 56-bit hashes). The DECLARED residual gap, out of
    * scope at word granularity by design: spans shorter than k words
    * and sub-word/char-level repeats (t16's `SpanK` knob, same
    * min-length knob as the suffix-array method).
    *
    * Scale: the exact-string leg shuffles the k-gram STRINGS (~6×
    * heavier rows than the hashed leg) — it is the verification query
    * you run on a sample or a shard at 100 TB, not per-corpus; every
    * stage is still hash-partitioned with map-side partials, nothing
    * pairwise.
    */
  def spanBound(spark: SparkSession, dir: String): DataFrame =
    spanBoundOn(Tables.documents(spark, dir))

  def spanBoundOn(documents: DataFrame): DataFrame = {
    val k = SpanK
    // spans are consumed twice (coverage probe + position mass) — cut
    // the window+join lineage once
    val spans = dupSpansOn(documents).localCheckpoint()
    val toks = documents
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .withColumn("nw", size(col("ws")))
      .where(col("nw") >= k)
    // EXACT k-word windows as strings — no hashing anywhere on this leg
    val kgs = toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), col("nw") - lit(k - 1)),
          i => concat_ws(" ", slice(col("ws"), i, lit(k))))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("g"))
    val dupw = kgs.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select("g")
    val dwin = kgs.join(dupw, Seq("g")).select("doc_id", "pos")
    // island intervals are disjoint per doc (gaps ≥ k between islands),
    // so a window start falls in ≤ 1 span — the left join cannot fan out
    val covered = dwin.as("d")
      .join(spans.as("s"),
        col("d.doc_id") === col("s.doc_id") &&
          col("d.pos") >= col("s.span_start") &&
          col("d.pos") <= col("s.span_end") - lit(k - 1),
        "left_semi")
    val nd = dwin.groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    val nc = covered.groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    val sp = spans.groupBy("doc_id")
      .agg(sum(col("span_end") - lit(k - 1) - col("span_start") + 1).as("span_positions"))
    sp.join(nd, Seq("doc_id"), "left")
      .join(nc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_dup_windows"), lit(0L)) === coalesce(col("n_covered"), lit(0L)),
          lit(1L)).otherwise(lit(0L)).as("all_covered"),
        col("span_positions"),
        (col("span_positions") - coalesce(col("n_dup_windows"), lit(0L))).as("excess_positions"))
      .orderBy("doc_id")
  }

  val oracleSpanBound: String = {
    val k = SpanK
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |kg AS MATERIALIZED (
       |  SELECT doc_id, i AS pos,
       |         ${TextHash.phashSql(s"array_to_string(ws[i:i+${k - 1}], ' ')", SpanSeed)} AS gh
       |  FROM toks, unnest(range(1, greatest(len(ws) - ${k - 1}, 0) + 1)) AS t(i)),
       |dup AS (SELECT gh FROM kg GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       |brk AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                   > ${k - 1} THEN 1 ELSE 0 END AS b
       |  FROM kg JOIN dup USING (gh)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM brk),
       |spans AS MATERIALIZED (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + ${k - 1} AS span_end
       |  FROM isl GROUP BY doc_id, grp),
       |kgs AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+${k - 1}], ' ') AS g
       |  FROM toks, unnest(range(1, greatest(len(ws) - ${k - 1}, 0) + 1)) AS t(i)),
       |dupw AS (SELECT g FROM kgs GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |dwin AS MATERIALIZED (SELECT doc_id, pos FROM kgs JOIN dupw USING (g)),
       |cov AS (
       |  SELECT d.doc_id, count(*) AS n_dup_windows,
       |         count(s.doc_id) AS n_covered
       |  FROM dwin d LEFT JOIN spans s
       |    ON s.doc_id = d.doc_id
       |   AND d.pos >= s.span_start AND d.pos <= s.span_end - ${k - 1}
       |  GROUP BY 1),
       |spos AS (
       |  SELECT doc_id,
       |         sum(span_end - ${k - 1} - span_start + 1)::BIGINT AS span_positions
       |  FROM spans GROUP BY 1)
       |SELECT p.doc_id,
       |       COALESCE(c.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       |       COALESCE(c.n_covered, 0)::BIGINT AS n_covered,
       |       (CASE WHEN COALESCE(c.n_dup_windows, 0) = COALESCE(c.n_covered, 0)
       |             THEN 1 ELSE 0 END)::BIGINT AS all_covered,
       |       p.span_positions,
       |       p.span_positions - COALESCE(c.n_dup_windows, 0) AS excess_positions
       |FROM spos p LEFT JOIN cov c ON c.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** Min duplicated-substring length for t17 (chars) — the L = 50 knob
    * of Lee et al.'s ExactSubstr, scaled to the fixture's ~500-char
    * docs.
    */
  val ExactSpanL = 30

  /** t17 — EXACT substring dedup at character granularity: the output
    * of suffix-array substring dedup (Lee et al. arXiv:2107.06499,
    * ExactSubstr with min length L = [[ExactSpanL]]), computed by a
    * different, Spark-native algorithm. The identity that makes this
    * EXACT, not an approximation: a position is covered by a
    * cross-doc duplicated substring of length ≥ L iff it lies inside a
    * duplicated L-char WINDOW (every length-≥L duplicate is the union
    * of its own L-windows, each itself duplicated) — so the removal
    * set equals the union of duplicated L-windows, and merging window
    * starts with tolerance L−1 yields precisely the maximal covered
    * char intervals a suffix array would report. Windows compare by
    * FULL STRING EQUALITY (no hashing anywhere), so there is no
    * collision error term: this is the audit-grade exact leg t16
    * approximates at word granularity, and t16b's bound now has an
    * in-engine exact reference.
    *
    * Scale: each position materializes its L-char window → the join
    * mass is L× the corpus bytes (the trade suffix arrays exist to
    * avoid). Every stage is still a hash-partitioned agg/join with
    * map-side partials — no pairwise stage — so it runs at any scale
    * that affords the L× shuffle; the production variants are (a) the
    * hashed t16 shape (56-bit collisions ≈ 3·10⁻¹⁸/pair) when the
    * error term is acceptable, or (b) this exact leg over a sample or
    * per-shard for audits. Both are deliberate points on the same
    * cost/exactness curve, now all three gated.
    */
  def exactCharSpans(spark: SparkSession, dir: String): DataFrame =
    exactCharSpansOn(Tables.documents(spark, dir), ExactSpanL)

  /** t17 core on any `(doc_id, text)` relation with min span length `l`.
    *
    * Single-phase by measurement: a hash-prefilter variant (find
    * duplicated 64-bit window hashes first, move strings only for
    * survivors, exact-confirm by string equality — lossless, since
    * equal strings always share a hash) was built and benched at
    * 8.7-11.0 s vs 7.5 s for this shape at sf0.1 — the fixture's cost
    * is the window EXPLODE itself, not the string shuffle, so the
    * second pass never repays. On a corpus whose duplicated fraction
    * is small and whose string shuffle dominates, that two-phase
    * variant is the production shape; at fixture scale the simple
    * plan wins and is what the oracle replays. The variant's round-11
    * re-pricing (a wash at sf0.1, 1.7× slower at 100×) is in
    * bench/OPTIMIZATION_r11.md.
    */
  def exactCharSpansOn(documents: DataFrame, l: Int): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .where(col("len") >= l)
    // persisted: the L-char window explode — the query's dominant cost
    // (O(len·L) char copies per doc) — feeds BOTH the dup-window
    // aggregate and the coverage join, and re-executes per consumer
    // uncached (measured 7.9 → 5.0 s at sf0.1; the d18 explode lesson)
    val win = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), col("len") - lit(l - 1)),
          i => col("text").substr(i, lit(l)))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("g"))
      .persist()
    // "appears in ≥ 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id):
    // same predicate as count_distinct(doc_id) >= 2 without the
    // two-level distinct expansion (measured 7.1 → 5.6 s at sf0.1)
    val dup = win.groupBy("g")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx"))
      .select("g")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val isl = win.join(dup, Seq("g"))
      .select("doc_id", "pos")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > lit(l - 1), 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    val spans = isl.groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(l - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_chars"))
      // eager checkpoint of the output-sized result BEFORE the
      // presentation sort: Exchange rangepartitioning samples its
      // child, which would otherwise run the whole explode+join chain
      // a second time (the d37 lesson)
      .localCheckpoint()
    win.unpersist()
    spans.orderBy("doc_id", "span_start")
  }

  val oracleExactCharSpans: String = {
    val l = ExactSpanL
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS len FROM documents
       |  WHERE length(text) >= $l),
       |win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, substr(text, i::INT, $l) AS g
       |  FROM d, unnest(range(1, len - ${l - 1} + 1)) AS t(i)),
       |dup AS (SELECT g FROM win GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |brk AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                   > ${l - 1} THEN 1 ELSE 0 END AS b
       |  FROM win JOIN dup USING (g)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM brk)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + ${l - 1} AS span_end,
       |       max(pos) + ${l - 1} - min(pos) + 1 AS span_chars
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  val oracleDupSpans: String = {
    val k = SpanK
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |kg AS (
       |  SELECT doc_id, i AS pos,
       |         ${TextHash.phashSql(s"array_to_string(ws[i:i+${k - 1}], ' ')", SpanSeed)} AS gh
       |  FROM toks, unnest(range(1, greatest(len(ws) - ${k - 1}, 0) + 1)) AS t(i)),
       |dup AS (SELECT gh FROM kg GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       |brk AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                   > ${k - 1} THEN 1 ELSE 0 END AS b
       |  FROM kg JOIN dup USING (gh)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM brk)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + ${k - 1} AS span_end,
       |       max(pos) + ${k - 1} - min(pos) + 1 AS span_words
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }
}
