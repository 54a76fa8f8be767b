package graft.llm

import graft.ops.CoreOps.sortedOnce
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text preparation operators a production training-data pipeline runs
  * between raw crawl and tokenizer: PII redaction, document chunking,
  * sequence packing and stratified eval sampling.
  *
  * Scale shape: t07/t08 are pure map-side projections (regex/substring
  * arithmetic fused into the scan — zero shuffle); t09 and d15 are one
  * keyed window shuffle each (per-source / per-language), never a
  * global sort. Every output column is integer/string-deterministic so
  * the DuckDB oracles hash-match bit-for-bit.
  */
object TextPrep {

  // ---- t07: PII scrub -------------------------------------------------------

  /** The fixture text contains no PII, so the operator runs over a
    * deterministically PII-seeded corpus: every 3rd doc gains an email,
    * every 5th a phone number (both synthesized from doc_id — same
    * construction in the oracle). This mirrors [[Dedup.corpus]]'s
    * approach of synthesizing positives the fixture lacks.
    */
  private def piiSeeded(text: Column, docId: Column): Column =
    concat(text,
      when(docId % 3 === 0,
        concat(lit(" contact user"), docId, lit("@example.com"))).otherwise(lit("")),
      when(docId % 5 === 0,
        concat(lit(" call +33-555-"), docId, lit(" now"))).otherwise(lit("")))

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,12}"

  /** t07 — PII scrubbing: redact emails/phones to typed placeholders,
    * count what was redacted, and emit the md5 of the scrubbed text
    * (proves byte-exact redaction without shipping the text). Pure
    * map-side regex — the patterns are RE2-safe so Spark (Java regex)
    * and DuckDB (RE2) agree.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val seeded = piiSeeded(col("text"), col("doc_id"))
    val scrubbed = regexp_replace(
      regexp_replace(seeded, lit(EmailRe), lit("<EMAIL>")),
      lit(PhoneRe), lit("<PHONE>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(call_function("regexp_extract_all", seeded, lit(EmailRe), lit(0))).as("n_emails"),
        size(call_function("regexp_extract_all", seeded, lit(PhoneRe), lit(0))).as("n_phones"),
        length(scrubbed).as("scrubbed_len"),
        md5(scrubbed).as("scrubbed_md5"))
      .transform(sortedOnce(_, "doc_id"))
  }

  private val piiSeededSql: String =
    "text || " +
      "(CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' call +33-555-' || doc_id || ' now' ELSE '' END)"

  val oraclePiiScrub: String = {
    val scrubbed =
      s"regexp_replace(regexp_replace($piiSeededSql, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')"
    s"""SELECT doc_id,
       |  len(regexp_extract_all($piiSeededSql, '$EmailRe'))::INT AS n_emails,
       |  len(regexp_extract_all($piiSeededSql, '$PhoneRe'))::INT AS n_phones,
       |  length($scrubbed)::INT AS scrubbed_len,
       |  md5($scrubbed) AS scrubbed_md5
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---- t08: chunking --------------------------------------------------------

  val ChunkLen = 500
  val ChunkStride = 400 // 100-char overlap between consecutive chunks

  /** t08 — document chunking: fixed [[ChunkLen]]-char windows every
    * [[ChunkStride]] chars (100-char overlap), the context-window
    * preparation step before tokenization. One `explode(sequence(...))`
    * per doc — map-side, no shuffle; the chunk index is arithmetic on
    * the start offset (no ordinality needed, so the oracle needs no
    * WITH ORDINALITY either).
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val starts = sequence(lit(1), greatest(length(col("text")), lit(1)), lit(ChunkStride))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), explode(starts).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / ChunkStride).cast("int").as("chunk_idx"),
        col("start"),
        length(col("text").substr(col("start"), lit(ChunkLen))).as("chunk_len"),
        md5(col("text").substr(col("start"), lit(ChunkLen))).as("chunk_md5"))
      .transform(sortedOnce(_, "doc_id", "chunk_idx"))
  }

  val oracleChunk: String =
    s"""SELECT doc_id,
       |  ((start - 1) // $ChunkStride)::INT AS chunk_idx,
       |  start,
       |  length(substr(text, start::INT, $ChunkLen))::INT AS chunk_len,
       |  md5(substr(text, start::INT, $ChunkLen)) AS chunk_md5
       |FROM (SELECT doc_id, text,
       |        unnest(range(1, greatest(length(text), 1) + 1, $ChunkStride)) AS start
       |      FROM documents)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- t09: sequence packing ------------------------------------------------

  val PackCapacity = 2048L

  /** t09 — sequence packing: assign docs to fixed-capacity training
    * packs with the concat-then-cut model (running token total per
    * source, pack = cumulative div capacity) — how pipelines batch
    * variable-length docs into context windows. Partitioned by
    * `source`, so packing is embarrassingly parallel: one window
    * shuffle on the source key, no global order.
    */
  /** FLOOR division of `cum - 1` by [[PackCapacity]], exact in integer
    * space: double `/` + cast(long) truncates toward zero and diverges
    * from the oracle's `//` when `cum = 0` (a zero-token doc at the
    * head of a source must land in pack −1 like the oracle, not 0).
    * `pmod` is non-negative, so subtracting it always floors.
    */
  private[graft] def packIdCol(cum: Column): Column = {
    val cm1 = cum - lit(1L)
    call_function("div", cm1 - pmod(cm1, lit(PackCapacity)), lit(PackCapacity))
  }

  def pack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        ((col("n_chars") + 3) / 4).cast("long").as("est_tokens"))
      .withColumn("cum_tokens", sum("est_tokens").over(w))
      .withColumn("pack_id", packIdCol(col("cum_tokens")))
      .orderBy("doc_id")
  }

  val oraclePack: String =
    s"""SELECT doc_id, source,
       |  CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens,
       |  CAST(sum((n_chars + 3) // 4) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       |  CAST((sum((n_chars + 3) // 4) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // $PackCapacity AS BIGINT) AS pack_id
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---- d15: stratified sampling ---------------------------------------------

  val SampleSeed = 11
  val SamplePct = 20 // percent of each language stratum

  /** d15 — stratified eval sampling: exactly ⌈20%⌉ of every language
    * stratum, chosen by portable hash rank (reproducible, partition-
    * order-independent — the property `randomSplit` can't give at
    * scale). Two same-key windows → ONE shuffle on lang; the rank
    * order is (hash, doc_id) so ties are impossible.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = TextHash.phash(col("doc_id").cast("string"), SampleSeed)
    val rank = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    val stratum = Window.partitionBy("lang")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rn", row_number().over(rank).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(stratum))
      .filter(col("rn") <= ceil(col("n_lang") * SamplePct / 100.0))
      .select(col("doc_id"), col("lang"), col("rn"), col("n_lang"))
      .orderBy("doc_id")
  }

  val oracleStratifiedSample: String = {
    val h = TextHash.phashSql("doc_id::VARCHAR", SampleSeed)
    s"""SELECT doc_id, lang, rn, n_lang
       |FROM (SELECT doc_id, lang,
       |        CAST(row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS BIGINT) AS rn,
       |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
       |      FROM documents)
       |WHERE rn <= ceil(n_lang * $SamplePct / 100.0)
       |ORDER BY doc_id""".stripMargin
  }

  /** The t26 term blocklist — the LDNOOBW-style dictionary-scrub
    * stage every crawl pipeline runs (here over the fixture's shared
    * vocabulary so hits actually occur). Sorted so hit reporting has a
    * canonical order.
    */
  val Blocklist: Seq[String] = Seq("slow", "spark", "vector").sorted

  /** Per-mille hit threshold above which a doc is dropped. */
  val BlocklistMaxPm = 100L

  /** t26 — dictionary blocklist scrub: per doc, the blocklist hit
    * count, the distinct terms that hit (canonical comma-joined
    * order), the hit rate in integer per-mille, and the keep/drop
    * decision. Unlike t07 (regex PII rewrite) this is the
    * dictionary-membership filter stage.
    *
    * Plan shape: pure map-side — tokens are filtered against a
    * literal set inside one codegen projection; no shuffle but the
    * presentation sort. At 100 TB the dictionary broadcasts as part of
    * the plan (a literal), never as data.
    */
  def blocklistScrub(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val hits = filter(toks, t => Blocklist.map(b => t === b).reduce(_ || _))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(hits).as("n_hits"),
        array_join(array_sort(array_distinct(hits)), ",").as("hit_terms"))
      .withColumn("hits_pm",
        when(col("n_tokens") > 0, expr("CAST(n_hits AS BIGINT) * 1000 div n_tokens"))
          .otherwise(0L))
      .withColumn("keep", col("hits_pm") < BlocklistMaxPm)
      .transform(sortedOnce(_, "doc_id"))
  }

  lazy val oracleBlocklistScrub: String = {
    val toksSql = graft.llm.TextStats.toksSql
    val inList = Blocklist.map(b => s"'$b'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |         len($toksSql)::INT AS n_tokens,
       |         list_filter($toksSql, t -> t IN ($inList)) AS hits
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens, len(hits)::INT AS n_hits,
       |         coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '') AS hit_terms
       |  FROM f)
       |SELECT doc_id, n_tokens, n_hits, hit_terms,
       |       (CASE WHEN n_tokens > 0 THEN n_hits::BIGINT * 1000 // n_tokens ELSE 0 END)::BIGINT AS hits_pm,
       |       (CASE WHEN n_tokens > 0 THEN n_hits::BIGINT * 1000 // n_tokens ELSE 0 END) < $BlocklistMaxPm AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- t30: encoding-anomaly (mojibake) detection ----------------------------

  /** U+FFFD REPLACEMENT CHARACTER — what a lossy decode leaves behind. */
  private val Repl = "�"

  /** "Ã©" — the classic UTF-8-read-as-Latin-1 mojibake digraph for é. */
  private val Moji = "Ã©"

  /** The fixture corpus is clean ASCII, so (the t07 pattern) the
    * operator runs over a deterministically CORRUPTED twin: a doc is
    * corrupted iff the first md5 byte of `"<doc_id>:moji"` < 64 (¼ of
    * docs — the m14 silence rule), at a hash-derived position, with a
    * hash-derived 1-3 replacement chars plus one mojibake digraph. The
    * oracle replays the corruption from md5 hex substrings in SQL.
    */
  private def mojiSeeded(text: Column, docId: Column): Column = {
    val h = md5(concat(docId.cast("string"), lit(":moji")))
    val b0 = conv(substring(h, 1, 2), 16, 10).cast("int")
    val pos = (conv(substring(h, 3, 2), 16, 10).cast("int") % length(text)) + 1
    val k = (conv(substring(h, 5, 2), 16, 10).cast("int") % 3) + 1
    val marker = concat(lit(Repl * 3).substr(lit(1), k), lit(Moji))
    when(b0 < 64,
      concat(text.substr(lit(1), pos), marker,
        text.substr(pos + 1, length(text))))
      .otherwise(text)
  }

  /** t30 — encoding-anomaly detection (a CCNet/RefinedWeb-style
    * ingest QA gate): per document, how many U+FFFD replacement chars
    * and UTF-8-as-Latin-1 digraphs the text carries, and whether the
    * doc would be quarantined. Counts are substring-occurrence counts
    * via the length-delta trick (no regex, so the two engines cannot
    * disagree on Unicode character classes).
    *
    * Scale shape: pure map-side projection fused into the scan — the
    * detection side touches each doc once and shuffles nothing but the
    * presentation sort.
    */
  def mojibakeScan(spark: SparkSession, dir: String): DataFrame = {
    val ct = mojiSeeded(col("text"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), ct.as("ct"))
      .select(col("doc_id"), col("source"),
        (length(col("ct")) - length(replace(col("ct"), lit(Repl))))
          .cast("long").as("n_repl"),
        ((length(col("ct")) - length(replace(col("ct"), lit(Moji)))) / 2)
          .cast("long").as("n_moji"))
      .withColumn("flagged", col("n_repl") > 0 || col("n_moji") > 0)
      .transform(sortedOnce(_, "doc_id"))
  }

  val oracleMojibakeScan: String =
    """WITH h AS (
      |  SELECT doc_id, source, text, md5(doc_id || ':moji') AS hh
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source, text,
      |         ('0x' || substr(hh, 1, 2))::INT AS b0,
      |         (('0x' || substr(hh, 3, 2))::INT % len(text)) + 1 AS pos,
      |         (('0x' || substr(hh, 5, 2))::INT % 3) + 1 AS k
      |  FROM h),
      |f AS (
      |  SELECT doc_id, source,
      |         CASE WHEN b0 < 64
      |              THEN substr(text, 1, pos) || repeat(chr(65533), k)
      |                   || chr(195) || chr(169) || substr(text, pos + 1)
      |              ELSE text END AS ct
      |  FROM p)
      |SELECT doc_id, source,
      |  (len(ct) - len(replace(ct, chr(65533), '')))::BIGINT AS n_repl,
      |  ((len(ct) - len(replace(ct, chr(195) || chr(169), ''))) // 2)::BIGINT AS n_moji,
      |  (len(ct) - len(replace(ct, chr(65533), ''))) > 0
      |    OR (len(ct) - len(replace(ct, chr(195) || chr(169), ''))) > 0 AS flagged
      |FROM f ORDER BY doc_id""".stripMargin
}
