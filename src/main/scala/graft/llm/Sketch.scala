package graft.llm

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d22 — count-min sketch word-frequency estimation.
  *
  * The fixed-memory answer to "how often does each term occur in a
  * 100 TB corpus": a depth×width grid of counters where every word
  * adds its count to one bucket per row (bucket = portable hash of the
  * word, seeded per row). Estimates read back `min` over the word's
  * depth cells — always an OVERcount (collisions only add), with error
  * ≤ ε·N at probability 1−δ for width=e/ε, depth=ln(1/δ).
  *
  * Unlike HLL (d16, engine-specific bits → rows-only check), a CMS is
  * exactly reproducible from its hash spec, so this sketch op gets a
  * full DuckDB hash-match: both engines build the identical grid from
  * [[graft.llm.TextHash.phash]] and read back identical estimates.
  *
  * Scale shape: word counts are one explode + hash aggregate (the
  * relation t05 already materializes); the grid is a [[Depth]]-way
  * fan-out of the DISTINCT-word relation aggregated to Depth×[[Width]]
  * rows — constant memory, mergeable partials, broadcastable
  * everywhere. The probe side joins top-k words to grid cells on
  * (d, bucket) — a broadcast hash join against the tiny grid.
  */
object Sketch {

  val Depth = 4
  val Width = 512
  val TopK = 20

  /** (d, bucket) struct per depth row for a word column (shared with
    * s19's streaming grid fold).
    */
  private[graft] def cellKeys(word: Column): Column =
    array((0 until Depth).map { d =>
      struct(lit(d).as("d"), pmod(TextHash.phash(word, 100 + d), lit(Width)).as("b"))
    }: _*)

  def countMinTopK(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(explode(TextStats.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("exact_count"))
      .persist() // feeds the grid AND the probe set
    val cells = wc
      .select(explode(cellKeys(col("word"))).as("db"), col("exact_count"))
      .groupBy(col("db.d").as("d"), col("db.b").as("b"))
      .agg(sum("exact_count").as("cell"))
    val top = wc.orderBy(col("exact_count").desc, col("word")).limit(TopK)
    top
      .select(col("word"), col("exact_count"), explode(cellKeys(col("word"))).as("db"))
      .select(col("word"), col("exact_count"), col("db.d").as("d"), col("db.b").as("b"))
      .join(broadcast(cells), Seq("d", "b"))
      .groupBy("word", "exact_count")
      .agg(min("cell").as("cms_estimate"))
      .withColumn("overcount", col("cms_estimate") - col("exact_count"))
      .orderBy(col("exact_count").desc, col("word"))
  }

  /** DuckDB twin: same grid from the same hashes, probe via UNION ALL
    * over the [[Depth]] seeds.
    */
  val oracleCountMinTopK: String = {
    def bucketSql(d: Int) = s"(${TextHash.phashSql("word", 100 + d)} % $Width)"
    val gridLegs = (0 until Depth).map { d =>
      s"SELECT $d AS d, ${bucketSql(d)} AS b, exact_count FROM wc"
    }.mkString("\n  UNION ALL ")
    val probeLegs = (0 until Depth).map { d =>
      s"SELECT word, exact_count, $d AS d, ${bucketSql(d)} AS b FROM top"
    }.mkString("\n  UNION ALL ")
    s"""WITH wc AS (
       |  SELECT word, count(*) AS exact_count
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |grid AS (
       |  SELECT d, b, sum(exact_count)::BIGINT AS cell FROM (
       |  $gridLegs)
       |  GROUP BY d, b),
       |top AS (
       |  SELECT word, exact_count FROM wc
       |  ORDER BY exact_count DESC, word LIMIT $TopK),
       |probe AS (
       |  $probeLegs)
       |SELECT word, exact_count, min(cell)::BIGINT AS cms_estimate,
       |       (min(cell) - exact_count)::BIGINT AS overcount
       |FROM probe JOIN grid USING (d, b)
       |GROUP BY word, exact_count
       |ORDER BY exact_count DESC, word""".stripMargin
  }

  // ---- d42: corpus-pair overlap estimation via KMV sketches ---------------

  /** KMV sketch size: abs error of the Jaccard estimate concentrates
    * at ~1/√k ≈ 6.3 %; the emitted bound check allows 0.2 (> 3σ).
    */
  val KmvK = 256

  /** d42 — source-pair content-overlap estimation from k-minimum-values
    * sketches (Beyer et al. SIGMOD'07; the Theta-sketch set
    * intersection shape): per SOURCE, keep the [[KmvK]] smallest
    * shingle hashes; for a pair, the Jaccard estimate is the fraction
    * of the union's k smallest values present in both sketches. The
    * dataset-level planning question ("which corpora overlap enough
    * that cross-corpus dedup is worth running?") answered from
    * constant-size per-corpus state instead of a corpus×corpus
    * shingle join.
    *
    * Everything is deterministic integer/set arithmetic over the
    * portable hash — unlike HLL (d16) the estimate itself crosses
    * engines, so this sketch is FULLY oracle-checked (the d22
    * precedent), and the exact Jaccard is emitted alongside with a
    * ≤ 0.2 bound boolean (the declared-bound pattern, here checked on
    * top of an already-hash-matched estimate).
    *
    * Scale shape: one distinct (source, h) pass; per-source k-min via
    * a ranked window (partial WindowGroupLimit prunes per-partition —
    * no source's full shingle set ever sorts globally); everything
    * pairwise happens on O(sources · k) sketch rows — broadcastable
    * at any corpus size. The exact-Jaccard audit columns are the only
    * corpus-sized pairwise leg and exist for the oracle; production
    * ships the estimate alone.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(spark, dir)
      .select(col("source"), explode(TextHash.hashedShingles(col("text"), 0)).as("h"))
      .distinct()
      .persist()
    val wk = Window.partitionBy("source").orderBy("h")
    val sk = sh.withColumn("rn", row_number().over(wk)).filter(col("rn") <= KmvK)
      .select("source", "h")
    val srcs = sh.select("source").distinct()
    val pairs = srcs.toDF("sa").crossJoin(srcs.toDF("sb")).filter(col("sa") < col("sb"))
    val pairSrc = pairs.select(col("sa"), col("sb"), col("sa").as("source"))
      .unionByName(pairs.select(col("sa"), col("sb"), col("sb").as("source")))
    // union sketch per pair: k smallest distinct values across both
    // sketches; estimate = fraction of them present in BOTH sources
    val uni = sk.join(pairSrc, Seq("source"))
      .groupBy("sa", "sb", "h").agg(count(lit(1)).as("n_src"))
    val wu = Window.partitionBy("sa", "sb").orderBy("h")
    val est = uni.withColumn("rn", row_number().over(wu)).filter(col("rn") <= KmvK)
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("k_eff"),
           sum(when(col("n_src") === 2, 1L).otherwise(0L)).as("n_both"))
      .withColumn("est_x1000", expr("n_both * 1000 div k_eff"))
    // exact audit leg (the oracle re-derives it): intersection via an
    // h-keyed self-join — only SHARED shingles pay the pairwise step
    // (shingles are mostly doc-unique, cf. t13), union by inclusion-
    // exclusion from per-source counts. Never fans the full shingle
    // relation into per-pair copies.
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("sa", "h").join(sh.toDF("sb", "h2"),
        col("h") === col("h2") && col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    val ex = pairs.join(inter, Seq("sa", "sb"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(counts.toDF("sa", "na"), Seq("sa"))
      .join(counts.toDF("sb", "nb"), Seq("sb"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .withColumn("exact_x1000", expr("n_inter * 1000 div n_union"))
      .select("sa", "sb", "n_inter", "n_union", "exact_x1000")
    est.join(ex, Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("k_eff"), col("n_both"), col("est_x1000"),
        col("n_inter"), col("n_union"), col("exact_x1000"),
        (abs(col("est_x1000") - col("exact_x1000")) <= 200).as("bound_ok"))
      .orderBy("sa", "sb")
  }

  val oracleKmvOverlap: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${TextHash.hashedShinglesSql("text", 0)}) AS h
       |  FROM documents),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM sh) WHERE rn <= $KmvK),
       |srcs AS (SELECT DISTINCT source FROM sh),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |pairsrc AS (
       |  SELECT sa, sb, sa AS source FROM pairs
       |  UNION ALL
       |  SELECT sa, sb, sb AS source FROM pairs),
       |uni AS (
       |  SELECT sa, sb, h, count(*) AS n_src
       |  FROM sk JOIN pairsrc USING (source)
       |  GROUP BY 1, 2, 3),
       |est AS (
       |  SELECT sa, sb, count(*) AS k_eff,
       |         sum(CASE WHEN n_src = 2 THEN 1 ELSE 0 END)::BIGINT AS n_both
       |  FROM (
       |    SELECT sa, sb, h, n_src,
       |           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |    FROM uni) WHERE rn <= $KmvK
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT sa, sb, count(*) AS n_union,
       |         sum(CASE WHEN n_src = 2 THEN 1 ELSE 0 END)::BIGINT AS n_inter
       |  FROM (
       |    SELECT sa, sb, h, count(*) AS n_src
       |    FROM sh JOIN pairsrc USING (source)
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2)
       |SELECT sa, sb, k_eff, n_both, (n_both * 1000) // k_eff AS est_x1000,
       |       n_inter, n_union, (n_inter * 1000) // n_union AS exact_x1000,
       |       abs((n_both * 1000) // k_eff - (n_inter * 1000) // n_union) <= 200 AS bound_ok
       |FROM est JOIN ex USING (sa, sb)
       |ORDER BY sa, sb""".stripMargin

  // -- d72/d73: mergeable quantile sketch (bottom-k uniform sample) ------------

  /** Sample size of the quantile sketch. Rank error sd of a k-uniform
    * sample is √(q(1−q)/k) ≈ 4.4 % of n at the median for k = 128; the
    * emitted 25 % relative-value bound sits several sigmas out on any
    * reasonably dense value distribution.
    */
  val QsK = 128
  private val QsSeed = 72

  /** Target quantiles, in per-mille. */
  val QsQuantiles: Seq[Long] = Seq(100L, 250L, 500L, 750L, 900L)

  /** d72 — mergeable quantile sketch over document lengths: the
    * bottom-k-by-portable-hash uniform sample (the KMV selection rule
    * applied to ROWS instead of distinct values — Vitter's reservoir
    * made deterministic and mergeable). Per SOURCE, keep the [[QsK]]
    * docs with smallest `phash(doc_id)` (the constant-size mergeable
    * partial every executor/segment would ship at 100 TB); MERGE by
    * taking the k smallest of the union of partials — identically the
    * corpus bottom-k, which is the property that makes the sketch
    * mergeable (KLL/t-digest's role, with the portable hash replacing
    * their RNG so the sketch is a deterministic function of the data
    * and the DuckDB oracle replays build, merge and query
    * bit-for-bit, the d16/d42 discipline). Quantile q reads the
    * ⌊(k_eff−1)·q⌋+1-th order statistic of the sample; the exact
    * audit leg reads the same order statistic of the corpus via a
    * distinct-value histogram + running sum (the d44 prefix-sum
    * discipline — no corpus-wide sort; the value domain, not the
    * corpus, bounds the ranked relation).
    *
    * Scale shape: one scan → per-source ranked window
    * (WindowGroupLimit prunes to k per partition before the shuffle);
    * the merge ranks O(sources·k) rows; the exact leg is one hash
    * aggregate on n_chars plus a window over its distinct values.
    * Emitted columns are BIGINT/BOOLEAN only (the d16b type rule).
    */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        TextHash.phash(col("doc_id").cast("string"), QsSeed).as("h"))
      .persist() // feeds the sketch AND the exact histogram
    val ws = Window.partitionBy("source").orderBy("h", "doc_id")
    val partials = docs.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= QsK)
    // merge of the per-source partials == corpus bottom-k; the global
    // window ranks only O(sources·k) pre-pruned rows
    val wm = Window.orderBy("h", "doc_id")
    val sample = partials.withColumn("mrn", row_number().over(wm))
      .filter(col("mrn") <= QsK)
      .select("n_chars")
    val wv = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sCum = sample.groupBy("n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wv))
    val sTot = sample.agg(count(lit(1)).as("k_eff"))
    val fCum = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wv))
    val fTot = docs.agg(count(lit(1)).as("n"))
    val qs = QsQuantiles.toDF("q_pm")
    val est = qs.crossJoin(broadcast(sTot))
      .withColumn("r", expr("(k_eff - 1) * q_pm DIV 1000 + 1"))
      .join(broadcast(sCum), col("cum") >= col("r"))
      .groupBy("q_pm", "k_eff").agg(min("n_chars").as("est_chars"))
    val exact = qs.crossJoin(broadcast(fTot))
      .withColumn("r", expr("(n - 1) * q_pm DIV 1000 + 1"))
      .join(broadcast(fCum), col("cum") >= col("r"))
      .groupBy("q_pm", "n").agg(min("n_chars").as("exact_chars"))
    val out = est.join(exact, Seq("q_pm"))
      .withColumn("abs_err", abs(col("est_chars") - col("exact_chars")))
      .withColumn("rel_err_pm",
        when(col("exact_chars") > 0, expr("abs_err * 1000 DIV exact_chars"))
          .otherwise(lit(0L)))
      .select(col("q_pm"), col("k_eff"), col("n"), col("est_chars"),
        col("exact_chars"), col("abs_err"), col("rel_err_pm"),
        (col("rel_err_pm") <= 250).as("within_bound"))
      .orderBy("q_pm")
      // eager: the report is |QsQuantiles| rows; checkpointing it lets
      // the corpus-wide docs cache be released NOW (the Dedup
      // edges.unpersist discipline) instead of accumulating storage
      // blocks across a 229-query run
      .localCheckpoint()
    docs.unpersist()
    out
  }

  lazy val oracleQuantileSketch: String = {
    val qList = QsQuantiles.mkString(", ")
    s"""WITH d AS (
       |  SELECT source, doc_id, n_chars,
       |         ${TextHash.phashSql("doc_id::VARCHAR", QsSeed)} AS h
       |  FROM documents),
       |partials AS (
       |  SELECT * FROM (
       |    SELECT source, doc_id, n_chars, h,
       |           row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |    FROM d) WHERE rn <= $QsK),
       |sample AS (
       |  SELECT n_chars FROM (
       |    SELECT n_chars, row_number() OVER (ORDER BY h, doc_id) AS mrn
       |    FROM partials) WHERE mrn <= $QsK),
       |scum AS (
       |  SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS cum
       |  FROM (SELECT n_chars, count(*) AS c FROM sample GROUP BY 1)),
       |stot AS (SELECT count(*)::BIGINT AS k_eff FROM sample),
       |fcum AS (
       |  SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS cum
       |  FROM (SELECT n_chars, count(*) AS c FROM d GROUP BY 1)),
       |ftot AS (SELECT count(*)::BIGINT AS n FROM d),
       |q AS (SELECT unnest([$qList])::BIGINT AS q_pm),
       |est AS (
       |  SELECT q_pm, k_eff, min(n_chars) AS est_chars
       |  FROM q, stot, scum
       |  WHERE cum >= (k_eff - 1) * q_pm // 1000 + 1
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT q_pm, n, min(n_chars) AS exact_chars
       |  FROM q, ftot, fcum
       |  WHERE cum >= (n - 1) * q_pm // 1000 + 1
       |  GROUP BY 1, 2)
       |SELECT q_pm, k_eff, n, est_chars, exact_chars,
       |       abs(est_chars - exact_chars) AS abs_err,
       |       (CASE WHEN exact_chars > 0
       |             THEN abs(est_chars - exact_chars) * 1000 // exact_chars
       |             ELSE 0 END)::BIGINT AS rel_err_pm,
       |       (CASE WHEN exact_chars > 0
       |             THEN abs(est_chars - exact_chars) * 1000 // exact_chars
       |             ELSE 0 END) <= 250 AS within_bound
       |FROM est JOIN ex USING (q_pm)
       |ORDER BY q_pm""".stripMargin
  }

  /** d73 — per-source quantile report from the SAME per-source
    * partials d72 merges: the grouped face of the sketch (per-domain
    * length distribution across a 100 TB corpus without per-group
    * sorts — each group's state is ≤ [[QsK]] rows). Sources whose doc
    * count is below k have an unfilled sketch and the estimate is
    * exact by construction (k_eff = n_s); filled sketches exercise
    * the sampled branch (sf0.1's 250-doc sources). Same order-
    * statistic definition, same prefix-sum exact leg, per source.
    */
  def quantileBySource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        TextHash.phash(col("doc_id").cast("string"), QsSeed).as("h"))
      .persist()
    val ws = Window.partitionBy("source").orderBy("h", "doc_id")
    val sample = docs.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= QsK)
      .select("source", "n_chars")
    val wv = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sCum = sample.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wv))
    val sTot = sample.groupBy("source").agg(count(lit(1)).as("k_eff"))
    val fCum = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wv))
    val fTot = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val qs = QsQuantiles.toDF("q_pm")
    val est = sTot.crossJoin(broadcast(qs))
      .withColumn("r", expr("(k_eff - 1) * q_pm DIV 1000 + 1"))
      .join(sCum, Seq("source"))
      .filter(col("cum") >= col("r"))
      .groupBy("source", "q_pm", "k_eff").agg(min("n_chars").as("est_chars"))
    val exact = fTot.crossJoin(broadcast(qs))
      .withColumn("r", expr("(n - 1) * q_pm DIV 1000 + 1"))
      .join(fCum, Seq("source"))
      .filter(col("cum") >= col("r"))
      .groupBy("source", "q_pm", "n").agg(min("n_chars").as("exact_chars"))
    val out = est.join(exact, Seq("source", "q_pm"))
      .select(col("source"), col("q_pm"), col("k_eff"), col("n"),
        col("est_chars"), col("exact_chars"),
        (col("k_eff") === col("n")).as("unfilled_exact"))
      .withColumn("match_when_unfilled",
        !col("unfilled_exact") || (col("est_chars") === col("exact_chars")))
      .orderBy("source", "q_pm")
      .localCheckpoint() // |sources|·|QsQuantiles| rows; frees docs now
    docs.unpersist()
    out
  }

  lazy val oracleQuantileBySource: String = {
    val qList = QsQuantiles.mkString(", ")
    s"""WITH d AS (
       |  SELECT source, doc_id, n_chars,
       |         ${TextHash.phashSql("doc_id::VARCHAR", QsSeed)} AS h
       |  FROM documents),
       |sample AS (
       |  SELECT source, n_chars FROM (
       |    SELECT source, n_chars,
       |           row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |    FROM d) WHERE rn <= $QsK),
       |scum AS (
       |  SELECT source, n_chars, sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum
       |  FROM (SELECT source, n_chars, count(*) AS c FROM sample GROUP BY 1, 2)),
       |stot AS (SELECT source, count(*)::BIGINT AS k_eff FROM sample GROUP BY 1),
       |fcum AS (
       |  SELECT source, n_chars, sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum
       |  FROM (SELECT source, n_chars, count(*) AS c FROM d GROUP BY 1, 2)),
       |ftot AS (SELECT source, count(*)::BIGINT AS n FROM d GROUP BY 1),
       |q AS (SELECT unnest([$qList])::BIGINT AS q_pm),
       |est AS (
       |  SELECT s.source, q_pm, k_eff, min(c.n_chars) AS est_chars
       |  FROM stot s CROSS JOIN q JOIN scum c ON c.source = s.source
       |  WHERE c.cum >= (s.k_eff - 1) * q_pm // 1000 + 1
       |  GROUP BY 1, 2, 3),
       |ex AS (
       |  SELECT f.source, q_pm, n, min(c.n_chars) AS exact_chars
       |  FROM ftot f CROSS JOIN q JOIN fcum c ON c.source = f.source
       |  WHERE c.cum >= (f.n - 1) * q_pm // 1000 + 1
       |  GROUP BY 1, 2, 3)
       |SELECT source, q_pm, k_eff, n, est_chars, exact_chars,
       |       k_eff = n AS unfilled_exact,
       |       (NOT k_eff = n) OR est_chars = exact_chars AS match_when_unfilled
       |FROM est JOIN ex USING (source, q_pm)
       |ORDER BY source, q_pm""".stripMargin
  }

  // -- d74/d75: theta-sketch set operations over the per-source KMV sketches --

  /** 2⁵⁶ — the portable-hash value space (the d16 constant, restated
    * here for the theta arithmetic: theta values and n·2⁵⁶ numerators
    * with n ≤ 2·[[KmvK]] are exactly representable as IEEE doubles up
    * to the divisor rounding both engines share).
    */
  private val ThetaSpace = 72057594037927936L

  /** Theta estimate `⌊n · 2⁵⁶ / θ⌋`: the unbiased count/θ estimator of
    * a theta sketch (Dasgupta et al., "Theta sketch framework"), with
    * the same IEEE-determinism argument as d16's `kmvEstimate` — the
    * numerator is exact (n ≤ 512 has ≤ 10 significant bits), the
    * divisor rounds to nearest once, both engines floor the same
    * quotient. θ = 2⁵⁶ (unfilled sketch) degenerates to the exact
    * count.
    */
  private def thetaEst(n: Column, theta: Column): Column =
    floor(n.cast("double") * lit(ThetaSpace.toDouble) / theta.cast("double"))

  private def thetaEstSqlText(n: String, theta: String): String =
    s"floor(($n * CAST(72057594037927936 AS DOUBLE)) / $theta)::BIGINT"

  /** KMV estimate at k = [[KmvK]] (the d16 estimator on the d42 sketch
    * size): exact when unfilled, else `⌊(k−1)·2⁵⁶/(vk+1)⌋`.
    */
  private def kmvEst256(kEff: Column, vk: Column): Column =
    when(kEff < KmvK, kEff).otherwise(
      floor(lit((KmvK - 1).toDouble * ThetaSpace.toDouble)
        / (vk + lit(1L)).cast("double")))

  private def kmvEst256SqlText(kEff: String, vk: String): String =
    s"(CASE WHEN $kEff < $KmvK THEN $kEff ELSE " +
      s"floor((${KmvK - 1}.0 * CAST(72057594037927936 AS DOUBLE)) / ($vk + 1))::BIGINT END)"

  /** d74 — theta-sketch set operations: per source pair, distinct
    * shingle-count estimates for A∪B, A∩B, A∖B and B∖A from the same
    * constant-size per-source KMV sketches d42 builds (a KMV sketch
    * with θ = k-th value IS a theta sketch — Dasgupta et al.; Beyer
    * et al. SIGMOD'07). d42 answers "how MUCH do two corpora overlap"
    * (Jaccard); this answers the planning questions d42 can't: "how
    * many NEW documentsworth of shingles does corpus B add to A"
    * (difference), "how big is the merged corpus vocabulary" (union),
    * "how many shingles would cross-corpus dedup remove"
    * (intersection) — each as a cardinality, not a ratio.
    *
    * Mechanics: per source, the sketch is the k smallest distinct
    * shingle hashes with θ_s = vk+1 (2⁵⁶ when unfilled, i.e. the whole
    * set is held). For a pair, θ = min(θ_a, θ_b); below θ, sketch
    * membership equals SET membership on both sides, so the candidate
    * counts n_common / n_a_only / n_b_only are exact samples at rate
    * θ/2⁵⁶ and estimates read `⌊n·2⁵⁶/θ⌋`. The union estimate takes
    * the KMV merge (bottom-k of both sketches' union — identically
    * the union's own sketch) through d16's estimator. Everything is
    * deterministic integer/IEEE arithmetic over the portable hash, so
    * estimates AND bound booleans hash-match the DuckDB oracle (the
    * d42 discipline); the declared bounds are stated in pure integer
    * arithmetic (`10·|Δ| ≤ 3·n + 640` ≈ 0.3·n + 64, ≥ 4.8σ at k=256)
    * so no decimal/double boundary can flip them across engines.
    *
    * Scale shape: one distinct (source, h) pass feeds the sketches
    * (ranked window, WindowGroupLimit prunes per partition) and the
    * exact audit legs (the d42 shape: h-keyed self-join touches only
    * SHARED shingles; per-source counts + inclusion-exclusion give the
    * union). All pairwise work happens on O(pairs·k) sketch rows —
    * broadcastable at any corpus size; at 100 TB only the sketches
    * ship, which is the point of the operator.
    */
  def thetaSetOps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(spark, dir)
      .select(col("source"), explode(TextHash.hashedShingles(col("text"), 0)).as("h"))
      .distinct()
      .persist()
    // every small intermediate below is REFERENCED from several
    // downstream subtrees; an eager localCheckpoint collapses each to
    // a leaf — without the barriers the final join tree re-embeds the
    // (window over sh → thetas → pairs) subplan per reference and
    // driver-side analysis alone cost ~15 s at EVERY SF (the
    // connectedComponents lineage lesson, batch-shaped)
    val wk = Window.partitionBy("source").orderBy("h")
    val sk = sh.withColumn("rn", row_number().over(wk)).filter(col("rn") <= KmvK)
      .select("source", "h")
      .localCheckpoint() // O(sources · k) rows at any corpus size
    val thetas = sk.groupBy("source")
      .agg(count(lit(1)).as("k_eff"), max("h").as("vk"))
      .withColumn("theta",
        when(col("k_eff") < KmvK, lit(ThetaSpace)).otherwise(col("vk") + lit(1L)))
      .select("source", "theta")
    val srcs = sk.select("source").distinct()
    val pairs = srcs.toDF("sa").crossJoin(srcs.toDF("sb")).filter(col("sa") < col("sb"))
      .join(thetas.toDF("sa", "theta_a"), Seq("sa"))
      .join(thetas.toDF("sb", "theta_b"), Seq("sb"))
      .withColumn("theta", least(col("theta_a"), col("theta_b")))
      .select("sa", "sb", "theta")
      .localCheckpoint() // O(sources²) rows
    // per-pair sketch-membership rows: O(pairs · k), the only fan-out
    val pa = pairs.select(col("sa"), col("sb"), col("theta"), col("sa").as("source"))
    val pb = pairs.select(col("sa"), col("sb"), col("theta"), col("sb").as("source"))
    val memb = sk.join(pa, Seq("source"))
        .select(col("sa"), col("sb"), col("theta"), col("h"), lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionByName(sk.join(pb, Seq("source"))
        .select(col("sa"), col("sb"), col("theta"), col("h"), lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy("sa", "sb", "theta", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .localCheckpoint() // O(pairs · 2k) rows; feeds uni AND below
    val wu = Window.partitionBy("sa", "sb").orderBy("h")
    val uni = memb.withColumn("rn", row_number().over(wu)).filter(col("rn") <= KmvK)
      .groupBy("sa", "sb").agg(count(lit(1)).as("k_union"), max("h").as("vk_u"))
    val below = memb.filter(col("h") < col("theta"))
      .groupBy("sa", "sb", "theta")
      .agg(sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L)).as("n_common"),
           sum(when(col("in_a") === 1 && col("in_b") === 0, 1L).otherwise(0L)).as("n_a_only"),
           sum(when(col("in_a") === 0 && col("in_b") === 1, 1L).otherwise(0L)).as("n_b_only"))
    // exact audit legs (the d42 shape)
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("sa", "h").join(sh.toDF("sb", "h2"),
        col("h") === col("h2") && col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    val ex = pairs.select("sa", "sb").join(inter, Seq("sa", "sb"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(counts.toDF("sa", "na"), Seq("sa"))
      .join(counts.toDF("sb", "nb"), Seq("sb"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
    val out = below.join(uni, Seq("sa", "sb")).join(ex, Seq("sa", "sb"))
      .withColumn("union_est", kmvEst256(col("k_union"), col("vk_u")))
      .withColumn("inter_est", thetaEst(col("n_common"), col("theta")))
      .withColumn("diff_ab_est", thetaEst(col("n_a_only"), col("theta")))
      .withColumn("diff_ba_est", thetaEst(col("n_b_only"), col("theta")))
      .withColumn("n_diff_ab", col("na") - col("n_inter"))
      .withColumn("n_diff_ba", col("nb") - col("n_inter"))
      .select(col("sa"), col("sb"), col("theta"), col("k_union"),
        col("union_est"), col("n_union"),
        (abs(col("union_est") - col("n_union")) * 10 <= col("n_union") * 3).as("union_ok"),
        col("n_common"), col("inter_est"), col("n_inter"),
        (abs(col("inter_est") - col("n_inter")) * 10 <= col("n_union") * 3 + 640).as("inter_ok"),
        col("diff_ab_est"), col("n_diff_ab"),
        (abs(col("diff_ab_est") - col("n_diff_ab")) * 10 <= col("n_union") * 3 + 640).as("diff_ab_ok"),
        col("diff_ba_est"), col("n_diff_ba"),
        (abs(col("diff_ba_est") - col("n_diff_ba")) * 10 <= col("n_union") * 3 + 640).as("diff_ba_ok"))
      .orderBy("sa", "sb")
      .localCheckpoint() // |pairs| rows; frees sh now
    sh.unpersist()
    out
  }

  lazy val oracleThetaSetOps: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${TextHash.hashedShinglesSql("text", 0)}) AS h
       |  FROM documents),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM sh) WHERE rn <= $KmvK),
       |thetas AS (
       |  SELECT source,
       |         CASE WHEN count(*) < $KmvK THEN ${ThetaSpace}
       |              ELSE max(h) + 1 END AS theta
       |  FROM sk GROUP BY 1),
       |srcs AS (SELECT DISTINCT source FROM sh),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb,
       |         least(ta.theta, tb.theta) AS theta
       |  FROM srcs a JOIN srcs b ON a.source < b.source
       |  JOIN thetas ta ON ta.source = a.source
       |  JOIN thetas tb ON tb.source = b.source),
       |memb AS (
       |  SELECT sa, sb, theta, h, max(in_a) AS in_a, max(in_b) AS in_b
       |  FROM (
       |    SELECT p.sa, p.sb, p.theta, k.h, 1 AS in_a, 0 AS in_b
       |    FROM pairs p JOIN sk k ON k.source = p.sa
       |    UNION ALL
       |    SELECT p.sa, p.sb, p.theta, k.h, 0 AS in_a, 1 AS in_b
       |    FROM pairs p JOIN sk k ON k.source = p.sb)
       |  GROUP BY 1, 2, 3, 4),
       |uni AS (
       |  SELECT sa, sb, count(*) AS k_union, max(h) AS vk_u FROM (
       |    SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |    FROM memb) WHERE rn <= $KmvK
       |  GROUP BY 1, 2),
       |below AS (
       |  SELECT sa, sb, theta,
       |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT AS n_common,
       |         sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a_only,
       |         sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b_only
       |  FROM memb WHERE h < theta
       |  GROUP BY 1, 2, 3),
       |counts AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS sa, b.source AS sb, count(*)::BIGINT AS n_inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT p.sa, p.sb, coalesce(i.n_inter, 0) AS n_inter,
       |         ca.n AS na, cb.n AS nb,
       |         ca.n + cb.n - coalesce(i.n_inter, 0) AS n_union
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
       |  JOIN counts ca ON ca.source = p.sa
       |  JOIN counts cb ON cb.source = p.sb)
       |SELECT b.sa, b.sb, b.theta, u.k_union,
       |       ${kmvEst256SqlText("u.k_union", "u.vk_u")} AS union_est, e.n_union,
       |       abs(${kmvEst256SqlText("u.k_union", "u.vk_u")} - e.n_union) * 10 <= e.n_union * 3 AS union_ok,
       |       b.n_common,
       |       ${thetaEstSqlText("b.n_common", "b.theta")} AS inter_est, e.n_inter,
       |       abs(${thetaEstSqlText("b.n_common", "b.theta")} - e.n_inter) * 10 <= e.n_union * 3 + 640 AS inter_ok,
       |       ${thetaEstSqlText("b.n_a_only", "b.theta")} AS diff_ab_est,
       |       e.na - e.n_inter AS n_diff_ab,
       |       abs(${thetaEstSqlText("b.n_a_only", "b.theta")} - (e.na - e.n_inter)) * 10 <= e.n_union * 3 + 640 AS diff_ab_ok,
       |       ${thetaEstSqlText("b.n_b_only", "b.theta")} AS diff_ba_est,
       |       e.nb - e.n_inter AS n_diff_ba,
       |       abs(${thetaEstSqlText("b.n_b_only", "b.theta")} - (e.nb - e.n_inter)) * 10 <= e.n_union * 3 + 640 AS diff_ba_ok
       |FROM below b JOIN uni u ON u.sa = b.sa AND u.sb = b.sb
       |JOIN ex e ON e.sa = b.sa AND e.sb = b.sb
       |ORDER BY b.sa, b.sb""".stripMargin

  /** d75 — n-way theta difference: per source, how many of its
    * distinct shingles appear in NO other source ("novel content" —
    * the quantity that prices keeping a corpus in the training mix),
    * plus the merged all-sources union estimate (the global
    * vocabulary size from sketches alone). The n-way generalization
    * of d74: θ_g = min over ALL per-source thetas; below θ_g, sketch
    * membership equals set membership for every source, so a hash
    * seen in exactly one sketch is globally unique, and the per-source
    * unique-candidate counts scale back by 2⁵⁶/θ_g. The global union
    * merges all sketches bottom-k (the d16b merge property, n-way).
    *
    * Scale shape: the candidate pass runs over O(sources·k) sketch
    * rows; the exact audit legs are one group-by-h over the distinct
    * (source, h) relation (a hash that occurs once is unique — no
    * pairwise step at all). Constant sketch state per source; at
    * 1000 executors the sketches are partial-aggregated per partition
    * and merged on one reducer — nothing corpus-pairwise anywhere.
    */
  def thetaNovelty(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(spark, dir)
      .select(col("source"), explode(TextHash.hashedShingles(col("text"), 0)).as("h"))
      .distinct()
      .persist()
    val wk = Window.partitionBy("source").orderBy("h")
    // same barrier discipline as d74: sk feeds three subtrees
    val sk = sh.withColumn("rn", row_number().over(wk)).filter(col("rn") <= KmvK)
      .select("source", "h")
      .localCheckpoint() // O(sources · k) rows
    val thetas = sk.groupBy("source")
      .agg(count(lit(1)).as("k_eff"), max("h").as("vk"))
      .withColumn("theta",
        when(col("k_eff") < KmvK, lit(ThetaSpace)).otherwise(col("vk") + lit(1L)))
    val tg = thetas.agg(min("theta").as("theta_g")).localCheckpoint()
    // below theta_g, a hash present in exactly one SKETCH is present
    // in exactly one SET
    val uniqCand = sk.crossJoin(broadcast(tg))
      .filter(col("h") < col("theta_g"))
      .groupBy("h", "theta_g")
      .agg(count(lit(1)).as("n_src"), min("source").as("source"))
      .filter(col("n_src") === 1)
      .groupBy("source", "theta_g").agg(count(lit(1)).as("n_uniq_cand"))
    // global union sketch: bottom-k of all sketches' distinct hashes
    val wg = Window.orderBy("h")
    val gUni = sk.select("h").distinct()
      .withColumn("rn", row_number().over(wg)).filter(col("rn") <= KmvK)
      .agg(count(lit(1)).as("k_g"), max("h").as("vk_g"))
    // exact audit legs: one group-by-h pass, no pairwise step
    val exUniq = sh.groupBy("h")
      .agg(count(lit(1)).as("n_src"), min("source").as("source"))
      .filter(col("n_src") === 1)
      .groupBy("source").agg(count(lit(1)).as("n_uniq_exact"))
    val exN = sh.groupBy("source").agg(count(lit(1)).as("n_distinct_exact"))
    val exG = sh.agg(countDistinct("h").as("n_union_exact"))
    val out = exN
      .join(exUniq, Seq("source"), "left").na.fill(0L, Seq("n_uniq_exact"))
      .join(uniqCand, Seq("source"), "left")
      .crossJoin(broadcast(tg.toDF("theta_g2")))
      .withColumn("theta_g", coalesce(col("theta_g"), col("theta_g2")))
      .na.fill(0L, Seq("n_uniq_cand"))
      .crossJoin(broadcast(gUni))
      .crossJoin(broadcast(exG))
      .withColumn("uniq_est", thetaEst(col("n_uniq_cand"), col("theta_g")))
      .withColumn("union_est", kmvEst256(col("k_g"), col("vk_g")))
      .select(col("source"), col("n_distinct_exact"),
        col("n_uniq_cand"), col("uniq_est"), col("n_uniq_exact"),
        (abs(col("uniq_est") - col("n_uniq_exact")) * 10
          <= col("n_distinct_exact") * 3 + 640).as("uniq_ok"),
        col("theta_g"), col("union_est"), col("n_union_exact"),
        (abs(col("union_est") - col("n_union_exact")) * 10
          <= col("n_union_exact") * 3).as("union_ok"))
      .orderBy("source")
      .localCheckpoint() // |sources| rows; frees sh now
    sh.unpersist()
    out
  }

  lazy val oracleThetaNovelty: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${TextHash.hashedShinglesSql("text", 0)}) AS h
       |  FROM documents),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM sh) WHERE rn <= $KmvK),
       |thetas AS (
       |  SELECT source,
       |         CASE WHEN count(*) < $KmvK THEN ${ThetaSpace}
       |              ELSE max(h) + 1 END AS theta
       |  FROM sk GROUP BY 1),
       |tg AS (SELECT min(theta) AS theta_g FROM thetas),
       |uniqcand AS (
       |  SELECT source, count(*)::BIGINT AS n_uniq_cand FROM (
       |    SELECT h, count(*) AS n_src, min(source) AS source
       |    FROM sk CROSS JOIN tg WHERE h < theta_g
       |    GROUP BY h)
       |  WHERE n_src = 1 GROUP BY 1),
       |guni AS (
       |  SELECT count(*) AS k_g, max(h) AS vk_g FROM (
       |    SELECT h, row_number() OVER (ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT h FROM sk)) WHERE rn <= $KmvK),
       |exuniq AS (
       |  SELECT source, count(*)::BIGINT AS n_uniq_exact FROM (
       |    SELECT h, count(*) AS n_src, min(source) AS source
       |    FROM sh GROUP BY h)
       |  WHERE n_src = 1 GROUP BY 1),
       |exn AS (SELECT source, count(*)::BIGINT AS n_distinct_exact FROM sh GROUP BY 1),
       |exg AS (SELECT count(DISTINCT h)::BIGINT AS n_union_exact FROM sh)
       |SELECT n.source, n.n_distinct_exact,
       |       coalesce(u.n_uniq_cand, 0) AS n_uniq_cand,
       |       ${thetaEstSqlText("coalesce(u.n_uniq_cand, 0)", "t.theta_g")} AS uniq_est,
       |       coalesce(x.n_uniq_exact, 0) AS n_uniq_exact,
       |       abs(${thetaEstSqlText("coalesce(u.n_uniq_cand, 0)", "t.theta_g")}
       |           - coalesce(x.n_uniq_exact, 0)) * 10
       |         <= n.n_distinct_exact * 3 + 640 AS uniq_ok,
       |       t.theta_g,
       |       ${kmvEst256SqlText("g.k_g", "g.vk_g")} AS union_est, e.n_union_exact,
       |       abs(${kmvEst256SqlText("g.k_g", "g.vk_g")} - e.n_union_exact) * 10
       |         <= e.n_union_exact * 3 AS union_ok
       |FROM exn n
       |LEFT JOIN exuniq x ON x.source = n.source
       |LEFT JOIN uniqcand u ON u.source = n.source
       |CROSS JOIN tg t CROSS JOIN guni g CROSS JOIN exg e
       |ORDER BY n.source""".stripMargin
}
