package graft.llm

import graft.LocalSession
import graft.ops.CoreOps.sortedOnce
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

/** Document deduplication operators for the large-scale training-data
  * pipeline: exact (hash group-by), MinHash+LSH (shingle → minhash →
  * band → bucket-join → exact-Jaccard verify) and SimHash (bitwise
  * near-dup signatures + Hamming pairs).
  *
  * The `documents` fixture has no true duplicates, so the near-dup
  * operators run over [[corpus]] — documents unioned with
  * deterministically truncated twins (doc_id + 1,000,000) — giving the
  * pipeline real positives to find while staying oracle-checkable.
  *
  * Scale shape (100 TB honesty): every step is shuffle-by-key —
  * shingle explode is map-side; minhash is one hash-agg (16 `min`
  * columns, no seed-explosion); the LSH band join keys candidates to
  * O(near-dups) instead of the O(n²) cross join; only candidate pairs
  * pay the exact-Jaccard verify.
  */
object Dedup {
  import TextHash._

  val MinhashSeeds = 16
  val Bands        = 4
  val RowsPerBand  = MinhashSeeds / Bands
  val TwinIdOffset = 1000000L
  val TwinTruncate = 50
  val JaccardThreshold = 0.5

  /** d01 — exact dedup: group by content hash, keep the smallest
    * doc_id as the canonical representative.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** documents ∪ truncated twins (drop the last [[TwinTruncate]] chars,
    * floor 20) — the deterministic near-dup corpus.
    */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    d.unionByName(d.select(
      (col("doc_id") + lit(TwinIdOffset)).as("doc_id"),
      col("text").substr(lit(1), greatest(length(col("text")) - lit(TwinTruncate), lit(20))).as("text")))
  }

  /** One row per corpus doc with its distinct shingle-hash ARRAY —
    * the whole MinHash/Jaccard family works off this relation, and
    * keeping shingles as a per-doc array (not an exploded row set)
    * means signatures need NO shuffle and the Jaccard verify moves one
    * compact array per doc instead of re-shuffling millions of
    * (doc_id, hash) rows.
    */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      // spread the docs across the shuffle width BEFORE hashing: the
      // fixture file is a single input split, which would pin the md5
      // shingle loop to one core; the doc_id partitioning also lines up
      // with the verify joins' keys. At real scale the scan already has
      // thousands of splits and this exchange is the cheapest in the plan
      // (raw text rows, pre-explosion).
      .repartition(col("doc_id"))
      .select(col("doc_id"), TextHash.hashedShingles(col("text"), 0).as("hs"))

  /** The 4 LSH band structs of one doc, computed per-ROW: all 16
    * minhashes come from ONE traversal of the shingle-hash array (the
    * native [[graft.expr.MinHash56]] expression — same values as 16
    * `array_min(transform(hs, mix(_, s)))` columns, without 16
    * interpreted array passes), and each band of 4 minhashes re-hashes
    * into one 56-bit long bucket key (8-byte join/shuffle keys instead
    * of 32-char hex strings).
    */
  private def bandStructs(mh: Column): Column = {
    val bandCols = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => element_at(mh, b * RowsPerBand + r + 1))
      struct(lit(b).as("band"), phash(concat_ws(",", cols: _*), 1).as("band_hash"))
    }
    array(bandCols: _*)
  }

  private def bandsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.expr.HashFunctions.minHash56(col("hs"), TextHash.minhashKeys(MinhashSeeds)).as("mh"))
      .select(col("doc_id"), explode(bandStructs(col("mh"))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))

  /** d02 — MinHash signatures banded for LSH: all 16 minhashes come
    * from per-row array folds over the doc's shingle-hash array (ONE
    * md5 per shingle — the 16 seed variants come from [[TextHash.mix]];
    * no row explosion, no aggregate, no shuffle); bands of 4 are
    * re-hashed into one bucket key each.
    */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    ccIndex(spark, dir)._2.orderBy("doc_id", "band")

  /** d03 — LSH candidate pairs + exact-Jaccard verification: pairs
    * sharing ≥1 band bucket join back to the two per-doc shingle-hash
    * ARRAYS; |A∩B| is the native [[graft.expr.SortedIntersectCount]]
    * two-pointer merge over the staged SORTED dedup'd long arrays;
    * jaccard = |A∩B| / (|A|+|B|−|A∩B|), kept at ≥ [[JaccardThreshold]].
    * jaccard is a ratio of identical integers in both engines → exact
    * double parity without rounding.
    *
    * Shuffle budget: ONE band self-join keyed on the bucket, one pair
    * distinct, two joins moving one array-row per doc — the round-1
    * shape re-shuffled the exploded shingle relation (≈300 rows/doc)
    * twice and re-grouped the pair×shingle blow-up; this moves each
    * doc's shingles once, already aggregated.
    */
  def lshJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsRaw(spark, dir)._1.orderBy("id_a", "id_b")

  /** LSH band candidates scored with the raw overlap integers
    * (|A∩B|, |A|, |B|) — the shared verify leg behind d03 (symmetric
    * Jaccard) and d25 (asymmetric containment). Returns the scored
    * relation plus the two persisted inputs (doc shingles, bands) so
    * callers that materialize to a staging table ([[clusterLabels]])
    * can release the caches afterwards.
    */
  /** Staged rep-level verified candidates: the LSH band self-join and
    * exact sorted-intersect verify over exact-content FAMILY
    * REPRESENTATIVES only ([[contentFamilies]]) — `(id_a, id_b, inter,
    * sza, szb)` for every rep candidate pair, UNFILTERED (d03 cuts on
    * jaccard, d25 on containment, the rep graph on its own threshold —
    * one verify pass serves all three). Identical texts have identical
    * shingle sets, so rep-level overlap integers ARE the member-level
    * ones; member-level verify cost grew with the SQUARE of the corpus
    * copy factor (measured 79 s for d03 alone at 100×/16× — 2.86 M
    * member candidates, each moving two hash arrays) while this leg is
    * copy-factor-invariant.
    */
  private[graft] def repScored(spark: SparkSession, dir: String): DataFrame = {
    val Seq(loc) = graft.ops.Staging.indexes(dir, "rep_scored") { put =>
      val repIds = contentFamilies(spark, dir)
        .where(col("doc_id") === col("rep")).select("doc_id")
      val (docs, bands) = ccIndex(spark, dir)
      val rb = bands.join(repIds, Seq("doc_id"), "left_semi")
      val cand = rb.as("a")
        .join(rb.as("b"),
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val rdocs = docs.join(repIds, Seq("doc_id"), "left_semi")
      put("rep_scored",
        cand
          .join(rdocs.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
          .join(rdocs.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.expr.VectorFunctions.sortedIntersectCount(col("hs_a"), col("hs_b")).as("inter"),
            size(col("hs_a")).as("sza"), size(col("hs_b")).as("szb")))
    }
    Tables.parquet(spark, loc)
  }

  private def candScoredRaw(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    // member-level expansion of the staged rep-level verify
    // ([[repScored]]): cross-family pairs fan out as members_A ×
    // members_B with the rep overlap integers (sizes follow the
    // (least, greatest) id swap so d25's per-side containment stays
    // exact); within-family pairs are C(f, 2) at inter = |hs| (its own
    // set). Candidate-set equality is two-directional: members carry
    // their rep's band signature verbatim, so a member pair collides
    // on a band iff its rep pair does — the expansion is LOSSLESS, not
    // a recall trade. No shingle array is ever joined at member level.
    val rs = repScored(spark, dir)
    val fams = contentFamilies(spark, dir).select("doc_id", "rep")
    val cross = rs
      .join(fams.select(col("rep").as("id_a"), col("doc_id").as("da")), Seq("id_a"))
      .join(fams.select(col("rep").as("id_b"), col("doc_id").as("db")), Seq("id_b"))
      .select(
        least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"),
        col("inter"),
        when(col("da") < col("db"), col("sza")).otherwise(col("szb")).as("sza"),
        when(col("da") < col("db"), col("szb")).otherwise(col("sza")).as("szb"))
    val (docs, _) = ccIndex(spark, dir)
    val repSz = docs
      .join(fams.where(col("doc_id") === col("rep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("rep"), size(col("hs")).as("sz"))
    val within = fams.as("x")
      .join(fams.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"), col("x.rep").as("rep"))
      .join(repSz, Seq("rep"))
      .select(col("id_a"), col("id_b"),
        col("sz").as("inter"), col("sz").as("sza"), col("sz").as("szb"))
    (cross.unionByName(within), Seq.empty)
  }

  private[llm] def jaccardPairsRaw(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val (scored, deps) = candScoredRaw(spark, dir)
    val pairs = scored
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
    (pairs, deps)
  }

  /** Containment at or above this marks one doc as (near-)contained in
    * the other. Truncated twins sit at exactly 1.0: every shingle
    * window of a PREFIX is a window of the full doc.
    */
  val ContainmentThreshold = 0.9

  /** d25 — containment (asymmetric-Jaccard) pairs: for each LSH
    * candidate pair, the fraction of EACH side's shingles present in
    * the other (|A∩B|/|A| and |A∩B|/|B|), kept when either side is ≥
    * [[ContainmentThreshold]]-contained. Catches the snippet/quote/
    * truncation shape symmetric Jaccard under-scores: a short doc
    * inside a long one has low Jaccard (the union is dominated by the
    * long side) but containment 1.0 on the short side.
    *
    * Same scale shape as d03 (one band self-join on the bucket key,
    * one array-move per doc); the honest caveat is RECALL, not cost:
    * MinHash bands sample the UNION, so a contained doc much smaller
    * than its container may never share a band — production
    * containment search replaces the band key with a one-sided scheme
    * (prefix filtering / asymmetric minhash), same join layout.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val (scored, _) = candScoredRaw(spark, dir)
    scored
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("sza")).as("cont_a"),
        (col("inter").cast("double") / col("szb")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= ContainmentThreshold)
      .orderBy("id_a", "id_b")
  }

  /** d11 — near-dup CLUSTERS: connected components of the verified
    * d03 pair graph, labeled by min doc_id — the step that turns
    * pairwise near-dups into "keep one per cluster" decisions.
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round every doc takes the min of its own label, its
    * neighbors' labels, AND its label's label (shortcutting). The loop
    * is a DRIVER loop over set-oriented rounds (each round is keyed
    * shuffle joins + one aggregate, never per-row driver work);
    * neighbor-min alone needs O(component diameter) rounds, the
    * shortcut compresses that to O(log diameter) — the 100 TB-honest
    * bound for long-chain components. Bounded by the explicit
    * `require` in [[clusterLabels]].
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("canonical_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** d47 — dedup efficiency report: the cluster-size SPECTRUM of the
    * near-dup graph plus what dedup buys — for each cluster size f:
    * how many clusters, how many member documents, their total token
    * mass (t03 arithmetic), and the tokens REMOVED by keep-one-per-
    * cluster dedup (mass minus the per-cluster minimum member is what
    * d12 keeps; here the report charges the canonical's tokens as
    * kept). This is the "how duplicated is my corpus, and is dedup
    * worth the pass" table every pipeline paper prints (cf. Lee et
    * al. arXiv:2107.06499 §5's dup-cluster histograms).
    *
    * Scale shape: one token-count projection, one label-keyed join,
    * two hash aggregates (cluster roll-up, then size roll-up) — all
    * spillable map-side-combining aggs over the staged d11 labels;
    * output is O(distinct cluster sizes) rows.
    */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val toks = Sampling.tokenCounts(corpus(spark, dir))
    val perCluster = clusterLabels(spark, dir).join(toks, Seq("doc_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("f"), sum("n_tokens").as("mass"),
        min(when(col("doc_id") === col("label"), col("n_tokens"))).as("kept"))
    perCluster.groupBy("f")
      .agg(count(lit(1)).as("n_clusters"),
        sum("mass").as("tokens_total"),
        sum(col("mass") - col("kept")).as("tokens_removed"))
      .orderBy("f")
  }

  lazy val oracleDedupReport: String = {
    val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (SELECT u AS doc_id, min(v) AS label FROM reach GROUP BY u),
       |tk AS (
       |  SELECT doc_id,
       |    ((list_sum(list_transform($toks, x -> length(x)))::BIGINT + 3) // 4)::BIGINT
       |      AS n_tokens
       |  FROM corpus),
       |pc AS (
       |  SELECT l.label, count(*)::BIGINT AS f, sum(t.n_tokens)::BIGINT AS mass,
       |         min(CASE WHEN l.doc_id = l.label THEN t.n_tokens END)::BIGINT AS kept
       |  FROM labeled l JOIN tk t USING (doc_id)
       |  GROUP BY l.label)
       |SELECT f, count(*)::BIGINT AS n_clusters,
       |       sum(mass)::BIGINT AS tokens_total,
       |       sum(mass - kept)::BIGINT AS tokens_removed
       |FROM pc GROUP BY f ORDER BY f""".stripMargin
  }

  /** d48 — clustering agreement: how much of the near-dup clustering
    * (d11's verified-Jaccard closure) is explained by EXACT
    * duplication (the content families)? The pair-counting Rand index
    * between the two partitions, computed entirely from closed forms —
    * pairs-together-in-X is Σ_groups C(n,2), so the metric needs three
    * spillable hash aggs and ZERO pairwise joins (at 100 TB a
    * pair-materializing agreement metric is quadratic dead weight).
    * The diagnostic a pipeline reads before paying for the fuzzy pass:
    * Rand ≈ 1 with same_both ≈ same_cluster means exact hashing
    * already finds almost everything the MinHash pipeline finds.
    *
    * Both label relations come from staged indexes; the ratio is one
    * double division of exact BIGINTs (cross-engine bit parity).
    */
  def clusterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val j = clusterLabels(spark, dir)
      .join(contentFamilies(spark, dir).select("doc_id", "rep"), Seq("doc_id"))
      .localCheckpoint() // three aggregates read it
    val sameBoth = j.groupBy("label", "rep").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))).head().getLong(0)
    val sameCluster = j.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))).head().getLong(0)
    val sameFamily = j.groupBy("rep").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))).head().getLong(0)
    val n = j.count()
    val total = n * (n - 1) / 2
    val agree = total + 2 * sameBoth - sameCluster - sameFamily
    import spark.implicits._
    Seq((n, total, sameCluster, sameFamily, sameBoth,
      agree.toDouble / total))
      .toDF("n_docs", "pairs_total", "same_cluster", "same_family",
        "same_both", "rand_index")
  }

  lazy val oracleClusterAgreement: String =
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (SELECT u AS doc_id, min(v) AS label FROM reach GROUP BY u),
       |fams AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
       |  FROM corpus),
       |j AS (SELECT l.doc_id, l.label, f.rep FROM labeled l JOIN fams f USING (doc_id)),
       |sb AS (SELECT coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS v FROM
       |         (SELECT count(*) AS n FROM j GROUP BY label, rep)),
       |sc AS (SELECT coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS v FROM
       |         (SELECT count(*) AS n FROM j GROUP BY label)),
       |sf AS (SELECT coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS v FROM
       |         (SELECT count(*) AS n FROM j GROUP BY rep)),
       |nn AS (SELECT count(*)::BIGINT AS n FROM j)
       |SELECT nn.n AS n_docs,
       |       (nn.n * (nn.n - 1) // 2)::BIGINT AS pairs_total,
       |       sc.v AS same_cluster, sf.v AS same_family, sb.v AS same_both,
       |       ((nn.n * (nn.n - 1) // 2) + 2 * sb.v - sc.v - sf.v)::DOUBLE
       |         / (nn.n * (nn.n - 1) // 2) AS rand_index
       |FROM nn, sb, sc, sf""".stripMargin

  /** d45 — quality-aware canonical selection: inside each near-dup
    * cluster keep the highest-quality member (t02's composite score;
    * ties broken by min doc_id), not the arbitrary min-id canonical —
    * the Dolma/FineWeb-style "best representative" dedup step, where
    * dropping the boilerplate-laden copy and keeping the clean one
    * measurably improves the trained model.
    *
    * Scale shape: the per-cluster argmax is an AGGREGATE
    * (`max(struct(quality, -doc_id))` — map-side partial combine,
    * spillable hash agg), never a per-cluster window sort: at 100 TB
    * the cluster-count is huge but each partial fits in a hash map,
    * while a window would range-sort the full corpus. Labels come
    * from the staged d11 index; quality is a map-side expression.
    */
  def qualityDedup(spark: SparkSession, dir: String): DataFrame = {
    val q = corpus(spark, dir)
      .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
    // consumed by both the argmax agg and the final join — eager
    // materialization, not a leaked persist (GC frees the blocks)
    val members = clusterLabels(spark, dir).join(q, Seq("doc_id")).localCheckpoint()
    val best = members.groupBy("label")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("label"), (-col("b.nid")).as("kept_id"))
    members.join(best, Seq("label"))
      .select(col("doc_id"), col("label"), col("quality"),
        col("kept_id"), (col("doc_id") === col("kept_id")).as("keep"))
      .orderBy("doc_id")
  }

  // lazy: references pairsCteSql, declared later in this object
  lazy val oracleQualityDedup: String =
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (SELECT u AS doc_id, min(v) AS label FROM reach GROUP BY u),
       |q AS (${TextStats.qualityScoreSql("corpus")}),
       |m AS (SELECT l.doc_id, l.label, q.quality FROM labeled l JOIN q USING (doc_id)),
       |b AS (
       |  SELECT DISTINCT label,
       |    first_value(doc_id) OVER (PARTITION BY label ORDER BY quality DESC, doc_id) AS kept_id
       |  FROM m)
       |SELECT m.doc_id, m.label, m.quality, b.kept_id,
       |       m.doc_id = b.kept_id AS keep
       |FROM m JOIN b USING (label)
       |ORDER BY m.doc_id""".stripMargin

  /** The converged (doc_id, label=component-min) relation behind d11,
    * d12 and d14 — staged ONCE as a parquet index and re-read by
    * every consumer. Label once, consume many times: d11, d12 and d14
    * all need the same cluster labels, and at 100 TB you'd never re-run
    * the pair pipeline + the propagation loop three times (in round 3
    * that recompute was ~19 s of the 76 s bench). The staged file also truncates lineage, so
    * after the write every intermediate cache is released.
    *
    * The propagation loop runs over the EDGE-TOUCHED vertex set only
    * (docs appearing in ≥1 near-dup pair — orders of magnitude smaller
    * than the corpus; every untouched doc is trivially its own
    * cluster and joins back in one broadcast at the end). Convergence
    * is a `sum(changed)` aggregate folded into the round's single
    * action — no extra per-round comparison join.
    */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, clusterLabelsPath(spark, dir))

  /** The location of the staged [[clusterLabels]]. */
  private[graft] def clusterLabelsPath(spark: SparkSession, dir: String): String = {
    val Seq(loc) = graft.ops.Staging.indexes(dir, "cc_labels") { put =>
      val (pairsRaw, caches) = jaccardPairsRaw(spark, dir)
      val pairs = pairsRaw.select("id_a", "id_b").persist()
      val labels = connectedComponents(pairs).withColumnRenamed("vertex", "doc_id")
        .withColumnRenamed("component", "label")
      // no broadcast hint: the planner broadcasts the checkpointed label
      // relation when it fits and falls back to a doc_id-keyed shuffle
      // join when the near-dup vertex set is large
      put("cc_labels",
        corpus(spark, dir)
          .select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label")))
      // labels live in parquet now — every cache behind them can go
      (pairs +: caches).foreach(_.unpersist())
    }
    loc
  }

  /** Connected components of an undirected edge list — the reusable
    * graph operator behind near-dup clustering (d11/d12/d14), usable
    * on any pair relation. Input: a 2-column DataFrame of (u, v)
    * pairs, one direction per edge. Output: `(vertex, component)` for
    * every vertex appearing in an edge, `component` = the minimum
    * vertex id of its component.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * every vertex takes `min(own label, neighbors' labels,
    * label-of-label)`; the shortcut (label → label-of-label, a self
    * equi-join on the label relation — labels are always vertex ids of
    * the set) compresses convergence from O(component diameter) to
    * O(log diameter) rounds. Each round is keyed shuffle joins + ONE
    * driver action (the convergence aggregate), never per-row driver
    * work.
    *
    * Rounds are truncated with eager `localCheckpoint`, not persist:
    * each round references the previous labels twice, so a lineage-
    * preserving cache doubles the logical plan per round and driver-
    * side analysis goes exponential even though execution hits the
    * cache. On a cluster, a reliable checkpoint dir gives the same
    * truncation fault-tolerantly.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val cols = pairs.columns
    require(cols.length == 2, s"expected 2 edge columns, got ${cols.mkString(",")}")
    val loop = loopSession(pairs.sparkSession)
    val e0 = SessionBridge.rebind(loop, pairs.toDF("u", "v"))
    val edges = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"))).persist()
    // the count fills the edge cache anyway; it also sizes the loop width
    val nSym = edges.count()
    val longTyped = edges.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    val out = if (longTyped && nSym <= 2L * CcDriverMaxEdges) {
      // tiny-graph fast path: a batch-scale contracted graph (d32's
      // is ~100 edges) pays ~8 Spark rounds of fixed job overhead in
      // the loop; a driver union-find over a BOUNDED edge set (≤
      // CcDriverMaxEdges, a few MB — the d61 threshold discipline)
      // produces the identical min-label result in microseconds.
      // Above the bound the distributed loop runs unconditionally.
      // Null endpoints are dropped to MATCH the loop: its equi-joins
      // discard null-keyed rows, whereas getLong would silently read
      // a null as 0L and graft the edge onto component 0.
      val components = driverComponents(loop, edges.collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.getLong(0), r.getLong(1))))
      edges.unpersist()
      components
    } else connectedComponentsLoop(SessionBridge.rebind(sizedLoop(loop, nSym), edges))
    SessionBridge.rebind(pairs.sparkSession, out)
  }

  /** The session an iterative loop (CC, d36, d39, d41) runs in: a child
    * of the caller's with AQE off, which would materialize every round's
    * tiny shuffle stages as separate jobs to re-plan between. The width
    * AQE would have coalesced to comes from the measured edge count
    * instead ([[sizedLoop]]) — ~2.6× faster on the round-dominated
    * queries. Loops hand their result back on the caller's session.
    */
  private[graft] def loopSession(caller: SparkSession): SparkSession =
    LocalSession.scoped(caller, "spark.sql.adaptive.enabled" -> "false")

  /** `loop` with ~500k edge rows per shuffle partition, capped at its width. */
  private[graft] def sizedLoop(loop: SparkSession, edgeRows: Long): SparkSession = {
    val cap = loop.conf.get("spark.sql.shuffle.partitions").toInt
    LocalSession.scoped(loop,
      "spark.sql.shuffle.partitions" -> LocalSession.width(edgeRows, 500000L, 1, cap).toString)
  }

  /** Edge bound for the [[connectedComponents]] driver fast path —
    * collected state stays O(bound) regardless of corpus size.
    */
  private[graft] val CcDriverMaxEdges = 65536L

  /** Min-label union-find over a collected edge list — the driver twin
    * of [[connectedComponentsLoop]] (same contract: every vertex
    * appearing in an edge, component = min vertex id; the spec asserts
    * equality against the loop on the gated fixture).
    */
  private def driverComponents(
      sess: org.apache.spark.sql.SparkSession, es: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    import sess.implicits._
    parent.keysIterator.map(v => (v, find(v))).toSeq.sortBy(_._1)
      .toDF("vertex", "component")
  }

  private[graft] def connectedComponentsLoop(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("u").as("vertex")).distinct()
      .select(col("vertex"), col("vertex").as("component"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 25) {
      // every vertex has ≥1 edge by construction, so the inner join
      // keeps the whole vertex set and nbr is never null
      val nbrMin = edges
        .join(labels.select(col("vertex").as("v"), col("component").as("nbr_label")), Seq("v"))
        .groupBy(col("u").as("vertex"))
        .agg(min("nbr_label").as("nbr"))
      val stepped = labels.join(nbrMin, Seq("vertex"))
        .select(col("vertex"), least(col("component"), col("nbr")).as("component"),
          (col("nbr") < col("component")).as("chg"))
      val jump = stepped.select(col("vertex").as("jk"), col("component").as("jump_label"))
      val next = stepped.as("s").join(jump.as("j"), col("s.component") === col("j.jk"))
        .select(col("s.vertex").as("vertex"),
          least(col("s.component"), col("j.jump_label")).as("component"),
          (col("s.chg") || col("j.jump_label") < col("s.component")).as("chg"))
        .localCheckpoint()
      changed = next.agg(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L))).first().getLong(0)
      labels = next.drop("chg")
      iter += 1
    }
    require(changed == 0, s"label propagation did not converge in $iter rounds")
    // labels is lineage-truncated by localCheckpoint, so the edge cache
    // has no remaining dependents — release it instead of letting cached
    // blocks accumulate across a long-lived session
    edges.unpersist()
    labels
  }

  /** d12 — cluster curation: the "keep one" decision a training
    * pipeline actually ships. Per near-dup cluster (d11), keep the
    * HIGHEST-QUALITY member (t02's composite score recomputed on the
    * corpus text, since twins have no precomputed n_chars), ties
    * broken by min doc_id. Output: one row per cluster with the
    * survivor and how many near-dups it absorbed.
    *
    * One window shuffle (partitionBy cluster) computes both the rank
    * and the cluster size; quality is map-side arithmetic on the text.
    */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterLabels(spark, dir)
    val q = corpus(spark, dir)
      .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
    val byCluster = Window.partitionBy("cluster_id")
    val rank = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    labels.select(col("doc_id"), col("label").as("cluster_id"))
      .join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(rank))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("quality").as("kept_quality"),
        col("cluster_size"), (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** d28 — soft dedup: duplicate-aware training WEIGHTS instead of the
    * keep-one decision. d12 drops near-dups outright; the softer
    * curation policy keeps every document and down-weights each by its
    * cluster multiplicity (`weight = 1 / cluster_size`), so a cluster
    * contributes one document's worth of loss mass regardless of how
    * many copies crawled in — duplication stops biasing the training
    * distribution without discarding text (the knob sits between "keep
    * all" and d12's "keep best"). Σ weight = #clusters by construction.
    *
    * Cost at scale: the labels are the staged once-per-corpus relation
    * ([[clusterLabels]]); on top of it this is ONE keyed shuffle
    * (cluster-size window) and map-side arithmetic. Weight is an IEEE
    * division of 1.0 by a small integer — bit-identical in any engine.
    */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    clusterLabels(spark, dir)
      .select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("weight", lit(1.0) / col("cluster_size"))
      .orderBy("doc_id")
  }

  /** d28 oracle — the d11 closure labels with the multiplicity weight.
    * `lazy` because [[pairsCteSql]] is declared later in the file and a
    * strict val here would capture it uninitialized (null).
    */
  lazy val oracleSoftDedup: String =
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (
       |  SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
       |SELECT doc_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       1.0::DOUBLE / count(*) OVER (PARTITION BY cluster_id) AS weight
       |FROM labeled
       |ORDER BY doc_id""".stripMargin

  val SimhashBits = 56

  /** d04 — SimHash signatures via the native one-pass
    * [[graft.expr.SimHash56]] expression: tokenize + hash + bit-vote in
    * one codegen'd loop per doc, entirely MAP-SIDE — no word explode,
    * no 56-column aggregate, no shuffle. Value-identical to the
    * composed explode → group-by form ([[simhashComposed]], asserted in
    * HashParitySpec); token-less docs are dropped by both.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.expr.HashFunctions.simHash56(col("text"), 99).as("simhash"))
      .filter(col("simhash").isNotNull)
      .transform(sortedOnce(_, "doc_id"))

  /** The composed explode + 56-conditional-sums spelling of SimHash —
    * kept as the parity oracle for the native expression
    * (HashParitySpec). One aggregate with 56 sum columns; map-side
    * combine keeps the shuffle at one row per doc.
    */
  private[graft] def simhashComposed(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
      .withColumn("h", phash(col("word"), 99))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$b")
    }
    val sig = (0 until SimhashBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    words.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** hd ≤ 6 keeps ~63% of truncated twins while the shared-vocabulary
    * background (mean pairwise hd ≈ 18 on this fixture) contributes
    * only ~0.24% of pairs — measured on sf0.01.
    */
  val HammingMax = 6

  /** Pigeonhole chunking: with hd ≤ [[HammingMax]] = 6, the 6 differing
    * bits can touch at most 6 chunks, so any 7-way split guarantees ≥ 1
    * chunk matches EXACTLY — chunk count must exceed the hamming bound
    * (6 bits CAN spread 2+2+1+1 over 4 chunks; 7 is the minimum safe
    * split for hd ≤ 6). 56 bits / 7 chunks = 8 bits each.
    */
  val SimhashChunks = 7
  val ChunkBits = SimhashBits / SimhashChunks

  /** d05 — SimHash near-dup pairs over the twin corpus:
    * `bit_count(a XOR b) <= 6`, found WITHOUT an all-pairs join.
    * Candidate generation is the pigeonhole equi-join: each signature
    * explodes into [[SimhashChunks]] (chunk_idx, chunk_value) keys;
    * pairs sharing ≥ 1 exact chunk are the only possible hd ≤ 6 pairs
    * (see [[SimhashChunks]]), and only those pay the Hamming verify.
    * Cost is O(Σ bucket²) instead of O(n²) — the chunk key is an
    * ordinary shuffle key, so the join scales out like any hash join.
    *
    * Like d35/d37, the pairwise stage runs on exact-content family
    * REPRESENTATIVES only ([[contentFamilies]]): identical texts have
    * identical signatures, so every chunk bucket on a k-copy corpus
    * holds the same k members and the member-level join pays k² per
    * bucket for pairs whose verdict is already decided. Rep pairs are
    * fanned back to member level afterwards (cross pairs inherit the
    * rep Hamming distance verbatim; within-family pairs are hd = 0) —
    * result-exact, candidate mass copy-factor-INVARIANT.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val fams = contentFamilies(spark, dir)
    val repSigs = corpus(spark, dir)
      .join(fams.where(col("doc_id") === col("rep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.expr.HashFunctions.simHash56(col("text"), 99).as("simhash"))
      .filter(col("simhash").isNotNull)
      // map-side signatures inherit the scan's input splits (ONE task on
      // a small fixture file); spread the compact 16-byte rows across
      // the shuffle width so chunk-explode + join parallelize. At real
      // scale the scan has thousands of splits and this is ~free.
      .repartition(col("doc_id"))
      .persist() // chunk-exploded twice below; one signature pass, not two
    val chunkStructs = (0 until SimhashChunks).map { c =>
      struct(lit(c).as("ci"),
        shiftright(col("simhash"), c * ChunkBits).bitwiseAND(lit((1L << ChunkBits) - 1)).as("cv"))
    }
    val chunks = repSigs
      .select(col("doc_id"), col("simhash"), explode(array(chunkStructs: _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    val repPairs = chunks.as("a").join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("cast(bit_count(a.simhash ^ b.simhash) as int)").as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .distinct() // a pair can agree on several chunks
      .localCheckpoint() // eager: rep-pair set is small; frees the sig cache
    // token-less docs (null signature) never pair at member level either;
    // identical text ⇒ identical tokenization, so the family is dropped whole
    val okReps = repSigs.select(col("doc_id").as("rep")).localCheckpoint()
    repSigs.unpersist()
    val sigFams = fams.join(okReps, Seq("rep"), "left_semi")
    expandFamilies(repPairs, sigFams, Seq("hamming"), Seq(lit(0)))
      .orderBy("id_a", "id_b")
  }

  // ---- DuckDB oracle builders (same constants as the Spark plans) ----------

  private[llm] val corpusSql: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $TwinIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - $TwinTruncate, 20)) AS text
       |  FROM documents)""".stripMargin

  private val corpusShinglesSql: String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, unnest(${hashedShinglesSql("text", 0)}) AS base
       |  FROM corpus)""".stripMargin

  private val minhashSql: String = {
    val mhCols = (0 until MinhashSeeds)
      .map(s => s"min(${mixSql("base", s)}) AS mh$s").mkString(",\n         ")
    s"""mh AS (
       |  SELECT doc_id,
       |         $mhCols
       |  FROM sh GROUP BY doc_id)""".stripMargin
  }

  private val bandsSql: String = {
    val bandSelects = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${phashSql(cols, 1)} AS band_hash FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""bands AS (
       |  $bandSelects)""".stripMargin
  }

  val oracleExact: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY doc_id""".stripMargin

  val oracleMinhashBands: String =
    s"""WITH $corpusSql,
       |$corpusShinglesSql,
       |$minhashSql,
       |$bandsSql
       |SELECT doc_id, band, band_hash FROM bands
       |ORDER BY doc_id, band""".stripMargin

  /** CTE chain ending in `inter(id_a, id_b, i)` + `sizes(doc_id, sz)`
    * — the LSH-candidate overlap integers shared by the d03/d11
    * (Jaccard) and d25 (containment) oracles.
    */
  private val candInterCteSql: String =
    s"""$corpusSql,
       |$corpusShinglesSql,
       |$minhashSql,
       |$bandsSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT id_a, id_b, count(*) AS i
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = id_a
       |  JOIN sh sb ON sb.doc_id = id_b AND sa.base = sb.base
       |  GROUP BY 1, 2)""".stripMargin

  /** CTE chain ending in `pairs(id_a, id_b, jaccard)` — the verified
    * near-dup pair relation shared by the d03 and d11 oracles.
    */
  private[llm] val pairsCteSql: String =
    s"""$candInterCteSql,
       |pairs AS (
       |  SELECT id_a, id_b, i::DOUBLE / (za.sz + zb.sz - i) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = id_a
       |  JOIN sizes zb ON zb.doc_id = id_b
       |  WHERE i::DOUBLE / (za.sz + zb.sz - i) >= $JaccardThreshold)""".stripMargin

  val oracleContainmentPairs: String =
    s"""WITH $candInterCteSql
       |SELECT id_a, id_b,
       |  i::DOUBLE / za.sz AS cont_a,
       |  i::DOUBLE / zb.sz AS cont_b
       |FROM inter
       |JOIN sizes za ON za.doc_id = id_a
       |JOIN sizes zb ON zb.doc_id = id_b
       |WHERE greatest(i::DOUBLE / za.sz, i::DOUBLE / zb.sz) >= $ContainmentThreshold
       |ORDER BY id_a, id_b""".stripMargin

  val oracleLshJaccardPairs: String =
    s"""WITH $pairsCteSql
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** d11 oracle — connected components of the near-dup pair graph via
    * a recursive transitive closure (tiny components, so the closure
    * is cheap), labeled by min doc_id.
    */
  val oracleDedupClusters: String =
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (
       |  SELECT u AS doc_id, min(v) AS canonical_id FROM reach GROUP BY u)
       |SELECT doc_id, canonical_id,
       |       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM labeled
       |ORDER BY doc_id""".stripMargin

  /** d12 oracle — closure-labeled clusters joined to the t02 quality
    * score recomputed on corpus text; keep rank-1 per cluster.
    */
  val oracleCurate: String =
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (
       |  SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
       |q AS (
       |  ${TextStats.qualityScoreSql("corpus")}),
       |ranked AS (
       |  SELECT l.cluster_id, l.doc_id, q.quality,
       |         row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.quality DESC, l.doc_id) AS rn,
       |         count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
       |  FROM labeled l JOIN q USING (doc_id))
       |SELECT cluster_id, doc_id AS kept_doc_id, quality AS kept_quality,
       |       cluster_size, cluster_size - 1 AS n_dropped
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  private def simhashSelectSql(src: String): String = {
    val bitSums = (0 until SimhashBits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n         ")
    val sig = (0 until SimhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""w AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       |  FROM $src),
       |h AS (SELECT doc_id, ${phashSql("word", 99)} AS h FROM w),
       |bits AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM h GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id, $sig AS simhash FROM bits)""".stripMargin
  }

  val oracleSimhash: String =
    s"""WITH ${simhashSelectSql("documents")}
       |SELECT doc_id, simhash FROM sigs
       |ORDER BY doc_id""".stripMargin

  val oracleSimhashPairs: String =
    s"""WITH $corpusSql,
       |${simhashSelectSql("corpus")}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |ORDER BY id_a, id_b""".stripMargin

  // ---- d23: incremental dedup (new batch vs existing corpus) ----------------

  /** Exact-copy id offset for d23's incoming fixture (disjoint from
    * [[TwinIdOffset]]'s near-dup twins).
    */
  val IncCopyIdOffset = 2 * TwinIdOffset

  /** d23's "incoming batch": every existing doc's truncated twin (the
    * near-dup case) plus an EXACT copy of every 5th doc (the exact
    * case) — so all three verdicts (exact / near / new) occur.
    */
  private[graft] def incomingBatch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    d.select(
        (col("doc_id") + lit(TwinIdOffset)).as("doc_id"),
        col("text").substr(lit(1), greatest(length(col("text")) - lit(TwinTruncate), lit(20))).as("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(IncCopyIdOffset)).as("doc_id"), col("text")))
  }

  /** The staged incremental-dedup index — the cc_labels pattern
    * applied to the nightly-ingest shape the d23 doc comment promises:
    * the corpus-side artifacts every incremental run needs are staged
    * and re-read by every subsequent batch, so a nightly run pays
    * batch-sized work only, never a corpus pass.
    *
    * Artifacts:
    *  - `ci_shingles` — (doc_id, hs): each doc's sorted shingle-hash
    *    array, for the exact-Jaccard verify leg;
    *  - `ci_bands` — (doc_id, band, band_hash): the LSH band table the
    *    asymmetric candidate join probes (at 100 TB: a bucketed table
    *    on (band, band_hash), so the probe shuffles only the batch);
    *  - `ci_exact` — (h, dup_of): content hash → smallest holder, the
    *    exact-dup authority for both d23 and d29;
    *  - `ci_bloom` — the serialized Bloom sketch over the corpus'
    *    content keys (~1.7 GB at 1e9 keys / 1 ppm) for d29's map-side
    *    gate.
    */
  private[graft] def corpusIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, org.apache.spark.util.sketch.BloomFilter) = {
    val Seq(pExact, pSh, pBands, pBloom) = corpusIndexPaths(spark, dir)
    val is = new java.io.FileInputStream(new java.io.File(pBloom, BloomFile))
    val bloom =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(is) finally is.close()
    (Tables.parquet(spark, pExact), Tables.parquet(spark, pSh),
      Tables.parquet(spark, pBands), bloom)
  }

  /** The serialized Bloom sketch's file inside the `ci_bloom` index. */
  private val BloomFile = "bloom"

  /** The locations of the staged [[corpusIndex]]: ci_exact,
    * ci_shingles, ci_bands and ci_bloom.
    */
  private[graft] def corpusIndexPaths(spark: SparkSession, dir: String): Seq[String] =
    graft.ops.Staging.indexes(dir, "ci_exact", "ci_shingles", "ci_bands", "ci_bloom") { put =>
      val existing = Tables.documents(spark, dir).select("doc_id", "text")
      // shingle compute (md5 per shingle) is the expensive leg — run
      // it once into cache, feed both the shingle and band writes
      val sh = existing.repartition(col("doc_id"))
        .select(col("doc_id"), sort_array(TextHash.hashedShingles(col("text"), 0)).as("hs"))
        .persist()
      put("ci_shingles", sh)
      put("ci_bands", bandsFrom(sh))
      sh.unpersist()
      // sizing count is parquet-metadata-only; the key scan is 1 pass
      val bloom = existing
        .select(TextHash.phash(col("text"), 0).as("k"))
        .stat.bloomFilter("k", existing.count(), 0.001)
      put.files("ci_bloom") { p =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
        val os = new java.io.FileOutputStream(new java.io.File(p, BloomFile))
        try bloom.writeTo(os) finally os.close()
      }
      put("ci_exact", existing.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("dup_of")))
    }

  /** d23 — INCREMENTAL dedup: classify an incoming batch against an
    * existing corpus without ever comparing incoming docs to each
    * other — the nightly-crawl production shape (the corpus is
    * petabytes and already deduped; only new-vs-existing matters).
    * Verdict per incoming doc: `exact` (same content hash as an
    * existing doc), `near` (shares an LSH band bucket with an existing
    * doc AND verified Jaccard ≥ [[JaccardThreshold]]), else `new`;
    * `dup_of` = the smallest matching existing doc (exact precedence).
    *
    * Scale shape: every corpus-side artifact comes from the staged
    * [[corpusIndex]] — the corpus is shingled/banded/hashed once per
    * era, not per run. The exact leg pre-filters the staged hash table
    * with a BROADCAST of the batch's keys (inner join, corpus streams
    * map-side and never shuffles), then resolves the verdict in a
    * batch-sized left join. The near leg equi-joins the staged band
    * table against the broadcast batch bands, so candidate count
    * scales with the batch; the Jaccard verify touches only candidate
    * corpus docs. Nothing is all-pairs, and no per-run corpus shuffle
    * remains.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val (exactIdx, shIdx, bandIdx, _) = corpusIndex(spark, dir)
    val incoming = incomingBatch(spark, dir).persist()

    val incKeys = incoming.select(col("doc_id"), md5(col("text")).as("h"))
    val exactMatches = exactIdx
      .join(broadcast(incKeys.select("h").distinct()), Seq("h"))
      .withColumnRenamed("dup_of", "exact_of")
    val exactOf = incKeys.join(exactMatches, Seq("h"), "left")
      .select("doc_id", "exact_of")

    val shI = incoming.repartition(col("doc_id"))
      .select(col("doc_id"), sort_array(TextHash.hashedShingles(col("text"), 0)).as("hs"))
      .persist()
    val cand = bandIdx.as("e")
      .join(broadcast(bandsFrom(shI)).as("i"),
        col("i.band") === col("e.band") && col("i.band_hash") === col("e.band_hash"))
      .select(col("i.doc_id").as("inc_id"), col("e.doc_id").as("ex_id"))
      .distinct()
    val nearOf = cand
      .join(shI.select(col("doc_id").as("inc_id"), col("hs").as("hs_i")), Seq("inc_id"))
      .join(shIdx.select(col("doc_id").as("ex_id"), col("hs").as("hs_e")), Seq("ex_id"))
      .select(col("inc_id"), col("ex_id"),
        // both sides sorted (staged ci_shingles + the sorted incoming
        // arrays) — native two-pointer verify
        graft.expr.VectorFunctions.sortedIntersectCount(col("hs_i"), col("hs_e")).as("inter"),
        size(col("hs_i")).as("szi"), size(col("hs_e")).as("sze"))
      .filter(col("inter").cast("double") / (col("szi") + col("sze") - col("inter"))
        >= JaccardThreshold)
      .groupBy(col("inc_id").as("doc_id"))
      .agg(min("ex_id").as("near_of"))

    exactOf.join(nearOf, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact"))
          .when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** d29 — Bloom-gated exact incremental dedup: classify an incoming
    * batch against the corpus WITHOUT joining the corpus per row. d23
    * hash-joins against the staged corpus index — correct, but even a
    * staged corpus table is a big scan, every day, for a batch that is
    * a fraction of a percent of it. The at-scale shape is sideways
    * information passing (the q35 pattern aimed at dedup): the staged
    * [[corpusIndex]] Bloom sketch over the corpus' content keys
    * (~1.7 GB at 1e9 keys / 1 ppm — broadcastable where the corpus
    * never is; built once per corpus era, deserialized per run) is
    * probed map-side by the batch; only might-contain rows (true dups
    * + the fpp sliver) reach the exact-verify stage, where the staged
    * hash table is pre-filtered by a BROADCAST of those probed keys
    * (inner join — the corpus side streams map-side and never
    * shuffles) before a batch-sized left join resolves the verdict.
    * Rows the sketch rejects are DEFINITELY new — a Bloom filter has
    * no false negatives — and never shuffle at all.
    *
    * Result-invariant by construction: false positives die in the
    * exact join (left-join miss → 'new'), so the oracle is the plain
    * content-equality join with the sketch invisible — like q35, the
    * sketch accelerates, never decides.
    */
  def bloomIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.BloomExpressions
    val (exactIdx, _, _, bloom) = corpusIndex(spark, dir)
    val probed = incomingBatch(spark, dir)
      .withColumn("might",
        BloomExpressions.mightContain(bloom, TextHash.phash(col("text"), 0)))
    val probedKeys = probed.filter(col("might"))
      .select(col("doc_id"), md5(col("text")).as("h"))
    val matches = exactIdx.join(broadcast(probedKeys.select("h").distinct()), Seq("h"))
    val verified = probedKeys.join(matches, Seq("h"), "left")
      .select("doc_id", "dup_of")
    val definitelyNew = probed.filter(!col("might"))
      .select(col("doc_id"), lit(null).cast("long").as("dup_of"))
    verified.unionByName(definitelyNew)
      .select(col("doc_id"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("new")).as("status"),
        col("dup_of"))
      .orderBy("doc_id")
  }

  /** Batch-2 id offsets for d30 (disjoint from [[TwinIdOffset]] /
    * [[IncCopyIdOffset]] so the three id spaces never collide).
    */
  val ReCopyIdOffset = 4 * TwinIdOffset
  val ReTwinIdOffset = 5 * TwinIdOffset
  val NovelIdOffset = 6 * TwinIdOffset

  /** d30's generation-1 exact index: batch 1 is classified exact-only
    * against gen-0, and the content hashes it introduces (accepted =
    * unseen in gen-0) are unioned with gen-0 into an immutable new
    * generation. Hash spaces are disjoint by construction of
    * `accepted`, so a plain union is the whole merge. Generations are
    * staged like gen-0: published once, reused by any later process
    * over the same corpus — "maintained, not rebuilt" holds across JVM
    * restarts, not just within one.
    */
  private[graft] def gen1Index(spark: SparkSession, dir: String): DataFrame = {
    val Seq(loc) = graft.ops.Staging.indexes(dir, "ci_exact_gen1") { put =>
      val (exactIdx, _, _, _) = corpusIndex(spark, dir)
      val b1k = incomingBatch(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
      val matches1 = exactIdx.join(broadcast(b1k.select("h").distinct()), Seq("h"))
      val accepted = b1k.join(broadcast(matches1.select("h")), Seq("h"), "left_anti")
        .groupBy("h").agg(min("doc_id").as("dup_of"))
      put("ci_exact_gen1", exactIdx.unionByName(accepted))
    }
    Tables.parquet(spark, loc)
  }

  /** d30 — incremental INDEX MAINTENANCE across ingests: the staged
    * corpus index is not a one-off artifact but a sequence of
    * immutable GENERATIONS, each era appending the previous batch's
    * accepted docs — the claim d23/d29's doc comments make about the
    * nightly pipeline, made executable and oracle-checked.
    *
    * The run: (1) batch 1 ([[incomingBatch]]) is classified exact-only
    * against the generation-0 staged index; (2) its accepted ('new')
    * rows — one (hash, min doc_id) authority per novel content — are
    * UNIONED with gen-0 and written as the generation-1 index (an
    * immutable new era, never an in-place mutation: d23/d29 keep
    * reading gen-0 untouched); (3) batch 2 — exact copies of every
    * 3rd corpus doc under fresh ids PLUS re-offers of batch 1's twin
    * texts under fresh ids — is classified against generation 1.
    *
    * The oracle-visible proof of maintenance: the re-offered twin
    * texts exist NOWHERE in the original corpus (they are the
    * truncated variants), so a stale index would classify them 'new';
    * against gen-1 they resolve to `dup_of` = the batch-1 twin that
    * introduced the content. Both joins use the d29 broadcast
    * pre-filter shape — the index side never shuffles.
    */
  def indexIngest(spark: SparkSession, dir: String): DataFrame = {
    val b1 = incomingBatch(spark, dir)
    val gen1 = gen1Index(spark, dir)

    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val reCopies = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(ReCopyIdOffset)).as("doc_id"), col("text"))
    val reTwins = b1.filter(col("doc_id") < IncCopyIdOffset) // the twin half
      .select((col("doc_id") - lit(TwinIdOffset) + lit(ReTwinIdOffset)).as("doc_id"),
        col("text"))
    // genuinely novel content (id-salted prefix) — the 'new' branch
    val novel = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(NovelIdOffset)).as("doc_id"),
        concat(lit("NOVEL:"), col("doc_id").cast("string"), lit(":"), col("text")).as("text"))
    val b2k = reCopies.unionByName(reTwins).unionByName(novel)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val matches2 = gen1.join(broadcast(b2k.select("h").distinct()), Seq("h"))
    b2k.join(broadcast(matches2), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("new")).as("status"),
        col("dup_of"))
      .orderBy("doc_id")
  }

  val oracleIndexIngest: String =
    s"""WITH inc1 AS (
       |  SELECT doc_id + $TwinIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - $TwinTruncate, 20)) AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IncCopyIdOffset AS doc_id, text
       |  FROM documents WHERE doc_id % 5 = 0),
       |ex0 AS (SELECT md5(text) AS h, min(doc_id) AS dup_of FROM documents GROUP BY 1),
       |acc AS (
       |  SELECT md5(text) AS h, min(doc_id) AS dup_of FROM inc1
       |  WHERE md5(text) NOT IN (SELECT h FROM ex0) GROUP BY 1),
       |ex1 AS (SELECT * FROM ex0 UNION ALL SELECT * FROM acc),
       |inc2 AS (
       |  SELECT doc_id + $ReCopyIdOffset AS doc_id, text
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $ReTwinIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - $TwinTruncate, 20)) AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $NovelIdOffset AS doc_id,
       |         'NOVEL:' || doc_id || ':' || text AS text
       |  FROM documents WHERE doc_id % 7 = 0)
       |SELECT i.doc_id,
       |       CASE WHEN e.dup_of IS NOT NULL THEN 'dup' ELSE 'new' END AS status,
       |       e.dup_of
       |FROM inc2 i LEFT JOIN ex1 e ON md5(i.text) = e.h
       |ORDER BY i.doc_id""".stripMargin

  /** d29 oracle — the sketch is invisible: plain content-equality
    * classification of the same incoming batch.
    */
  val oracleBloomIncrementalDedup: String =
    s"""WITH inc AS (
       |  SELECT doc_id + $TwinIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - $TwinTruncate, 20)) AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IncCopyIdOffset AS doc_id, text
       |  FROM documents WHERE doc_id % 5 = 0),
       |ex AS (
       |  SELECT md5(text) AS h, min(doc_id) AS dup_of
       |  FROM documents GROUP BY 1)
       |SELECT i.doc_id,
       |       CASE WHEN e.dup_of IS NOT NULL THEN 'dup' ELSE 'new' END AS status,
       |       e.dup_of
       |FROM inc i LEFT JOIN ex e ON md5(i.text) = e.h
       |ORDER BY i.doc_id""".stripMargin

  /** Parameterized twins of the fixed-name CTE builders above, for the
    * d23 oracle's two-sided (existing vs incoming) chain.
    */
  private def shinglesCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT DISTINCT doc_id, unnest(${hashedShinglesSql("text", 0)}) AS base
       |  FROM $src)""".stripMargin

  private def minhashCte(name: String, sh: String): String = {
    val mhCols = (0 until MinhashSeeds)
      .map(s => s"min(${mixSql("base", s)}) AS mh$s").mkString(",\n         ")
    s"""$name AS (
       |  SELECT doc_id,
       |         $mhCols
       |  FROM $sh GROUP BY doc_id)""".stripMargin
  }

  private def bandsCte(name: String, mh: String): String = {
    val bandSelects = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${phashSql(cols, 1)} AS band_hash FROM $mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""$name AS (
       |  $bandSelects)""".stripMargin
  }

  val oracleIncrementalDedup: String =
    s"""WITH inc AS (
       |  SELECT doc_id + $TwinIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - $TwinTruncate, 20)) AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IncCopyIdOffset AS doc_id, text
       |  FROM documents WHERE doc_id % 5 = 0),
       |ex AS (
       |  SELECT i.doc_id, min(e.doc_id) AS exact_of
       |  FROM inc i JOIN documents e ON md5(e.text) = md5(i.text)
       |  GROUP BY 1),
       |${shinglesCte("she", "documents")},
       |${shinglesCte("shi", "inc")},
       |${minhashCte("mhe", "she")},
       |${minhashCte("mhi", "shi")},
       |${bandsCte("be", "mhe")},
       |${bandsCte("bi", "mhi")},
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS inc_id, e.doc_id AS ex_id
       |  FROM bi i JOIN be e ON i.band = e.band AND i.band_hash = e.band_hash),
       |sze AS (SELECT doc_id, count(*) AS sz FROM she GROUP BY doc_id),
       |szi AS (SELECT doc_id, count(*) AS sz FROM shi GROUP BY doc_id),
       |inter AS (
       |  SELECT inc_id, ex_id, count(*) AS i
       |  FROM cand
       |  JOIN shi sa ON sa.doc_id = inc_id
       |  JOIN she sb ON sb.doc_id = ex_id AND sa.base = sb.base
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT inc_id AS doc_id, min(ex_id) AS near_of
       |  FROM inter
       |  JOIN szi ON szi.doc_id = inc_id
       |  JOIN sze ON sze.doc_id = ex_id
       |  WHERE i::DOUBLE / (szi.sz + sze.sz - i) >= $JaccardThreshold
       |  GROUP BY 1)
       |SELECT i.doc_id,
       |  CASE WHEN exact_of IS NOT NULL THEN 'exact'
       |       WHEN near_of IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS status,
       |  coalesce(exact_of, near_of) AS dup_of
       |FROM inc i
       |LEFT JOIN ex USING (doc_id)
       |LEFT JOIN near USING (doc_id)
       |ORDER BY i.doc_id""".stripMargin

  // ---- d32: incremental connected components --------------------------------

  /** Gen-2 id offsets for d32 (disjoint from every other id space). */
  val G2CopyIdOffset  = 7 * TwinIdOffset
  val G2ChainIdOffset = 8 * TwinIdOffset
  val G2NovelIdOffset = 9 * TwinIdOffset

  /** d32's incoming slice, one shape per `doc_id % 3` residue so all
    * attach behaviors occur: exact copies (jaccard-1 edge to the
    * source's cluster), deeper truncations (attach through a near-dup
    * CHAIN — similar to both the source and its twin), and md5-salted
    * novel texts (guaranteed new singleton clusters — except where the
    * sources were themselves exact dups, in which case the salted
    * texts collide too and form a batch-only cluster).
    */
  private[graft] def gen2Batch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(G2CopyIdOffset)).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 3 === 1).select(
        (col("doc_id") + lit(G2ChainIdOffset)).as("doc_id"),
        col("text").substr(lit(1),
          greatest(length(col("text")) - lit(2 * TwinTruncate), lit(20))).as("text")))
      .unionByName(d.filter(col("doc_id") % 3 === 2).select(
        (col("doc_id") + lit(G2NovelIdOffset)).as("doc_id"),
        repeat(md5(col("text")), 4).as("text")))
  }

  /** Staged union-corpus shingle + band index — the ci_* pattern
    * applied to the [[corpus]] relation: the corpus is shingled and
    * banded once and shared by every consumer of the near-dup graph
    * (d02 bands, d03/d25 candidate scoring, the d11 labels build,
    * d32's incremental batch probe); the md5 shingle loop — the
    * expensive leg — never runs twice.
    */
  private[graft] def ccIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(pSh, pBands) = ccIndexPaths(spark, dir)
    (Tables.parquet(spark, pSh), Tables.parquet(spark, pBands))
  }

  /** The locations of the staged [[ccIndex]]: cc_sh and cc_bands. */
  private[graft] def ccIndexPaths(spark: SparkSession, dir: String): Seq[String] =
    graft.ops.Staging.indexes(dir, "cc_sh", "cc_bands") { put =>
      val sh = docShingles(spark, dir).persist()
      put("cc_bands", bandsFrom(sh))
      // stage the hash arrays SORTED: every downstream exact verify
      // (d03/d25/d32/d37/s13) then runs the native two-pointer
      // [[graft.expr.SortedIntersectCount]] with zero per-row sort —
      // the one O(n log n) pass is paid once per corpus era here.
      // No consumer is order-sensitive (minhash/array_intersect/
      // explode are all set-shaped; asserted by the d02 band oracle).
      put("cc_sh", sh.select(col("doc_id"), sort_array(col("hs")).as("hs")))
      sh.unpersist()
    }

  /** Incremental connected components — fold NEW vertices + edges into
    * an existing CONVERGED labeling without touching the existing
    * graph's edges. Because a converged label IS the minimum vertex id
    * of its component, every edge endpoint with a prior label can be
    * CONTRACTED to that label; [[connectedComponents]] then runs on
    * the contracted graph — sized by the batch, not the corpus — and
    * the resulting relabel map (only labels that actually changed)
    * broadcasts back over the prior labeling in one map-side join.
    * Components that merge through a batch path collapse to the
    * smallest involved label: exactly the from-scratch answer, at
    * batch cost. The corpus-side work is two scans: a broadcast
    * semi-join picking the touched vertices, and the broadcast
    * relabel — neither shuffles the prior relation.
    *
    * Inputs: `prior` (vertex, label) converged; `newVertices` one
    * column; `edges` (u, v) where every endpoint is a prior vertex or
    * a new vertex. Output: (vertex, label) covering prior ∪ new.
    */
  def incrementalComponents(
      prior: DataFrame, newVertices: DataFrame, edges: DataFrame): DataFrame = {
    val p = prior.toDF("vertex", "label")
    val e = edges.toDF("u", "v").persist()
    val endpoints = e.select(col("u").as("vertex"))
      .unionByName(e.select(col("v").as("vertex"))).distinct()
    // one materialization of the touched-label set (batch-scale);
    // both contraction sides then broadcast the checkpointed rows
    // instead of re-running the semi-join per broadcast exchange
    val touched = p.join(broadcast(endpoints), Seq("vertex"), "leftsemi")
      .localCheckpoint()
    val lu = broadcast(touched).select(col("vertex").as("u"), col("label").as("lu"))
    val lv = broadcast(touched).select(col("vertex").as("v"), col("label").as("lv"))
    val contracted = e.join(lu, Seq("u"), "left").join(lv, Seq("v"), "left")
      .select(coalesce(col("lu"), col("u")).as("cu"), coalesce(col("lv"), col("v")).as("cv"))
      .filter(col("cu") =!= col("cv"))
    val cc = connectedComponents(contracted) // already lineage-truncated
    val relabel = cc.filter(col("vertex") =!= col("component"))
    val priorOut = p
      .join(broadcast(relabel.withColumnRenamed("vertex", "label")), Seq("label"), "left")
      .select(col("vertex"), coalesce(col("component"), col("label")).as("label"))
    val newOut = newVertices.toDF("vertex")
      .join(broadcast(relabel), Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("component"), col("vertex")).as("label"))
    priorOut.unionByName(newOut)
  }

  /** d32 — incremental near-dup cluster maintenance: the staged
    * [[clusterLabels]] corpus labeling absorbs a new batch
    * ([[gen2Batch]]) at BATCH cost. Batch↔corpus candidate edges come
    * from probing the staged [[ccIndex]] band table with a broadcast
    * of the batch's bands; batch↔batch edges from a band self-join
    * within the batch; both verified by exact Jaccard against the
    * staged shingle arrays; [[incrementalComponents]] folds them in.
    * The oracle recomputes components from scratch over the union
    * graph — incremental must equal batch-oblivious.
    */
  def incrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val prior = clusterLabels(spark, dir)
    val (ccSh, ccBands) = ccIndex(spark, dir)
    val batch = gen2Batch(spark, dir)
    val bSh = batch.repartition(col("doc_id"))
      // sorted like the staged corpus arrays → batchEdges' verify runs
      // the native sorted-intersect on both legs
      .select(col("doc_id"), sort_array(TextHash.hashedShingles(col("text"), 0)).as("hs"))
      .localCheckpoint() // feeds bands + two verify legs; truncates the md5 lineage
    val edges = batchEdges(bSh, bandsOf(bSh), ccSh, ccBands)
    incrementalComponents(prior, batch.select("doc_id"), edges)
      .select(col("vertex").as("doc_id"), col("label"),
        when(col("vertex") >= G2CopyIdOffset, lit("batch"))
          .otherwise(lit("corpus")).as("src"))
      .orderBy("doc_id")
  }

  /** Public band generator over a (doc_id, hs) shingle relation —
    * the s13 streaming fold builds per-batch bands outside this
    * object.
    */
  def bandsOf(sh: DataFrame): DataFrame = bandsFrom(sh)

  /** One-table batch appendix for the s13 stream: shingle array AND
    * the 4 band structs per doc in a single row, so a fold appends ONE
    * parquet write and later batches explode the bands back out.
    */
  def bandedShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("hs"),
      bandStructs(graft.expr.HashFunctions.minHash56(
        col("hs"), TextHash.minhashKeys(MinhashSeeds))).as("bands"))

  def explodeBands(banded: DataFrame): DataFrame =
    banded.select(col("doc_id"), explode(col("bands")).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))

  /** The near-dup edge set between a batch and an existing indexed
    * side: band-bucket candidates (batch↔existing via a broadcast of
    * the batch bands against the existing band table; batch↔batch via
    * a band self-join), verified by exact Jaccard on the shingle
    * arrays. The batch shingle side broadcasts (batch-sized, MBs).
    * The existing-side shingle leg is SEMI-PRUNED to the candidate doc
    * ids (a broadcast of the batch-sized id set) BEFORE any join — the
    * corpus's heavy array rows never shuffle; only candidate-touched
    * rows move. This is the 100 TB-load-bearing line: the prior shape
    * shuffled the ENTIRE existing shingle relation per micro-batch
    * (measured ~2 s/fold at sf0.1; a petabyte-scale non-starter).
    * The batch↔batch verify never shuffles. Shared by d32 and the s13
    * streaming fold.
    */
  private[graft] def batchEdges(bSh: DataFrame, bBands: DataFrame,
      exSh: DataFrame, exBands: DataFrame): DataFrame = {
    // bc is read twice (semi-prune id set + verify join) and is NOT
    // checkpointed on purpose: the probe is one broadcast map-side
    // pass over the band index, and re-running it is measurably
    // cheaper than materializing it (a localCheckpoint here cost
    // +1.5 s/fold at sf0.1 — storage write + extra job beat a cheap
    // recompute)
    val bc = exBands.as("e").join(broadcast(bBands).as("i"),
        col("i.band") === col("e.band") && col("i.band_hash") === col("e.band_hash"))
      .select(col("i.doc_id").as("id_a"), col("e.doc_id").as("id_b")).distinct()
    val bb = bBands.as("a").join(bBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    def verified(cand: DataFrame, shB: DataFrame, broadcastB: Boolean): DataFrame = {
      val right0 = shB.select(col("doc_id").as("id_b"), col("hs").as("hb"))
      val right =
        if (broadcastB) broadcast(right0)
        // semi-prune to candidate ids (map-side, corpus arrays never
        // shuffle), then broadcast the batch-sized survivor set so the
        // verify join is shuffle-free end to end
        else broadcast(
          right0.join(broadcast(cand.select("id_b").distinct()), Seq("id_b"), "left_semi"))
      cand.join(broadcast(bSh.select(col("doc_id").as("id_a"), col("hs").as("ha"))), Seq("id_a"))
        .join(right, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          // all shingle relations entering here are SORTED (staged
          // cc_sh, sorted batch arrays, sorted appendices) — native
          // two-pointer verify, same contract as d03/d37
          graft.expr.VectorFunctions.sortedIntersectCount(col("ha"), col("hb")).as("i"),
          size(col("ha")).as("sa"), size(col("hb")).as("sb"))
        .filter(col("i").cast("double") / (col("sa") + col("sb") - col("i"))
          >= JaccardThreshold)
        .select("id_a", "id_b")
    }
    verified(bc, exSh, broadcastB = false)
      .unionByName(verified(bb, bSh, broadcastB = true))
  }

  // ---- d34: LSH parameter sensitivity report --------------------------------

  /** (bands × rows-per-band) splits of the 16 minhashes to sweep —
    * rows ≥ 4 keeps candidate mass sane (r = 2 on a random corpus
    * admits ~2% of ALL pairs as candidates; no production config runs
    * there, and neither does this report).
    */
  val LshConfigs: Seq[(Int, Int)] = Seq((1, 16), (2, 8), (4, 4))

  private def bandStructsCfg(mh: Column, b: Int, r: Int): Column = {
    val bandCols = (0 until b).map { band =>
      val cols = (0 until r).map(i => element_at(mh, band * r + i + 1))
      struct(lit(band).as("band"), phash(concat_ws(",", cols: _*), 1).as("band_hash"))
    }
    array(bandCols: _*)
  }

  /** All three [[LshConfigs]] bandings of one minhash array in a
    * single exploded relation — (cfg, band, band_hash) structs, 7 rows
    * per doc — so the sweep's candidate generation is ONE band
    * self-join keyed by (cfg, band, band_hash) instead of one join per
    * config.
    */
  private def allCfgBandStructs(mh: Column): Column =
    concat(LshConfigs.map { case (b, r) =>
      transform(bandStructsCfg(mh, b, r),
        s => struct(lit(b).as("cfg"), s.getField("band").as("band"),
          s.getField("band_hash").as("band_hash")))
    }: _*)

  /** d34 — LSH banding sensitivity: for each (bands × rows) split of
    * the same 16 minhashes, the candidate-pair count and the count
    * surviving exact-Jaccard verification — the precision/recall-cost
    * report an engineer runs BEFORE committing banding parameters for
    * a corpus (more bands = more recall = more candidate mass to
    * verify; the verified counts show what each step of recall costs).
    *
    * Scale shape: one staged shingle read, ONE minhash pass shared by
    * every config (checkpointed), then per config a band equi-self-join
    * and a candidate-keyed verify — the d03 layout swept; nothing is
    * all-pairs at any config, and the report rows are aggregates, so
    * output is O(configs).
    */
  def lshTuningReport(spark: SparkSession, dir: String): DataFrame = {
    // Family contraction (the d05/d35/d37 pattern, applied to COUNTS):
    // members of an exact-content family share every minhash, every
    // band key, and every Jaccard score, so (a) each within-family
    // member pair is a candidate under EVERY config and verifies at
    // Jaccard 1 — a config-invariant C(f,2) closed form — and (b) each
    // cross-family rep-level candidate/verified pair stands for
    // f_a·f_b member pairs. The report's member-level counts are
    // recovered exactly while the band self-join runs on
    // representatives only — candidate mass stops scaling with the
    // corpus copy factor (the 100×/16× fixture's f² blow-up: 57 s →
    // rep-level work).
    val sizes = contentFamilies(spark, dir).groupBy("rep")
      .agg(count(lit(1)).as("f")).localCheckpoint()
    val within = sizes.agg(
      coalesce(sum(expr("f * (f - 1) div 2")), lit(0L))).head().getLong(0)
    val (sh, _) = ccIndex(spark, dir)
    val mhDf = sh.join(sizes.withColumnRenamed("rep", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("f"), col("hs"),
        graft.expr.HashFunctions.minHash56(col("hs"), TextHash.minhashKeys(MinhashSeeds)).as("mh"))
      .localCheckpoint() // one rep-level minhash pass feeds every config
    // ONE band self-join for all three configs — (cfg, band, band_hash)
    // keys the bucket — then candidates dedup to the PAIR level so the
    // exact-Jaccard verify runs once per distinct rep pair, not once
    // per (config, pair): cand(1,16) ⊆ cand(2,8) ⊆ cand(4,4), so the
    // per-config loop re-verified most pairs up to 3×.
    val bands = mhDf.select(col("doc_id"),
        explode(allCfgBandStructs(col("mh"))).as("bb"))
      .select(col("doc_id"), col("bb.cfg").as("cfg"),
        col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.cfg") === col("b.cfg") &&
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cfg").as("cfg"), col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint() // feeds the pair dedup AND the per-cfg rollup
    val verdicts = cand.select("id_a", "id_b").distinct()
      .join(mhDf.select(col("doc_id").as("id_a"), col("f").as("fa"), col("hs").as("ha")), Seq("id_a"))
      .join(mhDf.select(col("doc_id").as("id_b"), col("f").as("fb"), col("hs").as("hb")), Seq("id_b"))
      // ci_shingles arrays are staged sorted → the native two-pointer
      // count, no per-row hash set or materialized intersection
      .select(col("id_a"), col("id_b"), (col("fa") * col("fb")).as("w"),
        graft.expr.VectorFunctions.sortedIntersectCount(col("ha"), col("hb")).as("i"),
        size(col("ha")).as("sa"), size(col("hb")).as("sb"))
      .select(col("id_a"), col("id_b"), col("w"),
        (col("i").cast("double") / (col("sa") + col("sb") - col("i"))
          >= JaccardThreshold).as("ok"))
      .localCheckpoint() // verify once; both rollup columns read it
    val perCfg = cand.join(verdicts, Seq("id_a", "id_b"))
      .groupBy("cfg")
      .agg(sum("w").as("cross_cand"),
        sum(when(col("ok"), col("w")).otherwise(0L)).as("cross_ver"))
    // unconditional 3-row config spine: a config with zero cross-family
    // candidates still reports (within-family mass is config-invariant)
    import spark.implicits._
    LshConfigs.toDF("bands", "rows_per_band")
      .join(perCfg.withColumnRenamed("cfg", "bands"), Seq("bands"), "left")
      .select(col("bands"), col("rows_per_band"),
        (coalesce(col("cross_cand"), lit(0L)) + lit(within)).as("n_candidates"),
        (coalesce(col("cross_ver"), lit(0L)) + lit(within)).as("n_verified"))
      .orderBy("bands")
  }

  /** d34 oracle — the three bandings replayed from the same minhash
    * CTE, candidate and verified counts per config.
    */
  val oracleLshTuning: String = {
    val perCfg = LshConfigs.map { case (b, r) =>
      val bandSelects = (0 until b).map { band =>
        val cols = (0 until r).map(i => s"mh${band * r + i}").mkString(" || ',' || ")
        s"SELECT doc_id, $band AS band, ${phashSql(cols, 1)} AS band_hash FROM mh"
      }.mkString("\n  UNION ALL\n  ")
      s"""bands_${b}_$r AS (
         |  $bandSelects),
         |cand_${b}_$r AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands_${b}_$r a JOIN bands_${b}_$r b
         |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |ver_${b}_$r AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT x.id_a, x.id_b, x.i
         |    FROM (
         |      SELECT id_a, id_b, count(*) AS i
         |      FROM cand_${b}_$r
         |      JOIN sh sa ON sa.doc_id = id_a
         |      JOIN sh sb ON sb.doc_id = id_b AND sa.base = sb.base
         |      GROUP BY 1, 2) x
         |    JOIN sizes za ON za.doc_id = x.id_a
         |    JOIN sizes zb ON zb.doc_id = x.id_b
         |    WHERE x.i::DOUBLE / (za.sz + zb.sz - x.i) >= $JaccardThreshold) v)""".stripMargin
    }.mkString(",\n")
    val selects = LshConfigs.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
         |  (SELECT n FROM ver_${b}_$r) AS n_verified""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $corpusSql,
       |$corpusShinglesSql,
       |$minhashSql,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |$perCfg
       |$selects
       |ORDER BY bands""".stripMargin
  }

  /** d32 oracle — batch-oblivious from-scratch components over the
    * union graph (corpus ∪ gen-2 batch), same shingle/band/Jaccard
    * chain, recursive closure labeled by min.
    */
  val oracleIncrementalCc: String =
    s"""WITH RECURSIVE ucorpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $TwinIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - $TwinTruncate, 20)) AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $G2CopyIdOffset AS doc_id, text
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $G2ChainIdOffset AS doc_id,
       |         substr(text, 1, greatest(length(text) - ${2 * TwinTruncate}, 20)) AS text
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + $G2NovelIdOffset AS doc_id, repeat(md5(text), 4) AS text
       |  FROM documents WHERE doc_id % 3 = 2),
       |${shinglesCte("ush", "ucorpus")},
       |${minhashCte("umh", "ush")},
       |${bandsCte("ub", "umh")},
       |ucand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ub a JOIN ub b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |usz AS (SELECT doc_id, count(*) AS sz FROM ush GROUP BY doc_id),
       |uin AS (
       |  SELECT id_a, id_b, count(*) AS i
       |  FROM ucand
       |  JOIN ush sa ON sa.doc_id = id_a
       |  JOIN ush sb ON sb.doc_id = id_b AND sa.base = sb.base
       |  GROUP BY 1, 2),
       |upairs AS (
       |  SELECT id_a, id_b
       |  FROM uin
       |  JOIN usz za ON za.doc_id = id_a
       |  JOIN usz zb ON zb.doc_id = id_b
       |  WHERE i::DOUBLE / (za.sz + zb.sz - i) >= $JaccardThreshold),
       |uedges AS (
       |  SELECT id_a AS u, id_b AS v FROM upairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM upairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM ucorpus
       |  UNION
       |  SELECT e.u, r.v FROM uedges e JOIN reach r ON e.v = r.u),
       |labeled AS (SELECT u AS doc_id, min(v) AS label FROM reach GROUP BY u)
       |SELECT doc_id, label,
       |       CASE WHEN doc_id >= $G2CopyIdOffset THEN 'batch' ELSE 'corpus' END AS src
       |FROM labeled
       |ORDER BY doc_id""".stripMargin

  // ---- d35: edit-distance-verified near-dup (record-linkage shape) ---------

  /** Max accepted edit distance for d35. Sized above [[TwinTruncate]]
    * so the deterministic twins (pure 50-char suffix deletions)
    * verify; the length-difference gate and the banded Levenshtein
    * both key off it.
    */
  val EditMax = 60

  /** d35 — edit-distance-verified near-dup pairs: the classic record-
    * linkage/fuzzy-match shape (blocking + pairwise verify), with LSH
    * bands as the blocking key. Character-level Levenshtein catches
    * what shingle-set Jaccard is blind to: REORDERING-free local edits
    * (typos, truncations, small insertions) score high here even when
    * an 8-gram shingle near the edit site churns.
    *
    * Scale shape, outside-in: (1) candidates come from the SAME staged
    * band equi-join as d03 — no all-pairs, candidate count scales with
    * collision mass, not n²; (2) the length-difference gate
    * `|len_a − len_b| ≤ [[EditMax]]` — a provable lower bound on edit
    * distance — drops hopeless pairs before any text moves; (3) the
    * verify is Spark's THRESHOLD Levenshtein (`levenshtein(a, b, k)`,
    * the Ukkonen band): O(len·k) per pair instead of O(len²), and it
    * early-outs to −1 the moment the band exceeds k. Texts join to
    * candidates by doc_id (one text-move per doc, same layout as the
    * shingle-array verify). `edit_sim = 1 − dist/max(len)` is a ratio
    * of identical ints in both engines → exact double parity.
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    // contract exact-content families before the O(len·k) DP verify
    // (see [[contentFamilies]]): identical texts have identical band
    // signatures and pairwise distances, so rep-level verify + member
    // fan-out is result-exact, and the DP mass stops scaling with the
    // corpus's duplication factor
    val fams = contentFamilies(spark, dir).persist()
    // eager checkpoint before expansion + sort: rangepartitioning
    // samples its child, and an unpersisted child re-runs the band
    // join + Levenshtein verify twice (the d37 lesson; ~2× wall)
    val repPairs = editDistanceRepPairs(spark, dir, fams).localCheckpoint()
    // members inherit the rep pair's distance verbatim (identical
    // texts); within a family the distance is exactly 0
    val out = expandFamilies(repPairs, fams,
      Seq("dist", "edit_sim"), Seq(lit(0).cast("int"), lit(1.0)))
      .localCheckpoint() // eager — after this the family cache is dead weight
    fams.unpersist()
    out.orderBy("id_a", "id_b")
  }

  /** d35's representative-level verify leg, pre-checkpoint — exposed
    * so PlanSpec can pin its physical shape (the explicit pre-DP
    * repartition).
    */
  private[graft] def editDistanceRepPairs(
      spark: SparkSession, dir: String, fams: DataFrame): DataFrame = {
    val (_, bands) = ccIndex(spark, dir)
    val repIds = fams.where(col("doc_id") === col("rep")).select("doc_id")
    val repBands = bands.join(repIds, Seq("doc_id"), "left_semi")
    val cand = repBands.as("a")
      .join(repBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val txt = corpus(spark, dir)
    val gated = cand
      .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
      .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
      .withColumn("la", length(col("ta")))
      .withColumn("lb", length(col("tb")))
      .filter(abs(col("la") - col("lb")) <= EditMax)
    // re-spread IMMEDIATELY before the O(len·k) DP verify: the planner
    // broadcasts the tiny candidate set and streams the single-file
    // corpus scan, leaving the gated pairs in ~1 partition — which
    // serializes ~10⁹ Levenshtein cells onto one core (row count and
    // byte size are terrible proxies for this stage's compute mass;
    // measured 1.2 ms/pair, 6.4 s single-core → sub-second at width 32)
    val verified = gated
      .repartition(gated.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      // threshold EditMax+1 so a distance of exactly EditMax is
      // computed (not −1), then filter to the committed bound
      .withColumn("dist", levenshtein(col("ta"), col("tb"), EditMax + 1))
      .filter(col("dist").between(0, EditMax))
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"),
        (lit(1.0) - col("dist").cast("double") /
          greatest(col("la"), col("lb")).cast("double")).as("edit_sim"))
    verified
  }

  // ---- exact-content contraction (shared by d35/d37) -----------------------

  /** `(doc_id, ck, rep)` for every corpus doc: `ck` = content hash,
    * `rep` = the family's min doc_id. Exact duplicates have IDENTICAL
    * shingle sets, band signatures and texts, so any pairwise
    * similarity between members equals the similarity between their
    * representatives — which makes contract-then-expand RESULT-EXACT
    * for d35/d37: run the expensive pairwise machinery on unique
    * content only, then fan results out by family membership. This is
    * the load-bearing 100 TB design, not an optimization: on a corpus
    * with duplication factor f, candidate and verify mass would
    * otherwise grow f² (measured: the 32×/8× stress fixture — 8 exact
    * copies per doc — pushed d37's member-level verify past 79 GB of
    * shuffle spill; the contracted plan's pairwise stage is
    * copy-factor-INVARIANT and only the output expansion scales with
    * f², because that's the answer's own size).
    */
  private[graft] def contentFamilies(spark: SparkSession, dir: String): DataFrame =
    // staged like the shingle/band tables — family membership is a
    // corpus-index artifact
    Tables.parquet(spark, graft.ops.Staging.index(dir, "ap_families") {
      val fam = corpus(spark, dir).select(col("doc_id"), md5(col("text")).as("ck"))
      val reps = fam.groupBy("ck").agg(min("doc_id").as("rep"))
      fam.join(reps, Seq("ck"))
    })

  /** Family-contracted near-dup graph for the d36/d38/d39 graph trio
    * — the [[contentFamilies]] contraction applied UPSTREAM of graph
    * analytics, not just the pairwise verifies. Returns:
    *  - `verts` (id, f): one row per exact-content family that appears
    *    in the member-level d03 pair graph (family size ≥ 2 — the
    *    within-family clique alone puts every member in the graph — or
    *    ≥ 1 cross-family rep edge), `f` = family size;
    *  - `edges` (id_a, id_b): verified-jaccard pairs between family
    *    REPRESENTATIVES (same band join + sorted-intersect verify as
    *    d03, restricted to reps);
    *  - `members` (doc_id, rep): family membership for fanning results
    *    back out.
    *
    * Why this is result-EXACT: members of a family have identical
    * texts ⇒ identical band signatures and shingle sets, so the
    * member-level pair graph is precisely the BLOW-UP of the rep graph
    * (each family a clique, each rep edge a complete bipartite
    * bundle). Degrees, PageRank (by automorphism symmetry of the
    * integer recurrence), triangle counts and k-core peeling all admit
    * closed forms over (rep graph, family sizes) — see
    * [[graft.llm.Graph]]. Why it matters at 100 TB: on a corpus with
    * duplication factor f the member edge mass grows f², and the graph
    * trio was the only superlinear stress row before this (93–135 s at
    * 100×/16×); the rep graph is copy-factor-INVARIANT.
    */
  private[graft] def contractedPairGraph(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val fams = contentFamilies(spark, dir)
    val edges = repGraph(spark, dir).select("id_a", "id_b")
    val famSizes = fams.groupBy("rep").agg(count(lit(1)).as("f"))
    val eIds = edges.select(col("id_a").as("rep"))
      .unionByName(edges.select(col("id_b").as("rep"))).distinct()
    val verts = famSizes
      .join(eIds.withColumn("e", lit(1)), Seq("rep"), "left")
      .where(col("f") >= 2 || col("e").isNotNull)
      .select(col("rep").as("id"), col("f"))
    (verts, edges, fams.select("doc_id", "rep"))
  }

  /** The staged rep edge set `(id_a, id_b, jaccard)` behind
    * [[contractedPairGraph]]; jaccard is retained for d51's threshold
    * sweep.
    */
  private[graft] def repGraph(spark: SparkSession, dir: String): DataFrame = {
    val Seq(loc) = graft.ops.Staging.indexes(dir, "rep_graph") { put =>
      // derived from the SHARED staged rep-level verify (one band join
      // + sorted-intersect pass per era serves d03/d25/this graph)
      val rs = repScored(spark, dir)
      put("rep_graph",
        rs.select(col("id_a"), col("id_b"),
            (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))
          .filter(col("jaccard") >= JaccardThreshold))
    }
    Tables.parquet(spark, loc)
  }

  /** Fan a representative-level scored pair relation out to member
    * level: cross-family pairs inherit the representative pair's
    * score columns verbatim (identical texts ⇒ identical scores);
    * within-family pairs get `selfScore`. Emits canonical
    * `id_a < id_b` ordering.
    */
  private def expandFamilies(
      repPairs: DataFrame, members: DataFrame,
      scoreCols: Seq[String], selfScore: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val m = members.select(col("doc_id"), col("ck"), col("rep"))
    val cross = repPairs
      .join(m.select(col("rep").as("id_a"), col("doc_id").as("a2")), Seq("id_a"))
      .join(m.select(col("rep").as("id_b"), col("doc_id").as("b2")), Seq("id_b"))
      .select(Seq(
        least(col("a2"), col("b2")).as("id_a"),
        greatest(col("a2"), col("b2")).as("id_b")) ++ scoreCols.map(col): _*)
    val within = m.as("x")
      .join(m.as("y"), col("x.ck") === col("y.ck") && col("x.doc_id") < col("y.doc_id"))
      .select(Seq(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b")) ++
        scoreCols.zip(selfScore).map { case (n, c) => c.as(n) }: _*)
    cross.unionByName(within)
  }

  // ---- d37: EXACT similarity self-join via prefix filtering (PPJoin) -------

  /** d37's Jaccard threshold t = 4/5 — the audit-grade near-exact
    * regime. The choice is LOAD-BEARING for the algorithm, not just
    * the semantics: prefix filtering prunes with the prefix fraction
    * `1 − t` of each doc, so its candidate mass scales ~(1−t)²·f(df
    * distribution). Measured on this corpus at sf0.1: t = 1/2 gives a
    * 31.5 M-pair candidate set (prefix = half of every doc — the
    * filter can't prune), t = 4/5 with the positional filter gives
    * 656 k. Below ~0.7, banding LSH (d02/d03) is the right tool and
    * exactness costs quadratic work in ANY engine.
    */
  val AllPairsThreshold = 0.8

  /** d37 — exact Jaccard similarity self-join via PREFIX FILTERING
    * (the AllPairs/PPJoin family — Bayardo et al. WWW'07, public
    * method): every pair with Jaccard ≥ [[AllPairsThreshold]], with
    * recall 1 BY CONSTRUCTION — the candidate filter is lossless,
    * unlike MinHash banding (d03), whose recall is probabilistic. The
    * two legs answer different questions at 100 TB: d03 when a small
    * miss rate is acceptable and the corpus is huge; d37 when the
    * guarantee matters (legal/contamination audits).
    *
    * Why it scales: a pair with Jaccard ≥ t must share a token inside
    * each side's PREFIX — the first `|d| − ⌈t·|d|⌉ + 1` tokens in
    * GLOBAL ascending document-frequency order (rarest first). Only
    * prefix tokens generate join rows; the hot boilerplate tokens
    * every doc shares live in the suffixes and never join. Two
    * lossless gates ride the join before any array moves: the size
    * gate `4·|a| ≤ 5·|b| ∧ 4·|b| ≤ 5·|a|` and the PPJoin POSITIONAL
    * gate `min(|a|−rnkₐ, |b|−rnk_b) + 1 ≥ ⌈4(|a|+|b|)/9⌉` (a match
    * this deep into both prefixes can't leave enough suffix for the
    * required overlap `t/(1+t)·(|a|+|b|)`) — measured together they
    * cut sf0.1 candidates 4.85 M → 656 k (all integer arithmetic, so
    * the filter is exactly replayable). Stages: one explode +
    * two-level df agg, one row_number window per doc (spillable
    * sort), one equi-join on prefix tokens, then the same
    * one-array-move-per-doc exact verify as d03.
    *
    * The ORACLE is deliberately independent of the algorithm: a
    * brute-force inverted-index join (every co-shingle pair counted,
    * no prefix logic) — feasible at fixture scale precisely because it
    * is the quadratic shape the prefix filter exists to avoid. Equal
    * output = proof the filters dropped nothing.
    */
  /** d37's staged prefix index: `(doc_id, sz, h, rnk)` for each doc's
    * prefix tokens, rnk = position in global ascending-df order —
    * corpus-index work (one df agg + one per-doc rank window), staged
    * like the shingle/band tables it derives from ([[ccIndex]]): at
    * 100 TB this is a maintained artifact of the corpus, not per-query
    * work.
    */
  private[graft] def prefixIndex(spark: SparkSession, dir: String): DataFrame = {
    val Seq(loc) = graft.ops.Staging.indexes(dir, "ap_prefix") { put =>
      val (docs, _) = ccIndex(spark, dir)
      val sized = docs.select(col("doc_id"), col("hs"), size(col("hs")).as("sz"))
      val tok = sized.select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
      val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("df", "h")
      put("ap_prefix",
        tok.join(dfreq, Seq("h"))
          .withColumn("rnk", row_number().over(w))
          // prefix length |d| − ⌈4|d|/5⌉ + 1, integer-exact at t = 4/5
          .where(col("rnk") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
          .select(col("doc_id"), col("sz"), col("h"), col("rnk")))
    }
    Tables.parquet(spark, loc)
  }

  def allPairsJoin(spark: SparkSession, dir: String): DataFrame = {
    // contract exact-content families: the pairwise stages below see
    // one REPRESENTATIVE per distinct text (see [[contentFamilies]] —
    // result-exact, copy-factor-invariant); members fan back in at the
    // end at output-mass cost only
    val fams = contentFamilies(spark, dir).persist()
    // eager checkpoint before expansion + sort: Exchange
    // rangepartitioning SAMPLES its child to pick bounds, and an
    // unpersisted child means the entire join+verify chain executes
    // TWICE (measured ~2× wall); the surviving rep-pair set is
    // output-sized, so the checkpoint is free
    val repPairs = allPairsRepPairs(spark, dir, fams).localCheckpoint()
    // fan out to members: cross-family pairs inherit the rep pair's
    // jaccard bit-for-bit (identical shingle sets); within-family
    // pairs are exact duplicates — jaccard exactly 1.0
    val out = expandFamilies(repPairs, fams,
      Seq("jaccard"), Seq(lit(1.0)))
      .localCheckpoint() // eager — after this the family cache is dead weight
    fams.unpersist()
    out.orderBy("id_a", "id_b")
  }

  /** d37's representative-level candidate+verify leg, pre-checkpoint —
    * exposed so PlanSpec can pin its physical shape (native
    * sorted-intersect verify, no array_intersect).
    */
  private[graft] def allPairsRepPairs(
      spark: SparkSession, dir: String, fams: DataFrame): DataFrame = {
    val (docs, _) = ccIndex(spark, dir)
    val repIds = fams.where(col("doc_id") === col("rep")).select("doc_id")
    val sized = docs.select(col("doc_id"), col("hs"), size(col("hs")).as("sz"))
      .join(repIds, Seq("doc_id"), "left_semi")
    val prefix = prefixIndex(spark, dir)
      .join(repIds, Seq("doc_id"), "left_semi")
    // Candidate stream → COUNTING agg with the POSITIONAL-MAX bound
    // (all integer): within a doc, rnk is monotone in the global
    // token order, so every shared token outside the m prefix-prefix
    // matches must sort AFTER the last matched token in BOTH docs —
    // o ≤ m + min(sza − pa, szb − pb) with (pa, pb) the max matched
    // ranks. A true pair needs o ≥ ⌈4(sza+szb)/9⌉, so the filter is
    // lossless; measured it cuts the verify load about in half on top
    // of the per-row positional gate, and the agg's map-side partials
    // collapse the 10M+-row join stream before it shuffles.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") * 5 >= col("a.sz") * 4 && col("a.sz") * 5 >= col("b.sz") * 4 &&
          (least(col("a.sz") - col("a.rnk"), col("b.sz") - col("b.rnk")) + 1) >=
            // Column `/` is double division: the real-valued bound
            // 4S/9 ≤ ⌈4S/9⌉, so the gate only ever ADMITS extra
            // candidates — lossless by construction
            (col("a.sz") + col("b.sz")) * 4 / 9)
      .groupBy(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("sza0"), col("b.sz").as("szb0"))
      .agg(count(lit(1)).as("m"), max(col("a.rnk")).as("pa"), max(col("b.rnk")).as("pb"))
      .where(col("m") + least(col("sza0") - col("pa"), col("szb0") - col("pb")) >=
        expr("(4 * (sza0 + szb0) + 8) div 9"))
      .select("id_a", "id_b")
    // verify on the staged SORTED arrays (see [[ccIndex]]) with the
    // native two-pointer count ([[graft.expr.SortedIntersectCount]]):
    // no per-row hash set, no materialized intersection array — the
    // per-pair cost is a fused merge loop inside whole-stage codegen
    val sortedArr = sized.select(col("doc_id"), col("hs"))
    val verified = cand
      .join(sortedArr.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sortedArr.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expr.VectorFunctions.sortedIntersectCount(col("hs_a"), col("hs_b")).as("inter"),
        size(col("hs_a")).as("sza"), size(col("hs_b")).as("szb"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= AllPairsThreshold)
    verified
  }

  val oracleAllPairsJoin: String =
    s"""WITH $corpusSql,
       |$corpusShinglesSql,
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS i
       |  FROM sh sa JOIN sh sb ON sa.base = sb.base AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, i::DOUBLE / (za.sz + zb.sz - i) AS jaccard
       |FROM inter
       |JOIN sizes za ON za.doc_id = id_a
       |JOIN sizes zb ON zb.doc_id = id_b
       |WHERE i::DOUBLE / (za.sz + zb.sz - i) >= $AllPairsThreshold
       |ORDER BY id_a, id_b""".stripMargin

  val oracleEditDistancePairs: String =
    s"""WITH $corpusSql,
       |$corpusShinglesSql,
       |$minhashSql,
       |$bandsSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |t AS (SELECT doc_id, text, length(text) AS l FROM corpus),
       |gated AS (
       |  SELECT id_a, id_b, ta.text AS xa, tb.text AS xb, ta.l AS la, tb.l AS lb
       |  FROM cand
       |  JOIN t ta ON ta.doc_id = id_a
       |  JOIN t tb ON tb.doc_id = id_b
       |  WHERE abs(ta.l - tb.l) <= $EditMax),
       |scored AS (
       |  SELECT id_a, id_b, levenshtein(xa, xb) AS d, la, lb FROM gated)
       |SELECT id_a, id_b, d::INT AS dist,
       |       1 - d::DOUBLE / greatest(la, lb) AS edit_sim
       |FROM scored WHERE d <= $EditMax
       |ORDER BY id_a, id_b""".stripMargin

  // ---- d51: dedup-threshold sensitivity sweep -------------------------------

  /** The Jaccard cutoffs d51 sweeps — bounded below by
    * [[JaccardThreshold]] (the staged rep-graph keeps only verified
    * edges at ≥ that floor, so lower cutoffs would need a re-verify).
    */
  val SweepTaus: Seq[Double] = Seq(0.5, 0.7, 0.9)

  /** d51 — near-dup CLUSTERING sensitivity to the Jaccard threshold:
    * for each cutoff τ in [[SweepTaus]], the member-level pair count,
    * the number of documents touched by deduplication, the cluster
    * count and largest cluster, and the corpus size keep-one-per-
    * cluster curation would retain. The d34 (LSH banding) / d50 (IVF
    * nprobe) pattern applied to the knob that actually decides what
    * gets deleted: τ too low merges unrelated docs through weak links
    * (watch max_cluster explode), τ too high leaves duplicates in
    * (watch survivors rise) — this report is how that trade is read.
    *
    * Scale shape: ONE verify pass (the staged per-era rep graph, with
    * per-edge jaccard retained) serves every cutoff — no re-shingle,
    * no re-verify per τ. All member-level numbers come closed-form
    * from the family-contracted graph: within-family pairs are
    * C(f, 2) at jaccard 1.0 (identical text ⇒ identical shingle set),
    * cross-family pairs expand as f_a·f_b, and cluster masses are
    * Σ f over rep-level components — so the per-τ connected-components
    * runs on the copy-factor-invariant rep graph (the d36/d38/d39
    * discipline). Per-τ outputs are O(1) scalar aggregates; the
    * driver only sequences the τ loop and carries six numbers per
    * cutoff, never rows.
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the staged rep graph only retains verified edges at jaccard ≥
    // JaccardThreshold, and within-family pairs are counted closed-form
    // at jaccard exactly 1.0 — a sweep cutoff below the floor would
    // silently under-report pairs/clusters (the edges were never
    // materialized), and one at ≥ 1.0 would silently drop the
    // within-family mass. Enforce both invariants instead of trusting
    // the comment above SweepTaus.
    require(SweepTaus.forall(_ >= JaccardThreshold),
      s"SweepTaus ${SweepTaus.mkString(",")} below the rep-graph edge floor $JaccardThreshold")
    require(SweepTaus.forall(_ < 1.0),
      s"SweepTaus ${SweepTaus.mkString(",")} must stay < 1.0 (within-family pairs sit at jaccard 1.0)")
    val (_, _, members) = contractedPairGraph(spark, dir)
    val edgesJ = repGraph(spark, dir)
    val famSizes = members.groupBy("rep").agg(count(lit(1)).as("f")).localCheckpoint()
    val tot = famSizes.agg(sum("f"), sum(expr("(f * (f - 1)) div 2"))).head
    val (corpusN, withinPairs) = (tot.getLong(0), tot.getLong(1))
    // ONE connected-components run for ALL cutoffs: each τ is a layer
    // of a union graph (vertex id = layer·2⁴⁰ + rep; doc ids stay
    // < 1e9 by the fixture invariant, and layers never connect, so
    // components are layer-pure). Three sequential CC invocations
    // measured 23 s at sf0.1 — the loop's fixed per-round job cost
    // paid thrice for identical round counts; the layered graph pays
    // it once on 3× the (tiny, rep-level) edge mass.
    val Layer = 1L << 40
    val taus = SweepTaus.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("tau", "ti")
    val survivingE = edgesJ.crossJoin(broadcast(taus))
      .where(col("jaccard") >= col("tau"))
    val cc = connectedComponents(survivingE
      .select((col("ti") * Layer + col("id_a")).as("u"),
        (col("ti") * Layer + col("id_b")).as("v")))
    val ccL = cc.select(expr(s"vertex div $Layer").as("ti"),
      pmod(col("vertex"), lit(Layer)).as("rep"), col("component"))
    // per-τ cross-family member pairs (f_a·f_b per surviving edge)
    val crossT = survivingE
      .join(famSizes.select(col("rep").as("id_a"), col("f").as("fa")), Seq("id_a"))
      .join(famSizes.select(col("rep").as("id_b"), col("f").as("fb")), Seq("id_b"))
      .groupBy("ti").agg(sum(col("fa") * col("fb")).as("cross"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // families of size ≥ 2 with no surviving edge at τ are still
    // clusters (their members pair at jaccard 1.0); their label
    // ti·2⁴⁰ + rep cannot collide with a CC label (the rep is not in
    // that layer's vertex set)
    val singles = famSizes.where(col("f") >= 2).crossJoin(broadcast(taus))
      .select(col("ti"), col("rep"), col("f"))
      .join(ccL.select("ti", "rep"), Seq("ti", "rep"), "left_anti")
      .select(col("ti"), (col("ti") * Layer + col("rep")).as("component"), col("f"))
    val stats = ccL.join(famSizes, Seq("rep"))
      .select(col("ti"), col("component"), col("f"))
      .unionByName(singles)
      .groupBy("ti", "component").agg(sum("f").as("mass"))
      .groupBy("ti").agg(count(lit(1)).as("nc"), sum("mass").as("nd"),
        max("mass").as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val rows = SweepTaus.zipWithIndex.map { case (tau, i) =>
      val (nc, nd, mx) = stats.getOrElse(i.toLong, (0L, 0L, 0L))
      val cross = crossT.getOrElse(i.toLong, 0L)
      (tau, withinPairs + cross, nd, nc, mx, corpusN - nd + nc)
    }
    rows.toDF("tau", "n_pairs", "n_docs", "n_clusters", "max_cluster", "survivors")
      .orderBy("tau")
  }

  /** d51's DuckDB replay: one MEMBER-level recursive closure per τ
    * over the pairs filtered at that cutoff (the d11 closure, ×3) —
    * algorithm-independent of the engine's contracted closed forms.
    */
  lazy val oracleThresholdSweep: String = {
    val blocks = SweepTaus.zipWithIndex.map { case (tau, i) =>
      val k = i + 1
      s"""p$k AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= $tau),
         |e$k AS (SELECT id_a AS u, id_b AS v FROM p$k
         |        UNION ALL SELECT id_b, id_a FROM p$k),
         |reach$k(u, v) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.u, r.v FROM e$k e JOIN reach$k r ON e.v = r.u),
         |lab$k AS (SELECT u AS doc_id, min(v) AS comp FROM reach$k GROUP BY u),
         |docs$k AS (SELECT DISTINCT u AS doc_id FROM e$k),
         |cs$k AS (
         |  SELECT l.comp, count(*) AS mass
         |  FROM lab$k l JOIN docs$k d USING (doc_id)
         |  GROUP BY 1),
         |st$k AS (
         |  SELECT $tau::DOUBLE AS tau,
         |         (SELECT count(*) FROM p$k) AS n_pairs,
         |         coalesce(sum(mass), 0)::BIGINT AS n_docs,
         |         count(*)::BIGINT AS n_clusters,
         |         coalesce(max(mass), 0)::BIGINT AS max_cluster
         |  FROM cs$k)""".stripMargin
    }.mkString(",\n")
    val union = SweepTaus.indices
      .map(i => s"SELECT * FROM st${i + 1}").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $pairsCteSql,
       |corp AS (SELECT count(*) AS n FROM corpus),
       |$blocks
       |SELECT tau, n_pairs, n_docs, n_clusters, max_cluster,
       |       (SELECT n FROM corp) - n_docs + n_clusters AS survivors
       |FROM ($union)
       |ORDER BY tau""".stripMargin
  }

  // ---- d55: normalization-recovered duplicates ----------------------------

  /** Id space for the d55 formatting variants (next free multiple of
    * [[TwinIdOffset]] after the gen-2 offsets; < 1e9 so it nests inside
    * Amplify replica bands).
    */
  val NormIdOffset = 10 * TwinIdOffset

  /** The d55 fixture: deterministic formatting variants of every 4th
    * corpus doc — upper-cased, whitespace-inflated, or
    * punctuation-suffixed by `doc_id % 3`. The variants are exactly the
    * trivial near-copies a crawl yields (shouting mirrors, re-wrapped
    * text, appended boilerplate punctuation) that raw exact-hash dedup
    * (d01) misses.
    */
  private[graft] def normVariants(docs: DataFrame): DataFrame = {
    val kind = pmod(col("doc_id"), lit(3))
    docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(
        (col("doc_id") + lit(NormIdOffset)).as("doc_id"),
        when(kind === 0, upper(col("text")))
          .when(kind === 1,
            concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit("  ")))
          .otherwise(concat(col("text"), lit(" !!!"))).as("text"))
  }

  /** Canonical text form: casefold, strip non-alphanumerics, collapse
    * runs of spaces, trim. Composed codegen built-ins — no UDF.
    */
  private[graft] def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** d55 — normalization-recovered duplicates: exact dedup keyed on the
    * canonical form instead of the raw bytes, over documents ∪ the
    * [[normVariants]] fixture. Every duplicate row is attributed to its
    * group keeper (min doc_id) with `kind` = 'exact' (raw bytes already
    * equal — d01 would have caught it) or 'norm' (only the canonical
    * forms match — the recovery this operator exists for).
    *
    * Scale shape: md5 of the canonical form is the shuffle key — ONE
    * norm_key-partitioned exchange; keeper identity and group size ride
    * the same window partitioning (no second join, no skew beyond the
    * duplicate-family sizes that any exact dedup has).
    */
  def normDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val keyed = docs.unionByName(normVariants(docs))
      .select(col("doc_id"), md5(col("text")).as("raw_key"),
        md5(normText(col("text"))).as("norm_key"))
    val w = Window.partitionBy("norm_key")
    keyed
      .withColumn("k", min(struct(col("doc_id"), col("raw_key"))).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") > 1 && col("doc_id") =!= col("k.doc_id"))
      .select(col("doc_id"), col("k.doc_id").as("dup_of"),
        when(col("raw_key") === col("k.raw_key"), lit("exact"))
          .otherwise(lit("norm")).as("kind"))
      .orderBy("doc_id")
  }

  /** SQL twin of [[normVariants]] ∪ documents with raw/canonical keys. */
  private def normKeyedSql: String = {
    val normExpr = (src: String) =>
      s"trim(regexp_replace(regexp_replace(lower($src), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    s"""SELECT doc_id, md5(text) AS raw_key, md5(${normExpr("text")}) AS norm_key
       |FROM (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $NormIdOffset AS doc_id,
       |         CASE doc_id % 3
       |           WHEN 0 THEN upper(text)
       |           WHEN 1 THEN '  ' || replace(text, ' ', '  ') || '  '
       |           ELSE text || ' !!!'
       |         END AS text
       |  FROM documents WHERE doc_id % 4 = 0)""".stripMargin
  }

  // ---- d60: corpus snapshot diff -------------------------------------------

  /** d60 — snapshot diff between two corpus versions: the incremental
    * trigger primitive (which docs must re-enter the pipeline after a
    * crawl refresh). Version 2 is derived deterministically from the
    * corpus: every 7th doc dropped (removed), every 5th surviving doc
    * re-crawled with appended text (changed), plus the d55 formatting
    * variants as new docs (added). The diff itself is ONE full outer
    * join on doc_id with an md5 content compare — status ∈
    * {added, removed, changed, same}; `same` rows are omitted (the
    * 100 TB answer is the delta, never the corpus).
    *
    * Scale shape: two scans, one doc_id-keyed join, content compared
    * by 16-byte digest — the layout every snapshot-diff (Iceberg/Delta
    * CDF-style) reduces to when no row-version metadata exists.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select("doc_id", "text")
    val v2 = v1.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" upd"))).otherwise(col("text")).as("text"))
      .unionByName(normVariants(v1))
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed")))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
      .orderBy("doc_id")
  }

  lazy val oracleCorpusDiff: String =
    s"""WITH v2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 5 = 0 THEN text || ' upd' ELSE text END AS text
       |  FROM documents WHERE doc_id % 7 != 0
       |  UNION ALL
       |  SELECT doc_id + $NormIdOffset AS doc_id,
       |         CASE doc_id % 3
       |           WHEN 0 THEN upper(text)
       |           WHEN 1 THEN '  ' || replace(text, ' ', '  ') || '  '
       |           ELSE text || ' !!!'
       |         END AS text
       |  FROM documents WHERE doc_id % 4 = 0),
       |a AS (SELECT doc_id, md5(text) AS h1 FROM documents),
       |b AS (SELECT doc_id, md5(text) AS h2 FROM v2),
       |j AS (
       |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, h1, h2
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT doc_id,
       |       CASE WHEN h1 IS NULL THEN 'added'
       |            WHEN h2 IS NULL THEN 'removed'
       |            ELSE 'changed' END AS status
       |FROM j
       |WHERE h1 IS NULL OR h2 IS NULL OR h1 != h2
       |ORDER BY doc_id""".stripMargin

  // ---- d59: soft-dedup-weighted sampling -----------------------------------

  val SoftSampleSeed = 11

  /** d59 — duplication-aware sampling: each doc is kept with
    * probability 1/cluster_size via the deterministic rule
    * `phash(doc_id) mod cluster_size == 0` — soft dedup (d28) applied
    * at SAMPLING time instead of as a weight column. Expected yield is
    * exactly one doc per near-dup cluster (uniques always survive:
    * anything mod 1 is 0), so the sample's duplication factor is ~1
    * without ever materializing a keep-one choice — and unlike d12's
    * keep-best, the pick is unbiased across the cluster.
    *
    * Scale shape: the labels are the staged once-per-corpus relation;
    * on top of it ONE cluster-keyed window for sizes and a map-side
    * hash-mod — the d28 plan with a boolean instead of a weight.
    */
  def softDedupSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    clusterLabels(spark, dir)
      .select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("kept",
        pmod(TextHash.phash(col("doc_id").cast("string"), SoftSampleSeed),
          col("cluster_size")) === 0)
      .orderBy("doc_id")
  }

  /** d59 oracle — the d28 closure labels with the hash-mod keep rule. */
  lazy val oracleSoftDedupSample: String =
    s"""WITH RECURSIVE $pairsCteSql,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labeled AS (
       |  SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
       |sized AS (
       |  SELECT doc_id, cluster_id,
       |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM labeled)
       |SELECT doc_id, cluster_id, cluster_size,
       |       ${TextHash.phashSql("doc_id::VARCHAR", SoftSampleSeed)} % cluster_size = 0 AS kept
       |FROM sized
       |ORDER BY doc_id""".stripMargin

  lazy val oracleNormDedup: String =
    s"""WITH keyed AS (
       |$normKeyedSql),
       |k AS (
       |  SELECT norm_key, min(doc_id) AS dup_of, count(*) AS n
       |  FROM keyed GROUP BY 1),
       |kr AS (
       |  SELECT d.norm_key, d.raw_key AS keeper_raw
       |  FROM keyed d JOIN k ON d.doc_id = k.dup_of)
       |SELECT d.doc_id, k.dup_of,
       |       CASE WHEN d.raw_key = kr.keeper_raw THEN 'exact' ELSE 'norm' END AS kind
       |FROM keyed d
       |JOIN k USING (norm_key)
       |JOIN kr USING (norm_key)
       |WHERE k.n > 1 AND d.doc_id != k.dup_of
       |ORDER BY d.doc_id""".stripMargin
}
