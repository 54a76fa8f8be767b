package graft.llm

import graft.expr.VectorFunctions.cosineSimilarity
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** d71 — graph-based ANN: HNSW-shape layered neighbor lists
  * (Malkov & Yashunin, TPAMI 2018), batch-built, searched by greedy
  * layered descent + an ef-style beam expansion on layer 0,
  * recall-gated through the d40 report beside the LSH/IVF/PQ
  * quantization legs.
  *
  * HNSW's ideas, re-expressed batch-first (the sequential-insert
  * build does not exist on a 1000-executor cluster; batch graph-ANN
  * builds generate candidates with a trained coarse quantizer — the
  * DiskANN/Vamana sharding move — and keep the layered search):
  *
  *  - LAYERS: every vector gets a deterministic geometric level from
  *    the portable hash (P(level ≥ 1) = 1/4, P(level ≥ 2) = 1/16 — the
  *    HNSW exponential-decay assignment with mL = 1/ln 4, minus the
  *    RNG). Upper layers are sparse "express lanes"; layer 0 holds
  *    everyone.
  *  - NEIGHBOR LISTS: per layer, each node links to its [[M]] best
  *    candidates by (6-dp cosine DESC, id ASC) among layer members
  *    sharing one of its [[Similarity.NProbe]] nearest IVF cells (the
  *    d08 Lloyd quantizer; the d24 SemDeDup cell-scoping applied to
  *    graph construction). Two LSH-signature candidate cuts measured
  *    first were NOT navigable — Hamming ≤ 1 bucket-trapped the walk
  *    (recall 0.08 at 2 k vectors), Hamming ≤ 2 still fragmented it
  *    (≤ 0.22) — because random-hyperplane buckets correlate only
  *    loosely with true neighborhoods; quantizer cells are the
  *    candidate generator that actually tracks them (d08 measures
  *    recall 1.0 on this corpus). One cell-keyed equi-join per layer,
  *    top-M window per node: O(n · NProbe · cell size) build, never
  *    all-pairs.
  *  - SEARCH: enter at the exact argmax over the TOP layer (HNSW
  *    scans its top layer; at two geometric levels that layer is the
  *    1/16 coarse sample — the IVF-centroid-scan analog; a FIXED
  *    entry stranded queries in the entry's own basin), take
  *    [[HopsL2]]/[[HopsL1]] greedy hops on layers 2/1 (argmax cosine
  *    over {current} ∪ neighbors — monotone, deterministic), then run
  *    HNSW's ef-search on layer 0: a beam of the [[Ef]] best visited
  *    nodes expands through its neighbor lists for [[EfRounds]]
  *    rounds (single-walker greedy stalls in local optima — the exact
  *    failure ef exists to fix), and the final top-K is ranked over
  *    everything visited. All arithmetic is the established 6-dp
  *    rounded cosine, so the DuckDB oracle replays build, descent and
  *    beam as unrolled CTEs (the d36 round-unroll pattern)
  *    bit-for-bit.
  *
  * Scale shape: build is [[Similarity.NProbe]] cell-keyed equi-joins
  * worth of candidate mass per layer (layer sizes n, n/4, n/16) with
  * per-node top-M windows — cells are the shuffle keys and the graph
  * is O(n·M) rows; search state per query is ≤ 1 +
  * [[EfRounds]]·[[Ef]]·[[M]] ids (constant, corpus-free). The
  * quantizer cell count is corpus-derived (k ∝ √n,
  * [[Similarity.numCells]] — round 9; fixed k=16 before), so per-node
  * build candidate mass grows as √n instead of linearly and the build
  * stays sub-quadratic overall; the search cost is corpus-free either
  * way. Descent and beam are driver-composed joins on
  * query-panel-sized frames — never per-row driver work.
  */
object GraphAnn {

  /** Max neighbors per node per layer (HNSW's M). */
  val M = 6

  /** Beam width of the layer-0 ef-search. */
  val Ef = 32

  /** Beam expansion rounds on layer 0. */
  val EfRounds = 3

  val HopsL2 = 1
  val HopsL1 = 2

  /** Level-assignment hash seed (levels must be independent of the
    * quantizer, or upper layers would correlate with cells).
    */
  val LevelSeed = 71

  private def levelHash(id: Column): Column =
    TextHash.phash(id.cast("string"), LevelSeed)

  /** (vec_id, embedding, cell, lh) with one row per (distinct
    * embedding, probed cell) — crank ≤ NProbe against the d08 Lloyd
    * centroids, CONTRACTED to exact-embedding family representatives
    * (min vec_id per embedding; the Dedup.contentFamilies discipline
    * applied to vectors). Without the contraction a duplicate-heavy
    * corpus fragments the graph: every copy's M best neighbors are its
    * own exact copies (cosine 1.0), so a ≥ M+2-copy family's neighbor
    * lists are ALL intra-family, the walk cannot leave the entry
    * point's family, and measured recall on the 16-copy 100× fixture
    * was 0.36 (two queries at 0.0). Reps make the graph navigable
    * again (measured back to 1.0) and cut build candidate mass by the
    * copy factor; members fan back at rank time ([[annHnsw]]), so the
    * output is result-exact. At gate SFs every embedding is unique —
    * the contraction is the identity there. Feeds the three layer
    * builds and the top-layer member set only.
    */
  private def withKeys(spark: SparkSession, dir: String): DataFrame = {
    val idx = Similarity.ivfIndex(spark, dir)
    val reps = idx.filter(col("crank") === 1)
      .groupBy("embedding").agg(min("vec_id").as("vec_id"))
      .select("vec_id")
    idx.join(reps, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell"),
        levelHash(col("vec_id")).as("lh"))
  }

  /** (rep, vec_id) exact-embedding family map — every vector keyed by
    * its family representative; the rank-time fan-out of [[withKeys]]'
    * contraction. Identity (rep = vec_id) when embeddings are unique.
    */
  private def famMap(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        min("vec_id").over(Window.partitionBy("embedding")).as("rep"))

  /** Test hook: the (vec_id, embedding, cell, lh) build relation, so
    * the spec can replay build + search driver-side from the same
    * assignments.
    */
  private[graft] def buildInputs(spark: SparkSession, dir: String): DataFrame =
    withKeys(spark, dir)

  /** Per-layer neighbor lists: for every node, the [[M]] best layer
    * members sharing one of its probed cells. A pair can share both
    * probed cells, so candidates dedup before the top-M window.
    */
  private def edgesFor(nodes: DataFrame): DataFrame = {
    val a = nodes.select(col("vec_id").as("u"), col("embedding").as("ue"), col("cell"))
    val bb = nodes.select(col("vec_id").as("v"), col("embedding").as("ve"), col("cell"))
    val w = Window.partitionBy("u").orderBy(col("score").desc, col("v"))
    a.join(bb, Seq("cell"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"),
        round(cosineSimilarity(col("ue"), col("ve")), 6).as("score"))
      .distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= M)
      .select("u", "v")
  }

  /** One greedy hop on a layer: next = argmax over {cur} ∪ N(cur) of
    * (6-dp cosine to the query DESC, id ASC). `cur` / the returned
    * frame are (query_id, cur) — [[Similarity.NumQueries]] rows.
    */
  private def hop(cur: DataFrame, edges: DataFrame,
      qs: DataFrame, vecs: DataFrame): DataFrame = {
    val cand = cur.join(edges.withColumnRenamed("u", "cur"), Seq("cur"), "left")
      .select(col("query_id"), coalesce(col("v"), col("cur")).as("cand"))
      .unionByName(cur.select(col("query_id"), col("cur").as("cand")))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("s").desc, col("cand"))
    cand.join(qs, Seq("query_id"))
      .join(vecs.select(col("vec_id").as("cand"), col("embedding").as("ce")), Seq("cand"))
      .select(col("query_id"), col("cand"),
        round(cosineSimilarity(col("qe"), col("ce")), 6).as("s"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand").as("cur"))
  }

  /** The staged layered graph — (e0, e1, e2, top-layer members), built
    * ONCE per (data era, build) and shared by every search (d71 alone
    * and the d40 leg re-run): the production shape is exactly this —
    * the index build is the batch job, searches ride the artifact (the
    * cc/ci index discipline).
    */
  private[graft] def graphIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val locs = graft.ops.Staging.indexes(dir, "g71_e0", "g71_e1", "g71_e2", "g71_top") { put =>
      val b = withKeys(spark, dir).persist()
      val lvl = when(pmod(col("lh"), lit(16L)) === 0, 2)
        .when(pmod(col("lh"), lit(4L)) === 0, 1).otherwise(0)
      // max() over an empty relation is NULL and getInt would throw an
      // opaque NPE — fail loudly on a missing/empty embeddings fixture
      val maxRow = b.agg(max(lvl)).head()
      require(!maxRow.isNullAt(0), s"graphIndex: no embeddings under $dir")
      val maxLevel = maxRow.getInt(0)
      put("g71_e1", edgesFor(b.filter(pmod(col("lh"), lit(4L)) === 0)))
      put("g71_e2", edgesFor(b.filter(pmod(col("lh"), lit(16L)) === 0)))
      put("g71_top", b.filter(lvl === maxLevel).select(col("vec_id"), col("embedding")).distinct())
      put("g71_e0", edgesFor(b))
      b.unpersist()
    }
    val Seq(e0, e1, e2, top) = locs.map(Tables.parquet(spark, _))
    (e0, e1, e2, top)
  }

  /** d71 — layered graph-ANN top-K per query (the d06/d07 output
    * shape: query_id, vec_id, score, rank).
    */
  def annHnsw(spark: SparkSession, dir: String): DataFrame = {
    val (e0, e1, e2, topMembers) = graphIndex(spark, dir)

    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def scoreOf(cand: DataFrame): DataFrame =
      cand.join(qs, Seq("query_id"))
        .join(emb, Seq("vec_id"))
        .select(col("query_id"), col("vec_id"),
          round(cosineSimilarity(col("qe"), col("embedding")), 6).as("s"))
    val wEnt = Window.partitionBy("query_id").orderBy(col("s").desc, col("vec_id"))
    // every hop/beam round references its input TWICE (left join +
    // union; union + window), so without per-round truncation the
    // lineage doubles each round and the single final action re-runs
    // the upstream exponentially (measured 48 s before the eager
    // per-round localCheckpoints; frames are query-panel-sized, so
    // each checkpoint is a sub-second job — the CC-loop discipline)
    var cur = topMembers.crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        round(cosineSimilarity(col("qe"), col("embedding")), 6).as("s"))
      .withColumn("rn", row_number().over(wEnt)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("cur"))
      .localCheckpoint()
    (1 to HopsL2).foreach(_ => cur = hop(cur, e2, qs, emb).localCheckpoint())
    (1 to HopsL1).foreach(_ => cur = hop(cur, e1, qs, emb).localCheckpoint())
    // layer-0 ef-search: beam = Ef best visited, expand, accumulate
    val wEf = Window.partitionBy("query_id").orderBy(col("s").desc, col("vec_id"))
    var visited = scoreOf(cur.select(col("query_id"), col("cur").as("vec_id")))
      .localCheckpoint()
    var frontier = visited
    (1 to EfRounds).foreach { _ =>
      val expanded = scoreOf(
        frontier.join(e0.withColumnRenamed("u", "vec_id"), Seq("vec_id"))
          .select(col("query_id"), col("v").as("vec_id")).distinct())
      visited = visited.unionByName(expanded).distinct().localCheckpoint()
      frontier = visited
        .withColumn("rn", row_number().over(wEf)).filter(col("rn") <= Ef)
        .drop("rn")
    }
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    // fan the visited REPS back out to their exact-embedding family
    // members (identical embedding ⇒ identical score, so members reuse
    // the rep's s) — the search contracted to reps ([[withKeys]]); the
    // result stays exact over the full corpus
    visited
      .join(famMap(spark, dir)
        .select(col("rep").as("vec_id"), col("vec_id").as("member")), Seq("vec_id"))
      .select(col("query_id"), col("member").as("vec_id"), col("s"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("s").as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Similarity.TopK)
      .orderBy("query_id", "rank")
  }

  // ---- DuckDB oracle --------------------------------------------------------

  private def edgesSql(name: String, where: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT u, v, score,
       |           row_number() OVER (PARTITION BY u ORDER BY score DESC, v) AS rn
       |    FROM (
       |      SELECT DISTINCT a.vec_id AS u, b.vec_id AS v,
       |             round(list_cosine_similarity(a.embedding, b.embedding), 6) AS score
       |      FROM em a JOIN em b
       |        ON a.cell = b.cell AND a.vec_id != b.vec_id
       |      WHERE $where))
       |  WHERE rn <= $M)""".stripMargin

  private def hopSql(name: String, prev: String, edges: String): String =
    s"""$name AS (
       |  SELECT query_id, cand AS cur FROM (
       |    SELECT query_id, cand, s,
       |           row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand) AS rn
       |    FROM (
       |      SELECT c.query_id, c.cand,
       |             round(list_cosine_similarity(q.qe::DOUBLE[], ev.e), 6) AS s
       |      FROM (
       |        SELECT DISTINCT query_id, cand FROM (
       |          SELECT p.query_id, coalesce(ed.v, p.cur) AS cand
       |          FROM $prev p LEFT JOIN $edges ed ON ed.u = p.cur
       |          UNION ALL
       |          SELECT query_id, cur AS cand FROM $prev)) c
       |      JOIN qs q ON q.query_id = c.query_id
       |      JOIN e ev ON ev.vec_id = c.cand))
       |  WHERE rn = 1)""".stripMargin

  /** One beam round: visited_i = visited ∪ scored(frontier ⋈ e0);
    * frontier_i = top-[[Ef]] of visited_i.
    */
  private def beamSql(i: Int): String = {
    val pv = if (i == 1) "v0" else s"v${i - 1}"
    val pf = if (i == 1) "f0" else s"f${i - 1}"
    s"""v$i AS (
       |  SELECT DISTINCT query_id, vec_id, s FROM (
       |    SELECT query_id, vec_id, s FROM $pv
       |    UNION ALL
       |    SELECT c.query_id, c.vec_id,
       |           round(list_cosine_similarity(q.qe::DOUBLE[], ev.e), 6) AS s
       |    FROM (SELECT DISTINCT p.query_id, ed.v AS vec_id
       |          FROM $pf p JOIN e0 ed ON ed.u = p.vec_id) c
       |    JOIN qs q ON q.query_id = c.query_id
       |    JOIN e ev ON ev.vec_id = c.vec_id)),
       |f$i AS (
       |  SELECT query_id, vec_id, s FROM (
       |    SELECT query_id, vec_id, s,
       |           row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
       |    FROM v$i)
       |  WHERE rn <= $Ef)""".stripMargin
  }

  lazy val oracleAnnHnsw: String = {
    val hops2 = (1 to HopsL2).map(i => hopSql(s"h2$i", if (i == 1) "s0" else s"h2${i - 1}", "e2"))
    val hops1 = (1 to HopsL1).map(i => hopSql(s"h1$i", if (i == 1) s"h2$HopsL2" else s"h1${i - 1}", "e1"))
    val beams = (1 to EfRounds).map(beamSql)
    s"""WITH ${Similarity.lloydMembersSql},
       |em AS MATERIALIZED (
       |  -- exact-embedding family representatives only (withKeys'
       |  -- contraction; identity when embeddings are unique)
       |  SELECT r.vec_id, r.embedding, r.cell,
       |         ${TextHash.phashSql("r.vec_id::VARCHAR", LevelSeed)} AS lh
       |  FROM ranked r WHERE r.crank <= ${Similarity.NProbe}
       |    AND r.vec_id IN (SELECT min(vec_id) FROM embeddings GROUP BY embedding)),
       |qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |       WHERE vec_id < ${Similarity.NumQueries}),
       |${edgesSql("e0", "true")},
       |${edgesSql("e1", "a.lh % 4 = 0 AND b.lh % 4 = 0")},
       |${edgesSql("e2", "a.lh % 16 = 0 AND b.lh % 16 = 0")},
       |ml AS (SELECT max(CASE WHEN lh % 16 = 0 THEN 2
       |                       WHEN lh % 4 = 0 THEN 1 ELSE 0 END) AS v FROM em),
       |topm AS (SELECT DISTINCT vec_id, embedding FROM em
       |         WHERE (CASE WHEN lh % 16 = 0 THEN 2
       |                     WHEN lh % 4 = 0 THEN 1 ELSE 0 END) = (SELECT v FROM ml)),
       |s0 AS (
       |  SELECT query_id, vec_id AS cur FROM (
       |    SELECT q.query_id, t.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             round(list_cosine_similarity(q.qe::DOUBLE[],
       |                                          t.embedding), 6) DESC,
       |             t.vec_id) AS rn
       |    FROM qs q CROSS JOIN topm t)
       |  WHERE rn = 1),
       |${hops2.mkString(",\n")},
       |${hops1.mkString(",\n")},
       |v0 AS (
       |  SELECT h.query_id, h.cur AS vec_id,
       |         round(list_cosine_similarity(q.qe::DOUBLE[], ev.e), 6) AS s
       |  FROM h1$HopsL1 h
       |  JOIN qs q ON q.query_id = h.query_id
       |  JOIN e ev ON ev.vec_id = h.cur),
       |f0 AS (SELECT query_id, vec_id, s FROM v0),
       |${beams.mkString(",\n")},
       |fam AS (SELECT min(vec_id) OVER (PARTITION BY embedding) AS rep, vec_id
       |        FROM embeddings),
       |fanned AS (
       |  -- fan visited reps back to family members (identical
       |  -- embedding => identical score)
       |  SELECT v.query_id, f.vec_id, v.s
       |  FROM v$EfRounds v JOIN fam f ON f.rep = v.vec_id),
       |ranked_out AS (
       |  SELECT query_id, vec_id, s AS score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY s DESC, vec_id) AS INT) AS rank
       |  FROM fanned
       |  WHERE vec_id != query_id)
       |SELECT query_id, vec_id, score, rank
       |FROM ranked_out WHERE rank <= ${Similarity.TopK}
       |ORDER BY query_id, rank""".stripMargin
  }
}
