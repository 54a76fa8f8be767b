package graft.llm

import graft.expr.VectorFunctions.cosineSimilarity
import graft.ops.CoreOps.sortedOnce
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`,
  * dim 64): brute-force cosine top-k as the exact baseline, and an
  * LSH-bucketed (random-hyperplane) variant as the scale path.
  *
  * Scores route through the native [[graft.expr.CosineSimilarity]]
  * expression — a single fused codegen loop per pair, double
  * accumulation in index order for bit-parity with the DuckDB
  * `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])` oracle. Scores
  * are rounded to 6 decimals *before* ranking so top-k tie-breaks
  * (score DESC, vec_id ASC) are engine-independent.
  */
object Similarity {

  val NumQueries = 5
  val TopK = 10

  private def scored(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // queries are tiny and broadcast; candidates never shuffle
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineSimilarity(col("qe"), col("embedding")), 6).as("score"))
  }

  /** d06 — brute-force exact top-k neighbours per query vector. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    scored(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  // -- LSH-bucketed ANN -------------------------------------------------------

  val NumPlanes = 8
  val Dim = 64

  /** Deterministic random-hyperplane matrix, derived from the portable
    * hash (no RNG, reproducible in the SQL oracle): weight ∈
    * [-1, 1] with 1/1000 resolution.
    */
  val planes: Array[Array[Double]] = Array.tabulate(NumPlanes, Dim) { (p, d) =>
    ((TextHash.jvmHash(s"$p,$d", 7) % 2001L) - 1000L) / 1000.0
  }

  private[llm] def bucketCol(embCol: String) = {
    val dots = planes.map { plane =>
      aggregate(
        zip_with(col(embCol), typedlit(plane.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    }
    dots.zipWithIndex
      .map { case (dot, p) => when(dot > 0, lit(1 << p)).otherwise(lit(0)) }
      .reduce(_ + _)
  }

  /** d07 — ANN via random-hyperplane LSH with multi-probe: 8 signed
    * projections → a 256-bucket signature; candidates lie in the
    * query's bucket OR any bucket one sign-flip away (9 of 256 —
    * single-bucket probing yields too few candidates for top-10 at
    * this corpus size). Exact cosine only on candidates.
    *
    * Multi-probe is ENUMERATED, not predicated: each query explodes
    * into its 9 exact probe bucket keys (qbucket ^ 0, ^1, ^2 … ^128)
    * and the corpus is probed by an equi-join on `bucket` — a
    * broadcast hash join, never a nested-loop `bit_count(...) <= 1`
    * scan. At 100 TB the bucket stays the shuffle/cluster key and the
    * probe cost is 9 hash lookups per query, independent of corpus
    * size.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", bucketCol("embedding"))
    val probeMasks = array((lit(0) +: (0 until NumPlanes).map(p => lit(1 << p))): _*)
    val probes = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(transform(probeMasks, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    emb.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("bucket"),
        round(cosineSimilarity(col("qe"), col("embedding")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  // -- IVF (inverted-file) ANN ------------------------------------------------

  /** Floor of the coarse-quantizer cell count — and the exact cell
    * count at every ORACLE gate scale (embeddings n = 500 at
    * sf0.001/sf0.01, 2000 at sf0.1 — all below the 2312 breakpoint),
    * so every gated hash is identical to the fixed-k era.
    */
  val MinCells = 16
  val NProbe = 2
  val LloydRounds = 3

  /** Corpus-derived coarse-quantizer cell count: k = max(16, ⌊√(n/8)⌋).
    *
    * A FIXED k means cell occupancy — and hence IVF/SemDeDup/graph-ANN
    * build candidate mass — grows linearly with the corpus (quadratic
    * overall, the one plan shape rounds 6-8 documented but did not
    * exercise). k ∝ √n is the classical IVF balance point: centroid
    * assignment costs n·k and per-node candidate mass costs n/k, so
    * √n growth makes both n^1.5 — sub-quadratic build, while NProbe/k
    * of the corpus per probe keeps shrinking. The /8 constant pins
    * k = 16 at all gate scales (n ≤ 2312) so oracles replay
    * bit-for-bit; the 32×/100× stress fixtures (n = 64k/32k) exercise
    * the derived branch. Both engines compute the same IEEE tree:
    * JVM `math.sqrt(n / 8.0).toInt` == DuckDB
    * `CAST(floor(sqrt(count(*) / 8.0)) AS INT)` (positive doubles, so
    * toInt IS floor).
    */
  private[graft] def numCells(n: Long): Int =
    math.max(MinCells, math.sqrt(n / 8.0).toInt)

  /** DuckDB twin of [[numCells]], applied to the embeddings relation. */
  private[graft] val numCellsSql: String =
    s"greatest($MinCells, CAST(floor(sqrt(count(*) / 8.0)) AS INT))"

  /** The quantizer cell count for `dir`'s embeddings corpus (one
    * metadata-only parquet count, memoized like the centroids).
    */
  private[graft] def cellCount(spark: SparkSession, dir: String): Int =
    cellCounts(spark, dir)(Int.box(numCells(Tables.embeddings(spark, dir).count()))).intValue()

  /** 2^20 — centroid components accumulate as `floor(x·2^20 + 0.5)`
    * integers, so the per-cell sums are EXACT (and order-independent)
    * in both engines and the resulting centroid doubles are
    * bit-identical; a raw double sum would depend on partition order
    * and break the oracle's hash compare.
    */
  val QuantScale = 1048576.0

  /** Lloyd's k-means over the embeddings: seed with the first
    * [[numCells]](n) vectors, then [[LloydRounds]] assign/update rounds.
    * Assignment is a broadcast of k centroids scored map-side; the
    * update is one (cell, dim) shuffle per round; only the k centroid
    * rows come back to the driver each round (the CC-loop scalar
    * pattern — rounds are driver-sequenced, never per-row driver work).
    */
  /** Centroids are deterministic per embeddings table, and BOTH d08
    * (IVF probe) and d24 (SemDeDup) assign against them — train once
    * per (process, data), assign many times (the clusterLabels staging
    * pattern, driver-side because k×dim doubles are tiny). BOUNDED:
    * an LRU capped at [[CentroidCacheCap]] entries, so a long-lived
    * multi-tenant session cycling through many inputs re-trains rather
    * than accumulating entries forever.
    */
  private[graft] val CentroidCacheCap = 8
  private val centroidMemo = new graft.tables.TablesMemo[Seq[(Int, Seq[Double])]](CentroidCacheCap, "embeddings")
  private val cellCounts = new graft.tables.TablesMemo[Integer](CentroidCacheCap, "embeddings")

  private[graft] def cachedCentroidDirs: Set[String] = centroidMemo.dirs

  private[graft] def lloydCentroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    centroidMemo(spark, dir)(lloydCentroidsUncached(spark, dir))

  private def lloydCentroidsUncached(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    val k = cellCount(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .localCheckpoint() // scanned once, assigned LloydRounds times
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("e"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    for (_ <- 1 to LloydRounds) {
      val w = Window.partitionBy("vec_id").orderBy(col("cscore").desc, col("cell"))
      val assigned = emb.crossJoin(broadcast(cents.toDF("cell", "ce")))
        .select(col("vec_id"), col("e"), col("cell"),
          cosineSimilarity(col("e"), col("ce")).as("cscore"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      cents = assigned
        .select(col("cell"), posexplode(col("e")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg((sum(floor(col("x") * QuantScale + lit(0.5)).cast("long")) /
              (lit(QuantScale) * count(lit(1)))).as("cd"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("d"), col("cd")))).as("a"))
        .select(col("cell"), transform(col("a"), s => s.getField("cd")).as("ce"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
        .sortBy(_._1)
    }
    cents
  }

  /** d08 — IVF ANN: the corpus is partitioned into [[numCells]](n)
    * cells by nearest [[lloydCentroids k-means]] centroid; a query
    * probes its [[NProbe]] closest cells and runs exact cosine only
    * there. The query shape (assign → cluster-by-cell → probe few
    * cells) is what scales: each cell is a partition/cluster key, so a
    * query touches NProbe/k of the corpus, and k ∝ √n keeps build
    * candidate mass sub-quadratic (see [[numCells]]).
    */
  /** The ONE centroid-assignment relation every IVF consumer ranks
    * from (d08 probe depth, d24 members, d50 sweep, d58 purity):
    * every (vector, cell) cosine-scored against the broadcast
    * centroids, ranked per vector (score DESC, ties → lowest cell).
    * `carry` lets each caller keep the payload columns it needs
    * (embedding, label, none) without re-spelling the assignment —
    * the tie-break and scoring live in exactly one place.
    */
  private[llm] def cellRanked(spark: SparkSession, dir: String, carry: Seq[String]): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val centroids = lloydCentroids(spark, dir).toDF("cell", "ce")
    val wCell = Window.partitionBy("vec_id").orderBy(col("cscore").desc, col("cell"))
    emb.crossJoin(broadcast(centroids))
      .select((col("vec_id") +: carry.map(col)) ++ Seq(col("cell"),
        cosineSimilarity(col("embedding"), col("ce")).as("cscore")): _*)
      .withColumn("crank", row_number().over(wCell))
  }

  /** Staged IVF inverted file (`ivf_assign`): one row per (vector,
    * probed cell) with crank ≤ [[NProbe]] AND the vector payload —
    * the cell-keyed layout an IVF index physically IS at production
    * scale (the inverted lists store the vectors). The n·k
    * centroid-scoring pass is once-per-era INDEX cost, not per-query
    * cost: with the corpus-derived k (∝ √n, round 9) the scoring pass
    * is n^1.5 work, and re-deriving it inside every ANN-family query
    * made d40 the top ANN row at 100× (25.7 s) until assignment moved
    * behind [[graft.ops.Staging.index]] like every other
    * corpus-index artifact. Consumers that sweep DEEPER than NProbe
    * (d50's probe sweep) re-rank only their query panel —
    * NumQueries·k work, corpus-free.
    */
  private[graft] def ivfIndex(spark: SparkSession, dir: String): DataFrame = {
    val loc = graft.ops.Staging.index(dir, "ivf_assign")(
      cellRanked(spark, dir, Seq("embedding"))
        .filter(col("crank") <= NProbe)
        .select(col("vec_id"), col("embedding"), col("cell"), col("crank"), col("cscore")))
    Tables.parquet(spark, loc)
  }

  /** The crank = 1 member slice of [[ivfIndex]] (one row per vector). */
  private[llm] def ivfMembers(spark: SparkSession, dir: String): DataFrame =
    ivfIndex(spark, dir).filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** Full cell ranking for the QUERY PANEL only (vec_id < NumQueries —
    * bounded, corpus-free): the d50 probe sweep ranks deeper than the
    * staged index's NProbe cut.
    */
  private def panelRankedAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centroids = lloydCentroids(spark, dir).toDF("cell", "ce")
    val wCell = Window.partitionBy("vec_id").orderBy(col("cscore").desc, col("cell"))
    Tables.embeddings(spark, dir).filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cell"),
        cosineSimilarity(col("embedding"), col("ce")).as("cscore"))
      .withColumn("crank", row_number().over(wCell))
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    // assign: cell of max cosine (ties → lowest cell id), read from
    // the staged inverted file
    val assigned = ivfIndex(spark, dir)
      .select(col("vec_id"), col("embedding"), col("cell"), col("crank"))
    val members = assigned.filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val probes = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cell"))
    val wRank = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    members.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(cosineSimilarity(col("qe"), col("embedding")), 6).as("score"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  /** Cosine at or above this (rounded to 6) makes a near-duplicate pair
    * on this fixture (unit-ish random vectors top out near 0.6; real
    * embedding corpora would sit at 0.9+ — the threshold is data-, not
    * shape-, dependent).
    */
  val NearDupThreshold = 0.3

  /** d10 — embedding-cosine near-dup pairs: the dedup-family member
    * that works on vectors instead of text. Pairs whose 8-plane LSH
    * buckets differ by ≤ 1 bit are candidates; only candidates pay the
    * exact cosine, kept at ≥ [[NearDupThreshold]].
    *
    * Scale shape: like [[annLsh]] but corpus×corpus — the left side
    * explodes into its 9 probe bucket keys and equi-joins the right
    * side's exact bucket (a plain shuffled hash join on `bucket`, both
    * sides large, NO broadcast and NO nested loop). For a fixed pair
    * (a,b) with hd(bucket) ≤ 1 exactly one probe mask matches, so the
    * join emits no duplicate pairs and needs no distinct. Cost is
    * O(Σ bucket²) + 9× shuffle of the probe side — the standard
    * LSH-join layout that scales out on the bucket key.
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Exact-vector family contraction (the d05/d35/d37 pattern on the
    // vector column): bitwise-identical embeddings share buckets and
    // every pairwise cosine, so the LSH join runs on one REPRESENTATIVE
    // per distinct vector and results fan back out — candidate mass is
    // copy-factor-invariant on an exact-copy-heavy corpus. Grouping is
    // on the raw array value (no hash key, so no collision risk); the
    // two contraction shuffles are linear in the corpus.
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val fams = base.groupBy("embedding").agg(min("vec_id").as("rep")).persist()
    val emb = fams.select(col("rep").as("vec_id"), col("embedding"))
      .withColumn("bucket", bucketCol("embedding"))
    val probeMasks = array((lit(0) +: (0 until NumPlanes).map(p => lit(1 << p))): _*)
    val probed = emb.select(
      col("vec_id").as("id_a"), col("embedding").as("ea"),
      explode(transform(probeMasks, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    val repPairs = probed.join(emb, Seq("bucket"))
      .filter(col("id_a") < col("vec_id"))
      .select(col("id_a"), col("vec_id").as("id_b"),
        round(cosineSimilarity(col("ea"), col("embedding")), 6).as("score"))
      .filter(col("score") >= NearDupThreshold)
      .localCheckpoint() // eager: rep-pair set is the contracted answer core
    val m = base.join(fams, Seq("embedding")).select(col("vec_id"), col("rep"))
      .localCheckpoint() // eager membership map; frees the vector-keyed cache
    // within-family score = the member-level expression over the rep's
    // vector (members are bitwise-identical) — same bits, computed once
    // per family; a degenerate self-score (NaN on a zero vector) drops
    // the family exactly as it would drop every member pair
    val selfScores = fams.select(col("rep"),
        round(cosineSimilarity(col("embedding"), col("embedding")), 6).as("score"))
      .filter(col("score") >= NearDupThreshold)
      .localCheckpoint()
    fams.unpersist()
    val cross = repPairs
      .join(m.select(col("rep").as("id_a"), col("vec_id").as("a2")), Seq("id_a"))
      .join(m.select(col("rep").as("id_b"), col("vec_id").as("b2")), Seq("id_b"))
      .select(least(col("a2"), col("b2")).as("id_a"),
        greatest(col("a2"), col("b2")).as("id_b"), col("score"))
    val within = m.as("x")
      .join(m.as("y"), col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"), col("x.rep").as("rep"))
      .join(selfScores, Seq("rep"))
      .select(col("id_a"), col("id_b"), col("score"))
    cross.unionByName(within).orderBy("id_a", "id_b")
  }

  /** d09 — embedding norm statistics per label: L2 norms via an ordered
    * double fold (bit-identical to DuckDB's list_transform/list_sum),
    * then per-label min/max/stable-mean — the hygiene check a vector
    * pipeline runs before choosing a similarity metric (unnormalized
    * corpora make dot-product ranking meaningless).
    */
  def embedNorms(spark: SparkSession, dir: String): DataFrame = {
    val norm = sqrt(aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    Tables.embeddings(spark, dir)
      .select(col("label"), round(norm, 6).as("l2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
           round(min("l2"), 6).as("min_l2"),
           round(max("l2"), 6).as("max_l2"),
           (round(sum("l2"), 6) / count("l2")).as("mean_l2"))
      .orderBy("label")
  }

  /** d17 — int8 embedding quantization (the storage/serving compression
    * step of a production vector pipeline): per-vector symmetric scale
    * `max|x|`, each component rounded to `floor(x·127/scale + 0.5)` ∈
    * [-127, 127]. Pure map-side arithmetic over the array column — no
    * shuffle, no UDF. Every emitted value is bit-deterministic (IEEE
    * double ops in identical order in both engines; round-half-up via
    * floor so neither engine's round() tie-rule is involved), so the
    * quantized vector md5-matches the oracle exactly.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val absmax = aggregate(
      transform(col("embedding"), x => abs(x.cast("double"))),
      lit(0.0), (a, x) => greatest(a, x))
    val qi: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      x => when(col("scale") === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") * lit(127.0) / col("scale") + lit(0.5)))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), absmax.as("scale"))
      .select(col("vec_id"), col("scale"),
        aggregate(transform(col("embedding"), qi), lit(0L), (a, x) => a + x).as("sum_q"),
        md5(concat_ws(",", transform(col("embedding"), x => qi(x).cast("int").cast("string")))).as("q_md5"))
      .transform(sortedOnce(_, "vec_id"))
  }

  val oracleEmbedQuantize: String =
    """WITH q AS (
      |  SELECT vec_id,
      |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale,
      |         embedding::DOUBLE[] AS e
      |  FROM embeddings),
      |qq AS (
      |  SELECT vec_id, scale,
      |         list_transform(e, x -> CASE WHEN scale = 0 THEN 0
      |                                     ELSE floor(x * 127 / scale + 0.5) END) AS qv
      |  FROM q)
      |SELECT vec_id, scale,
      |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
      |  md5(array_to_string(list_transform(qv, v -> v::INT::VARCHAR), ',')) AS q_md5
      |FROM qq
      |ORDER BY vec_id""".stripMargin

  val oracleEmbedNorms: String =
    """WITH n AS (
      |  SELECT label,
      |         round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS l2
      |  FROM embeddings)
      |SELECT label, count(*) AS n,
      |  round(min(l2), 6) AS min_l2,
      |  round(max(l2), 6) AS max_l2,
      |  round(sum(l2), 6) / count(l2) AS mean_l2
      |FROM n
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** d40 — ANN recall@K as a FIRST-CLASS GATED METRIC: every
    * approximate leg (d07 hyperplane-LSH, d08 IVF, d31 PQ-ADC, d33
    * IVF-PQ) joined against the exact d06 top-K, one `(method,
    * query_id, n_hits, recall)` row per query. Until now the ANN legs
    * were oracle-checked for DETERMINISM of their candidate math only;
    * this query puts the quality claim itself on the gate's hook — the
    * oracle re-derives each method's top-K and the exact top-K
    * independently, so a recall regression (a probe bug, a codebook
    * drift) breaks the hash, exactly like d34 does for LSH banding.
    * `recall = n_hits / K` is a ratio of identical ints → exact double
    * parity.
    *
    * Scale shape: the exact leg is the d06 brute-force baseline — at
    * 100 TB this is the standard sampled evaluation (run over a query
    * SAMPLE, not the corpus; the per-query cost is one broadcast scan);
    * each join is K-row-per-query sized.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // K·queries rows, consumed once per ANN leg — checkpoint, don't
    // re-run the brute-force scan four times
    val exact = cosineTopK(spark, dir).select("query_id", "vec_id").localCheckpoint()
    def leg(name: String, df: DataFrame): DataFrame =
      exact
        .join(df.select(col("query_id"), col("vec_id")).withColumn("hit", lit(1L)),
          Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(name).as("method"), col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(TopK)).as("recall"))
    leg("d07_lsh", annLsh(spark, dir))
      .unionByName(leg("d08_ivf", annIvf(spark, dir)))
      .unionByName(leg("d31_pq", Pq.annPq(spark, dir)))
      .unionByName(leg("d33_ivfpq", Pq.annIvfPq(spark, dir)))
      .unionByName(leg("d46_rerank", Pq.annIvfRerank(spark, dir)))
      .unionByName(leg("d71_hnsw", GraphAnn.annHnsw(spark, dir)))
      .orderBy("method", "query_id")
  }

  // ---- DuckDB oracles -------------------------------------------------------

  /** d40's replay: each leg's full oracle runs as a subquery against
    * the exact top-K — algorithm-independent on both sides.
    */
  def oracleAnnRecall: String = {
    val legs = Seq(
      ("d07_lsh", oracleAnnLsh), ("d08_ivf", oracleAnnIvf),
      ("d31_pq", Pq.oracleAnnPq), ("d33_ivfpq", Pq.oracleAnnIvfPq),
      ("d46_rerank", Pq.oracleAnnIvfRerank),
      ("d71_hnsw", GraphAnn.oracleAnnHnsw)).map { case (n, sql) =>
      s"""SELECT '$n' AS method, e.query_id, count(m.vec_id) AS n_hits
         |FROM exact e LEFT JOIN (SELECT query_id, vec_id FROM ($sql)) m
         |  ON m.query_id = e.query_id AND m.vec_id = e.vec_id
         |GROUP BY 1, 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM ($oracleCosineTopK))
       |SELECT method, query_id, n_hits::BIGINT AS n_hits,
       |       n_hits::DOUBLE / $TopK AS recall
       |FROM ($legs)
       |ORDER BY method, query_id""".stripMargin
  }

  val oracleCosineTopK: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, e.vec_id,
       |         round(list_cosine_similarity(qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS score
       |  FROM q, embeddings e
       |  WHERE e.vec_id != q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, score, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** The SQL replay of the [[lloydCentroids]] rounds (materialized
    * CTEs — each round references the previous one from two places),
    * down to the `ranked`/`members` assignment relations — shared by
    * the d08 and d24 oracles. Quantized-integer centroid sums make the
    * centroid doubles bit-identical to the Spark loop's, so assignment
    * and scores hash-match.
    */
  private[graft] val lloydMembersSql: String = {
    val rounds = (1 to LloydRounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cell) AS rn
         |    FROM e v, c${r - 1} c) WHERE rn = 1),
         |c$r AS MATERIALIZED (
         |  SELECT cell, list(cd ORDER BY d) AS ce FROM (
         |    SELECT cell, d,
         |           sum(floor(e[d] * $QuantScale + 0.5))::BIGINT / ($QuantScale * count(*)) AS cd
         |    FROM a$r, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS d) u
         |    GROUP BY cell, d)
         |  GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""kc AS MATERIALIZED (SELECT $numCellsSql AS k FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT vec_id::INT AS cell, e AS ce FROM e WHERE vec_id < (SELECT k FROM kc)),
       |$rounds,
       |scored AS (
       |  SELECT v.vec_id, v.e AS embedding, c.cell,
       |         list_cosine_similarity(v.e, c.ce) AS cscore
       |  FROM e v, c$LloydRounds c),
       |ranked AS (
       |  SELECT vec_id, embedding, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) AS crank
       |  FROM scored),
       |members AS (SELECT vec_id, embedding, cell FROM ranked WHERE crank = 1)""".stripMargin
  }

  val oracleAnnIvf: String = {
    s"""WITH $lloydMembersSql,
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe, cell FROM ranked
       |  WHERE crank <= $NProbe AND vec_id < $NumQueries),
       |cand AS (
       |  SELECT query_id, m.vec_id, m.cell,
       |         round(list_cosine_similarity(qe, m.embedding), 6) AS score
       |  FROM probes p JOIN members m USING (cell)
       |  WHERE m.vec_id != p.query_id),
       |r AS (
       |  SELECT query_id, vec_id, cell, score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, vec_id) AS INT) AS rank
       |  FROM cand)
       |SELECT query_id, vec_id, cell, score, rank
       |FROM r WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  private[llm] def planeSqlLiteral(p: Int): String =
    planes(p).map(w => if (w == w.toLong.toDouble) s"${w.toLong}.0" else w.toString)
      .mkString("[", ", ", "]::DOUBLE[]")

  val oracleAnnLsh: String = {
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeSqlLiteral(p)}) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucketExpr AS bucket
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe, bucket FROM b
       |  WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id, e.bucket,
       |         round(list_cosine_similarity(qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS score
       |  FROM q JOIN b e ON bit_count(xor(e.bucket::BIGINT, q.bucket::BIGINT)) <= 1
       |  WHERE e.vec_id != q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, bucket, score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, bucket, score, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- Random-projection dimensionality reduction -----------------------------

  val ProjDim = 16

  /** Deterministic Johnson–Lindenstrauss projection matrix (16×64),
    * derived from the portable hash exactly like [[planes]] — no RNG,
    * reproducible in the SQL oracle. Weights ∈ [-1, 1], 1/1000
    * resolution.
    */
  val projMatrix: Array[Array[Double]] = Array.tabulate(ProjDim, Dim) { (p, d) =>
    ((TextHash.jvmHash(s"proj$p,$d", 11) % 2001L) - 1000L) / 1000.0
  }

  /** d21 — random-projection dimensionality reduction: every 64-dim
    * embedding maps to a 16-dim JL sketch (`y_p = ⟨e, r_p⟩`, rounded to
    * 6 before emission like every similarity score). JL projections
    * approximately preserve pairwise distances, so the sketch is the
    * cheap pre-filter a 100 TB vector pipeline stores next to (or
    * instead of) the full vectors.
    *
    * Pure map-side: 16 ordered-fold dot products per row, no shuffle,
    * no UDF — at scale this runs at scan speed and the output is 4×
    * smaller than the input column. The fold accumulates in index
    * order, bit-matching DuckDB's sequential `list_dot_product`.
    */
  def embedProject(spark: SparkSession, dir: String): DataFrame = {
    val comps = projMatrix.zipWithIndex.map { case (row, p) =>
      round(aggregate(
        zip_with(col("embedding"), typedlit(row.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x), 6).as(f"y$p%02d")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: comps.toIndexedSeq: _*)
      .transform(sortedOnce(_, "vec_id"))
  }

  private def projSqlLiteral(p: Int): String =
    projMatrix(p).map(w => if (w == w.toLong.toDouble) s"${w.toLong}.0" else w.toString)
      .mkString("[", ", ", "]::DOUBLE[]")

  val oracleEmbedProject: String = {
    val comps = (0 until ProjDim).map { p =>
      f"round(list_dot_product(embedding::DOUBLE[], ${projSqlLiteral(p)}), 6) AS y$p%02d"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $comps
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin
  }

  // -- SemDeDup: cluster-scoped semantic dedup --------------------------------

  /** d24 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * dedup scoped to k-means clusters. Every embedding is assigned to
    * its nearest [[lloydCentroids]] centroid (the d08 assignment);
    * pairwise cosine runs ONLY within a cell, and a vector is dropped
    * when a same-cell vector with a smaller id scores ≥
    * [[NearDupThreshold]] (the d01 min-id-canonical rule, applied to
    * semantic rather than exact duplicates).
    *
    * Scale shape — the published method's reason for existing: the
    * cluster key bounds the quadratic term. The self-join is an
    * EQUI-join on `cell` (never corpus×corpus), so cost is Σ|cell|²
    * and the cell is the shuffle/cluster key; doubling the corpus with
    * the same k doubles per-cell mass, not the pair space. Emits every
    * vector with its cell, same-cell duplicate count, and keep flag.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    // feeds both sides of the self-join plus the final projection —
    // uncached the centroid-assignment window would run three times
    val members = ivfMembers(spark, dir)
      .persist()
    val dups = members.as("a")
      .join(members.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(cosineSimilarity(col("a.embedding"), col("b.embedding")), 6)
        >= NearDupThreshold)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("dup_count"))
    members.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_count"), lit(0L)).as("n_dups"),
        col("dup_count").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val oracleSemDedup: String =
    s"""WITH $lloydMembersSql,
       |dups AS (
       |  SELECT b.vec_id, count(*) AS dup_count
       |  FROM members a JOIN members b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= $NearDupThreshold
       |  GROUP BY b.vec_id)
       |SELECT m.vec_id, m.cell,
       |  coalesce(dup_count, 0)::BIGINT AS n_dups,
       |  (dup_count IS NULL) AS keep
       |FROM members m LEFT JOIN dups USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  val oracleEmbedNearDup: String = {
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeSqlLiteral(p)}) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucketExpr AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS id_a, e.vec_id AS id_b,
       |       round(list_cosine_similarity(a.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS score
       |FROM b a JOIN b e
       |  ON bit_count(xor(a.bucket::BIGINT, e.bucket::BIGINT)) <= 1 AND a.vec_id < e.vec_id
       |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- d50: IVF probe-sensitivity sweep -------------------------------------

  val ProbeSweep = Seq(1, 2, 4, 8)

  /** d50 — IVF probe-sensitivity report (the d34 banding sweep for the
    * vector index): recall@K and scanned-fraction for every
    * `nprobe ∈ {1,2,4,8}` from ONE shared assignment pass. The key
    * observation: a candidate (query, vec) pair is scanned at nprobe p
    * iff the rank of the vector's cell in the query's cell ranking is
    * ≤ p — so ranking every query against all cells ONCE and
    * histogramming pairs/hits by that cell-rank yields the whole sweep
    * as cumulative sums over ≤ [[numCells]](n) rows; the corpus is never
    * re-probed per configuration. This is the tuning table an index
    * operator reads to pick nprobe (recall vs cost) before committing
    * a 100 TB build.
    *
    * Scale shape: one (vec, cell) ranking window (d08's shape), one
    * bucketed members⋈probes equi-join on cell, K·queries exact rows
    * (the d40 sampled-evaluation stance) — then O(cells) driver math
    * (the Percentiles bounded-driver-state pattern). Integer counts;
    * `recall` is an int/int ratio, `scanned_ppm` truncating division.
    */
  def ivfProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val members = ivfMembers(spark, dir)
      .select(col("vec_id"), col("cell")).localCheckpoint()
    // the sweep ranks DEEPER than the index's NProbe cut, but only for
    // the bounded query panel — corpus-free recompute
    val probes = panelRankedAll(spark, dir)
      .select(col("vec_id").as("query_id"), col("cell"), col("crank"))
      .localCheckpoint()
    val scannedByRank = members.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("crank").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hitsByRank = cosineTopK(spark, dir).select("query_id", "vec_id")
      .join(members, Seq("vec_id"))
      .join(broadcast(probes), Seq("query_id", "cell"))
      .groupBy("crank").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val corpusN = Tables.embeddings(spark, dir).count()
    val rows = ProbeSweep.map { p =>
      val scanned = (1 to p).map(scannedByRank.getOrElse(_, 0L)).sum
      val hits = (1 to p).map(hitsByRank.getOrElse(_, 0L)).sum
      Row(p, scanned, hits, hits.toDouble / (TopK.toLong * NumQueries),
        scanned * 1000000L / (NumQueries.toLong * corpusN))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("nprobe", IntegerType, nullable = false),
      StructField("scanned", LongType, nullable = false),
      StructField("n_hits", LongType, nullable = false),
      StructField("recall", DoubleType, nullable = false),
      StructField("scanned_ppm", LongType, nullable = false))))
      .orderBy("nprobe")
  }

  /** SQL replay: the same cell-rank histograms as correlated sums over
    * the Lloyd `ranked` relation — algorithm-independent exact leg.
    */
  lazy val oracleIvfProbeSweep: String =
    s"""WITH $lloydMembersSql,
       |exact AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM ($oracleCosineTopK)),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, crank FROM ranked
       |  WHERE vec_id < $NumQueries),
       |sc AS MATERIALIZED (
       |  SELECT p.crank, count(*)::BIGINT AS n
       |  FROM members m JOIN probes p ON m.cell = p.cell
       |  WHERE m.vec_id != p.query_id
       |  GROUP BY 1),
       |h AS MATERIALIZED (
       |  SELECT p.crank, count(*)::BIGINT AS n
       |  FROM exact e
       |  JOIN members m ON e.vec_id = m.vec_id
       |  JOIN probes p ON p.query_id = e.query_id AND p.cell = m.cell
       |  GROUP BY 1),
       |nv AS (SELECT count(*)::BIGINT AS cn FROM e),
       |grid AS (
       |  SELECT pl.nprobe,
       |    (SELECT coalesce(sum(n), 0) FROM sc WHERE crank <= pl.nprobe)::BIGINT AS scanned,
       |    (SELECT coalesce(sum(n), 0) FROM h WHERE crank <= pl.nprobe)::BIGINT AS n_hits
       |  FROM (SELECT unnest([${ProbeSweep.mkString(", ")}]) AS nprobe) pl)
       |SELECT nprobe::INT AS nprobe, scanned, n_hits,
       |       n_hits::DOUBLE / ${TopK * NumQueries} AS recall,
       |       (scanned * 1000000 // ($NumQueries * nv.cn))::BIGINT AS scanned_ppm
       |FROM grid CROSS JOIN nv
       |ORDER BY nprobe""".stripMargin

  // -- d58: IVF cell purity vs labels ----------------------------------------

  /** d58 — clustering-quality evaluation: per IVF cell, the member
    * count, the majority label (ties → lowest label), and purity in
    * integer per-mille. The audit a SemDeDup-style embedding-cluster
    * pruning pass needs before trusting cell membership as a
    * semantic-duplicate signal: low-purity cells mean the quantizer is
    * mixing concepts and pruning inside them destroys diversity.
    *
    * Scale shape: rank-1 assignment is the d08 broadcast-centroid scan
    * (no shuffle); the purity report is two keyed aggregates over
    * (cell, label) — O(cells × labels) rows after the first combine.
    */
  def cellPurity(spark: SparkSession, dir: String): DataFrame = {
    val members = ivfMembers(spark, dir)
      .select(col("vec_id"), col("cell"))
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        Seq("vec_id"))
    val cl = members.groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy("cell").orderBy(col("n").desc, col("label"))
    cl.withColumn("rn", row_number().over(wTop))
      .withColumn("n_vecs", sum("n").over(Window.partitionBy("cell")))
      .filter(col("rn") === 1)
      .select(col("cell"), col("n_vecs"), col("label").as("top_label"),
        col("n").as("top_n"), expr("n * 1000 div n_vecs").as("purity_pm"))
      .orderBy("cell")
  }

  lazy val oracleCellPurity: String =
    s"""WITH $lloydMembersSql,
       |lab AS (
       |  SELECT m.cell, emb.label FROM members m JOIN embeddings emb USING (vec_id)),
       |cl AS (SELECT cell, label, count(*)::BIGINT AS n FROM lab GROUP BY 1, 2),
       |tot AS (SELECT cell, sum(n)::BIGINT AS n_vecs FROM cl GROUP BY 1),
       |top AS (
       |  SELECT cell, label AS top_label, n AS top_n FROM (
       |    SELECT cell, label, n,
       |           row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rn
       |    FROM cl) WHERE rn = 1)
       |SELECT tot.cell::INT AS cell, tot.n_vecs, top.top_label, top.top_n,
       |       (top.top_n * 1000 // tot.n_vecs)::BIGINT AS purity_pm
       |FROM tot JOIN top USING (cell)
       |ORDER BY cell""".stripMargin

  // -- d56: hard-negative mining ---------------------------------------------

  /** d56 — hard-negative mining for contrastive training: for each
    * probe vector the [[TopK]] most-cosine-similar vectors whose
    * `label` DIFFERS from the probe's, plus the margin against the
    * probe's best same-label score. Negatives with margin near (or
    * above) zero are the "hard" ones an embedding trainer wants in the
    * batch; easy negatives rank far below.
    *
    * Scale shape: identical to d06 — probes broadcast, ONE corpus scan
    * scores every (probe, candidate) pair map-side via the fused
    * [[graft.expr.CosineSimilarity]] codegen loop, and both the
    * best-positive max and the negative top-k ride the same
    * query_id-partitioned exchange. Scores round to 6 decimals before
    * ranking so tie-breaks (score DESC, vec_id ASC) are
    * engine-independent.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        round(cosineSimilarity(col("qe"), col("embedding")), 6).as("score"))
    val qW = Window.partitionBy("query_id")
    val negW = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("top_pos_score",
        max(when(col("label") === col("qlabel"), col("score"))).over(qW))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("rank", row_number().over(negW))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        col("score"), col("rank"),
        round(col("score") - col("top_pos_score"), 6).as("margin"))
      .orderBy("query_id", "rank")
  }

  val oracleHardNegatives: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe, label AS qlabel FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, qlabel, e.vec_id, e.label,
       |         round(list_cosine_similarity(qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS score
       |  FROM q, embeddings e
       |  WHERE e.vec_id != q.query_id),
       |pos AS (
       |  SELECT query_id, max(score) AS top_pos_score
       |  FROM scored WHERE label = qlabel GROUP BY 1),
       |ranked AS (
       |  SELECT s.query_id, s.qlabel, s.vec_id, s.label, s.score,
       |         CAST(row_number() OVER (PARTITION BY s.query_id
       |                                 ORDER BY s.score DESC, s.vec_id) AS INT) AS rank,
       |         round(s.score - p.top_pos_score, 6) AS margin
       |  FROM scored s LEFT JOIN pos p USING (query_id)
       |  WHERE s.label != s.qlabel)
       |SELECT query_id, qlabel, vec_id, label, score, rank, margin
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // -- d61: cross-split semantic decontamination ------------------------------

  /** Cosine above which a held-out vector counts as leaked into train.
    * Fixture-calibrated: the corpus max pairwise cosine is ~0.51 at
    * sf0.01 and ~0.60 at sf0.1, so 0.40 yields a genuine true/false
    * mix at every SF (a production embedding space would pin ~0.95);
    * the threshold is a named constant so both engines compare against
    * the same double literal.
    */
  val LeakTau = 0.40

  /** Above this many held-out rows the d61 probe side stops
    * BROADCASTING (and s26 stops re-materializing it from driver
    * memory): under the d13 hash-split rule the held-out side is a
    * fixed FRACTION of the corpus, not a fixed-size eval set, so an
    * unconditional broadcast grows linearly with data — the one
    * scale-killer shape the round-7 audit found in the tree. Below
    * the bound (~2 MB of vectors) broadcast is strictly best; above
    * it the exact all-pairs runs as a partition-pair cartesian with
    * BOTH sides distributed, so peak memory per task stays
    * O(bound) and broadcast bytes stay flat at any corpus size.
    */
  val LeakBroadcastMaxRows = 8192L

  /** d61 — embedding-space train/held-out leakage (the semantic
    * counterpart of d18's n-gram decontamination): for every val/test
    * vector under the [[Sampling]] split rule, the EXACT max cosine
    * against the train split, the nearest train vector (ties broken to
    * the smallest id on the 6-dp rounded score), the count of train
    * vectors above [[LeakTau]], and the leak verdict.
    *
    * Scale shape: the exact check is inherently |train|×|heldout|
    * cosines; what must NOT grow with the corpus is driver/executor
    * RESIDENT state. Below [[LeakBroadcastMaxRows]] the held-out side
    * broadcasts and the train corpus streams through in ONE map-side
    * pass; above it the join becomes a partition-pair cartesian
    * (held-out re-chunked to ≤bound-row partitions, train spread by
    * compute) — same arithmetic, no unbounded broadcast. Either way
    * the per-(held-out, partition) max/count partials fold in the
    * hash aggregate before the only shuffle, and the struct max
    * carries (score, -train_id) so the argmax needs no second pass.
    * (At production scale one would IVF-prune candidates first — d08's
    * index — and keep this exact pass for the pruned survivors; the
    * exact semantics gated here are the calibration for that.)
    */
  def xsplitLeakage(spark: SparkSession, dir: String): DataFrame =
    xsplitLeakageBounded(spark, dir, LeakBroadcastMaxRows)

  /** [[xsplitLeakage]] with an explicit broadcast bound — the spec
    * forces the over-bound partition-pair cartesian branch on the
    * gated fixture and asserts it is row-identical to the broadcast
    * plan (the two branches must be plan-only variants of one query).
    */
  private[graft] def xsplitLeakageBounded(
      spark: SparkSession, dir: String, maxRows: Long): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("split", Sampling.splitCol(col("vec_id")))
    val heldout = emb.filter(col("split") =!= "train")
      .select(col("vec_id").as("test_vec_id"), col("split"),
        col("embedding").as("te"))
    // the probe is compute-dense (|heldout| cosines per train row), so
    // the train side must be partitioned by COMPUTE, not bytes — a
    // single small parquet split (or an AQE byte-coalesced stage)
    // serializes the whole scan onto one task (the d35 lesson; measured
    // 54 s single-task vs ~4 s spread at 32×). On a real corpus the
    // scan's natural splits provide this for free; the round-robin
    // exchange here moves only (id, 256 B vector) rows.
    val train = emb.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism * 2)
    // persist across the sizing count and the join, or the count's
    // full split-evaluation scan re-runs inside the probe plan; the
    // count itself is one O(1) driver scalar (the d64 rule). NOTE:
    // above the bound the plain crossJoin avoids broadcast only while
    // heldout's size stats exceed spark.sql.autoBroadcastJoinThreshold
    // — the hint-free branch delegates that choice to the planner by
    // design (the partition-pair cartesian is the fallback shape).
    heldout.persist()
    val nHeld = heldout.count()
    val probed =
      if (nHeld <= maxRows) train.crossJoin(broadcast(heldout))
      else {
        val chunks = ((nHeld + maxRows - 1) / maxRows).toInt
        train.crossJoin(heldout.repartition(chunks))
      }
    val out = probed
      .select(col("test_vec_id"), col("split"), col("train_id"),
        round(cosineSimilarity(col("te"), col("embedding")), 6).as("score"))
      .groupBy("test_vec_id", "split")
      .agg(
        max(struct(col("score"), (-col("train_id")).as("nid"))).as("nn"),
        sum(when(col("score") >= LeakTau, 1L).otherwise(0L)).as("n_leaks"))
      .select(col("test_vec_id"), col("split"),
        col("nn.score").as("nn_score"),
        (-col("nn.nid")).as("nn_train_id"),
        col("n_leaks"),
        (col("nn.score") >= LeakTau).as("leaked"))
      .orderBy("test_vec_id")
      // eager: one report row per held-out vector; checkpointing frees
      // the heldout cache immediately instead of leaving it to pressure
      // executor storage across the rest of a 229-query run
      .localCheckpoint()
    heldout.unpersist()
    out
  }

  val oracleXsplitLeakage: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         ${Sampling.splitCaseSql("vec_id")} AS split
       |  FROM embeddings),
       |sc AS (
       |  SELECT t.vec_id AS test_vec_id, t.split, tr.vec_id AS train_id,
       |         round(list_cosine_similarity(t.embedding::DOUBLE[],
       |                                      tr.embedding::DOUBLE[]), 6) AS score
       |  FROM e t, e tr
       |  WHERE t.split <> 'train' AND tr.split = 'train'),
       |agg AS (
       |  SELECT test_vec_id, split, max(score) AS nn_score,
       |         count(*) FILTER (score >= $LeakTau)::BIGINT AS n_leaks
       |  FROM sc GROUP BY 1, 2),
       |nn AS (
       |  SELECT sc.test_vec_id, min(sc.train_id) AS nn_train_id
       |  FROM sc JOIN agg USING (test_vec_id)
       |  WHERE sc.score = agg.nn_score GROUP BY 1)
       |SELECT a.test_vec_id, a.split, a.nn_score, nn.nn_train_id, a.n_leaks,
       |       a.nn_score >= $LeakTau AS leaked
       |FROM agg a JOIN nn USING (test_vec_id)
       |ORDER BY test_vec_id""".stripMargin

  // -- d63: embedding-space split drift ----------------------------------------

  /** d63 — split representativeness in EMBEDDING space: the cosine
    * between the centroids of every d13 split pair — the vector-side
    * complement of d57's scalar KS test (a split whose centroid points
    * away from train's is topically skewed even when its length
    * distribution matches). Per-dimension sums quantize to longs
    * (`floor(x·2²⁰ + 0.5)`, the Lloyd parity trick) so partials
    * re-aggregate associatively and both engines hold identical
    * integers; the 64-term cosine fold is the only float reduction and
    * rides the 6-dp round.
    *
    * Scale shape: ONE corpus pass — posexplode + (split, dim)-keyed
    * hash agg with map-side partials down to |splits|×64 rows; the
    * pair join and norms live on that bounded relation. 3 result rows.
    */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("split", Sampling.splitCol(col("vec_id")))
    val sums = emb
      .select(col("split"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("split", "pos")
      .agg(sum(floor(col("x").cast("double") * QuantScale + lit(0.5))
        .cast("long")).as("s"))
      .persist() // feeds the norms AND both sides of the pair join
    val counts = emb.groupBy("split").agg(count(lit(1)).as("n"))
    val norms = sums.groupBy("split")
      .agg(sum(col("s").cast("double") * col("s")).as("nsq"))
    val a = sums.select(col("split").as("split_a"), col("pos"), col("s").as("sa"))
    val b = sums.select(col("split").as("split_b"), col("pos"), col("s").as("sb"))
    a.join(b, Seq("pos")).filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(sum(col("sa").cast("double") * col("sb")).as("dot"))
      .join(broadcast(counts.select(col("split").as("split_a"), col("n").as("n_a"))), Seq("split_a"))
      .join(broadcast(counts.select(col("split").as("split_b"), col("n").as("n_b"))), Seq("split_b"))
      .join(broadcast(norms.select(col("split").as("split_a"), col("nsq").as("nsq_a"))), Seq("split_a"))
      .join(broadcast(norms.select(col("split").as("split_b"), col("nsq").as("nsq_b"))), Seq("split_b"))
      .select(col("split_a"), col("split_b"), col("n_a"), col("n_b"),
        round(col("dot") / sqrt(col("nsq_a") * col("nsq_b")), 6).as("centroid_cos"))
      .orderBy("split_a", "split_b")
  }

  lazy val oracleCentroidDrift: String = {
    val split = Sampling.splitCaseSql("vec_id")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $split AS split FROM embeddings),
       |x AS (
       |  SELECT split, i AS pos,
       |         CAST(floor(embedding[i + 1]::DOUBLE * $QuantScale + 0.5) AS BIGINT) AS q
       |  FROM e, LATERAL (SELECT unnest(range($Dim)) AS i) t),
       |s AS (SELECT split, pos, sum(q)::BIGINT AS s FROM x GROUP BY 1, 2),
       |n AS (SELECT split, count(*)::BIGINT AS n FROM e GROUP BY 1),
       |nsq AS (SELECT split, sum(s::DOUBLE * s) AS nsq FROM s GROUP BY 1),
       |d AS (
       |  SELECT a.split AS split_a, b.split AS split_b,
       |         sum(a.s::DOUBLE * b.s) AS dot
       |  FROM s a JOIN s b USING (pos)
       |  WHERE a.split < b.split GROUP BY 1, 2)
       |SELECT split_a, split_b, na.n AS n_a, nb.n AS n_b,
       |  round(dot / sqrt(qa.nsq * qb.nsq), 6) AS centroid_cos
       |FROM d
       |JOIN n na ON na.split = d.split_a
       |JOIN n nb ON nb.split = d.split_b
       |JOIN nsq qa ON qa.split = d.split_a
       |JOIN nsq qb ON qb.split = d.split_b
       |ORDER BY split_a, split_b""".stripMargin
  }

  // -- d64: kNN-graph reciprocity ----------------------------------------------

  val KnnK = 5

  /** Target probe-panel size for d64: the sampling step is derived
    * from the corpus count (`⌈n/512⌉`), so the panel stays ~512 nodes
    * no matter how the corpus grows — the diagnostic's panel² cost is
    * CONSTANT, not corpus-quadratic (the first cut used a fixed 1-in-4
    * rate and measured 0.4 s → 16 s at 8× docs; a fixed-SIZE panel is
    * the only shape that survives 100 TB).
    */
  val KnnPanelTarget = 512L

  /** d64 — mutual-kNN reciprocity over a fixed probe panel: build the
    * exact k-nearest-neighbour digraph on a deterministic ~[[KnnPanelTarget]]-node
    * sample and measure, per node, its in-degree and how many of its k
    * out-edges are RECIPROCATED. A healthy embedding space is locally
    * symmetric (reciprocity near 1); hubness — a few points appearing
    * in everyone's top-k while reciprocating almost nothing — is the
    * classic symptom of anisotropic/collapsed representations
    * (Radovanović et al. 2010) and predicts bad ANN recall before any
    * index is built. Complements d40 (which audits the INDEX against
    * exact top-k; this audits the SPACE itself).
    *
    * Scale shape: the panel is a deterministic fixed-SIZE sample (step
    * ⌈n/target⌉ over vec_id) — the diagnostic's cost is panel²,
    * independent of how the corpus grows around it, and the panel side
    * broadcasts so candidates never shuffle (the d06 shape). The only
    * corpus-sized work is the count that picks the step. At full scale
    * the same statistic runs on d08's IVF top-k instead of the exact
    * panel; the exact panel IS the calibration for that, the same way
    * d40 calibrates recall.
    */
  def knnReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // O(1) driver scalar (the d36 `n` precedent), deciding the step only
    val step = (emb.count() + KnnPanelTarget - 1L) / KnnPanelTarget
    val panel = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
    val left = panel.select(col("vec_id").as("u"), col("embedding").as("eu"))
    val right = panel.select(col("vec_id").as("v"), col("embedding").as("ev"))
    val w = Window.partitionBy("u").orderBy(col("score").desc, col("v"))
    val edges = left.crossJoin(broadcast(right))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"),
        round(cosineSimilarity(col("eu"), col("ev")), 6).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select("u", "v")
      .persist() // feeds out-deg, in-deg AND both sides of the mutual join
    val outDeg = edges.groupBy("u").agg(count(lit(1)).as("out_deg"))
    val inDeg = edges.groupBy(col("v").as("u")).agg(count(lit(1)).as("in_deg"))
    val mutual = edges
      .join(edges.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"), "leftsemi")
      .groupBy("u").agg(count(lit(1)).as("n_mutual"))
    // every side is panel-bounded (≤ ~KnnPanelTarget rows) — broadcast
    // the report joins so none plans as a sort-merge exchange pair
    panel.select(col("vec_id").as("u"))
      .join(broadcast(outDeg), Seq("u"), "left")
      .join(broadcast(inDeg), Seq("u"), "left")
      .join(broadcast(mutual), Seq("u"), "left")
      .select(col("u").as("vec_id"),
        col("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        expr("coalesce(n_mutual, 0L) * 1000 DIV out_deg").as("recip_pm"))
      .orderBy("vec_id")
  }

  val oracleKnnReciprocity: String =
    s"""WITH st AS (
       |  SELECT (count(*) + $KnnPanelTarget - 1) // $KnnPanelTarget AS step
       |  FROM embeddings),
       |s AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % (SELECT step FROM st) = 0),
       |sc AS (
       |  SELECT a.vec_id AS u, b.vec_id AS v,
       |         round(list_cosine_similarity(
       |           a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
       |  FROM s a JOIN s b ON a.vec_id <> b.vec_id),
       |e AS (
       |  SELECT u, v FROM (
       |    SELECT u, v,
       |           row_number() OVER (PARTITION BY u ORDER BY score DESC, v) AS rk
       |    FROM sc)
       |  WHERE rk <= $KnnK),
       |od AS (SELECT u, count(*)::BIGINT AS out_deg FROM e GROUP BY 1),
       |idg AS (SELECT v AS u, count(*)::BIGINT AS in_deg FROM e GROUP BY 1),
       |m AS (
       |  SELECT e.u, count(*)::BIGINT AS n_mutual
       |  FROM e JOIN e r ON e.u = r.v AND e.v = r.u GROUP BY 1)
       |SELECT s.vec_id, od.out_deg,
       |  COALESCE(idg.in_deg, 0)::BIGINT AS in_deg,
       |  COALESCE(m.n_mutual, 0)::BIGINT AS n_mutual,
       |  (COALESCE(m.n_mutual, 0) * 1000 // od.out_deg)::BIGINT AS recip_pm
       |FROM s
       |LEFT JOIN od ON od.u = s.vec_id
       |LEFT JOIN idg ON idg.u = s.vec_id
       |LEFT JOIN m ON m.u = s.vec_id
       |ORDER BY vec_id""".stripMargin

  // -- d65: per-label anisotropy -----------------------------------------------

  /** d65 — representation-collapse check per label: the anisotropy
    * ratio `|Σx|² / (n·Σ|x|²)` (= ‖mean‖²/E‖x‖², cosine-regime version
    * of Ethayarajh 2019's anisotropy measure) plus the single dimension
    * carrying the most centroid mass and its share. A label whose
    * vectors all point the same way (ratio → 1) or whose mean is
    * dominated by one rogue dimension is a collapsed / mis-scaled
    * cluster — caught here before it poisons every cosine-based dedup
    * and ANN pass downstream.
    *
    * Parity: per-dimension sums quantize to longs (the d63 Lloyd
    * trick) so partials are exact in both engines; the two 64-term
    * double folds (Σs², and the quotient) ride the 6-dp round exactly
    * as d63's cosine fold does. Σq² stays a BIGINT.
    *
    * Scale shape: ONE corpus pass — posexplode + (label, dim)-keyed
    * hash agg with map-side partials down to |labels|×64 rows;
    * everything after lives on that bounded relation. |labels| rows out.
    */
  /** Per-(label, dim) quantized component sums — the exact substrate
    * shared by d65 (anisotropy) and d67 (outliers): `s = Σ⌊x·2²⁰+0.5⌋`
    * and `qq = Σq²` over the label's members.
    */
  private def labelDims(emb: DataFrame): DataFrame = emb
    .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
    .select(col("label"), col("pos"),
      floor(col("x").cast("double") * QuantScale + lit(0.5)).cast("long").as("q"))
    .groupBy("label", "pos")
    .agg(sum("q").as("s"), sum(col("q") * col("q")).as("qq"))

  def labelAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dims = labelDims(emb)
      .persist() // feeds the per-label fold AND the top-dim window
    val agg = dims.groupBy("label")
      .agg(sum(col("s").cast("double") * col("s")).as("ssq"),
        sum("qq").as("qsum"))
    val wTop = Window.partitionBy("label").orderBy(abs(col("s")).desc, col("pos"))
    val top = dims.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .select(col("label"), col("pos").as("top_dim"), col("s").as("s_top"))
    val counts = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    agg.join(top, Seq("label")).join(broadcast(counts), Seq("label"))
      .select(col("label"), col("n_vecs"), col("top_dim"),
        round(col("s_top").cast("double") * col("s_top") / col("ssq"), 6)
          .as("top_share"),
        round(col("ssq") / (col("n_vecs").cast("double") * col("qsum")), 6)
          .as("anisotropy"))
      .orderBy("label")
  }

  // -- d70: IVF cell-balance audit ----------------------------------------------

  /** d70 — IVF index balance audit: the per-cell population of the
    * rank-1 Lloyd assignment, each cell's corpus share and its load
    * factor vs the uniform ideal (n·k/N, in per-mille). The third leg
    * of the index-health triad — d40 audits RECALL, d58 audits label
    * PURITY, d70 audits BALANCE: a cell at several× the uniform load
    * is the classic IVF failure (probe latency spikes and recall drops
    * exactly on the hot cell), and empty cells mean wasted probes. At
    * a billion vectors this report IS the re-train trigger for the
    * coarse quantizer.
    *
    * Integer arithmetic throughout; empty cells are emitted with
    * n_vecs = 0 (a LEFT join from the centroid list, not the members),
    * because an empty cell is precisely the defect being audited.
    */
  def cellBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = ivfMembers(spark, dir)
    val counts = members.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val n = Tables.embeddings(spark, dir).count()
    val k = cellCount(spark, dir)
    // ALL of 0 until k unconditionally — the oracle's range()
    // convention. Deriving the list from lloydCentroids diverges when
    // a cell loses every member in some Lloyd round (or the corpus has
    // < k seeds): the centroid drops out of the surviving set
    // while the oracle still emits the cell with n_vecs = 0 — and an
    // empty cell is precisely the defect this audit reports.
    val cells = (0 until k).toDF("cell")
    cells.join(broadcast(counts), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .withColumn("share_pm", expr(s"n_vecs * 1000 DIV $n"))
      .withColumn("load_pm", expr(s"n_vecs * $k * 1000 DIV $n"))
      .orderBy("cell")
  }

  lazy val oracleCellBalance: String =
    s"""WITH $lloydMembersSql,
       |cn AS (SELECT cell, count(*)::BIGINT AS n_vecs FROM members GROUP BY 1),
       |nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
       |cl AS (SELECT unnest(range((SELECT k FROM kc))) AS cell)
       |SELECT cl.cell::INT AS cell,
       |  coalesce(cn.n_vecs, 0)::BIGINT AS n_vecs,
       |  (coalesce(cn.n_vecs, 0) * 1000 // (SELECT n FROM nn))::BIGINT AS share_pm,
       |  (coalesce(cn.n_vecs, 0) * (SELECT k FROM kc) * 1000 // (SELECT n FROM nn))::BIGINT AS load_pm
       |FROM cl LEFT JOIN cn ON cn.cell = cl.cell
       |ORDER BY cell""".stripMargin

  // -- d67: per-label semantic outliers ----------------------------------------

  /** Outliers reported per label (the cos-to-centroid bottom-k). */
  val OutlierK = 5

  /** d67 — semantic outlier / mislabel detection: for every label, the
    * [[OutlierK]] members whose cosine to the LABEL CENTROID is lowest
    * — the confident-learning-style cleanup list (a point far from its
    * own label's centroid is mislabeled, an annotation error, or a
    * genuine boundary case; all three are reviewed before the label is
    * trusted by d56's negative mining or d58's purity pruning).
    *
    * Parity: cosine is scale-invariant, so the centroid can stay in
    * QUANTIZED-SUM form — `dot = Σ q_x·S_label` and `|q_x|²` are exact
    * BIGINTs, and only `|S|²` (d65's 64-term fold) is a double; the
    * score is one division under the 6-dp round. Ranking is
    * (cos ASC, vec_id) per label — engine-independent after rounding.
    *
    * Scale shape: the (label, dim) sum table is |labels|×64 and
    * BROADCASTS; the corpus makes ONE posexplode pass whose
    * (vec, label)-keyed partial agg collapses map-side (all 64 rows of
    * a vector are adjacent), so the shuffle carries one row per
    * vector. The bottom-k window runs per label on scored rows.
    */
  def labelOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dims = labelDims(emb).persist() // feeds ssq AND the dot join
    val ssq = dims.groupBy("label")
      .agg(sum(col("s").cast("double") * col("s")).as("ssq"))
    val pts = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x").cast("double") * QuantScale + lit(0.5)).cast("long").as("q"))
    val scored = pts
      .join(broadcast(dims.select("label", "pos", "s")), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(col("q") * col("s")).as("dot"), sum(col("q") * col("q")).as("qq"))
      .join(broadcast(ssq), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(col("dot").cast("double")
          / sqrt(col("qq").cast("double") * col("ssq")), 6).as("cos_c"))
    val w = Window.partitionBy("label").orderBy(col("cos_c").asc, col("vec_id"))
    scored.withColumn("orank", row_number().over(w))
      .filter(col("orank") <= OutlierK)
      .orderBy("label", "orank")
  }

  val oracleLabelOutliers: String =
    s"""WITH x AS (
       |  SELECT vec_id, label, i AS pos,
       |         CAST(floor(embedding[i + 1]::DOUBLE * $QuantScale + 0.5) AS BIGINT) AS q
       |  FROM embeddings, LATERAL (SELECT unnest(range($Dim)) AS i) t),
       |d AS (SELECT label, pos, sum(q)::BIGINT AS s FROM x GROUP BY 1, 2),
       |nsq AS (SELECT label, sum(s::DOUBLE * s) AS ssq FROM d GROUP BY 1),
       |p AS (
       |  SELECT x.vec_id, x.label,
       |         sum(x.q * d.s)::BIGINT AS dot, sum(x.q * x.q)::BIGINT AS qq
       |  FROM x JOIN d ON d.label = x.label AND d.pos = x.pos
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT p.vec_id, p.label,
       |         round(p.dot::DOUBLE / sqrt(p.qq::DOUBLE * n.ssq), 6) AS cos_c
       |  FROM p JOIN nsq n USING (label))
       |SELECT vec_id, label, cos_c,
       |  CAST(row_number() OVER (PARTITION BY label ORDER BY cos_c, vec_id) AS INT) AS orank
       |FROM sc
       |QUALIFY orank <= $OutlierK
       |ORDER BY label, orank""".stripMargin

  val oracleLabelAnisotropy: String =
    s"""WITH x AS (
       |  SELECT label, i AS pos,
       |         CAST(floor(embedding[i + 1]::DOUBLE * $QuantScale + 0.5) AS BIGINT) AS q
       |  FROM embeddings, LATERAL (SELECT unnest(range($Dim)) AS i) t),
       |d AS (
       |  SELECT label, pos, sum(q)::BIGINT AS s, sum(q * q)::BIGINT AS qq
       |  FROM x GROUP BY 1, 2),
       |n AS (SELECT label, count(*)::BIGINT AS n_vecs FROM embeddings GROUP BY 1),
       |a AS (
       |  SELECT label, sum(s::DOUBLE * s) AS ssq, sum(qq)::BIGINT AS qsum
       |  FROM d GROUP BY 1),
       |top AS (
       |  SELECT label, pos AS top_dim, s FROM (
       |    SELECT label, pos, s,
       |           row_number() OVER (PARTITION BY label ORDER BY abs(s) DESC, pos) AS rk
       |    FROM d)
       |  WHERE rk = 1)
       |SELECT a.label, n.n_vecs, top.top_dim::INT AS top_dim,
       |  round(top.s::DOUBLE * top.s / a.ssq, 6) AS top_share,
       |  round(a.ssq / (n.n_vecs::DOUBLE * a.qsum), 6) AS anisotropy
       |FROM a JOIN n USING (label) JOIN top USING (label)
       |ORDER BY label""".stripMargin
}
