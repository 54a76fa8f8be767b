package graft.llm

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** d31 — Product-Quantization ANN (IVF-PQ's compression half, Jégou et
  * al., "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011): the billion-vector shape where the corpus embedding column
  * is too big to scan as floats, so each vector is compressed to
  * [[PqM]] small codes (here 4 codes over a 64-dim vector → 4 bytes
  * instead of 256) and queries rank candidates by Asymmetric Distance
  * Computation — a per-query lookup table of query-subvector ×
  * codebook-entry partial distances, summed per candidate over its
  * codes. Nothing about the corpus is touched at query time except
  * the code columns.
  *
  * Scale shape: codebook training touches the corpus [[PqRounds]]
  * times with a broadcast of M×K tiny centroids (the
  * [[Similarity.lloydCentroids]] pattern — rounds driver-sequenced,
  * only M×K×sub doubles ever reach the driver); encoding is one
  * map-side pass; the ADC scan is an equi-join of the exploded code
  * column against a BROADCAST lookup table of M×K×|queries| longs,
  * then an integer sum per (query, candidate) — a map-side join plus
  * one hash aggregate on (query_id, vec_id), no float math on the
  * corpus at all. At 100 TB the codes table is ~1/64 the bytes of the
  * embeddings it stands for, and the LUT is KBs regardless of corpus
  * size.
  *
  * Exactness-for-the-oracle: subvector L2 distances are ordered left
  * folds over doubles (bit-identical to the DuckDB oracle's unrolled
  * left-associated sum), centroid updates accumulate
  * `floor(x·2^20 + 0.5)` integers (the [[Similarity.QuantScale]]
  * trick — order-independent exact sums, bit-identical centroids),
  * and ADC partial distances are quantized to longs BEFORE the final
  * sum so ranking compares exact integers, never engine-ordered float
  * sums.
  */
object Pq {

  /** 4 subspaces × 16 dims over the 64-dim embedding column. */
  val PqM = 4
  val PqSub = 16

  /** Codes per subspace codebook (4-bit codes at production scale are
    * K=16 or 256; 8 keeps the oracle's Lloyd replay tractable).
    */
  val PqK = 8
  val PqRounds = 2

  import Similarity.{NumQueries, QuantScale, TopK}

  /** Ordered left-fold squared-L2 — (((0+t1)+t2)+…), bit-identical to
    * the oracle's unrolled `t1 + t2 + …` because IEEE `0.0 + t1 ≡ t1`
    * for the non-negative terms here.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t)

  /** (vec_id, m, e) — the m-th 16-dim slice of every vector. Slices
    * stay `array<float>` (Slice is codegen'd; a per-row
    * `transform(_, cast)` is an interpreted HigherOrderFunction) —
    * every consumer widens float→double exactly at use.
    */
  private def subvecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("embedding"))
      .select(col("vec_id"), col("m"),
        slice(col("embedding"), col("m") * PqSub + 1, lit(PqSub)).as("e"))

  /** Map-side argmin over a driver-held codebook via the native
    * [[graft.expr.PqNearestCode]] expression — one fused K×dim codegen
    * loop per row, ties → lowest index, NO join, window, or shuffle;
    * the returned position is mapped back to the (possibly sparse)
    * surviving code ids through a literal lookup. This is what keeps
    * PQ encoding/assignment a pure projection: at 100 TB the corpus is
    * encoded in one codegen'd map pass.
    */
  private def nearest(e: Column, cb: Seq[(Int, Seq[Double])]): Column = {
    val sorted = cb.sortBy(_._1)
    val idx = graft.expr.VectorFunctions.pqNearestCode(
      e, typedlit(sorted.map(_._2)))
    element_at(typedlit(sorted.map(_._1)), idx + 1)
  }

  /** The per-row nearest code given the full (m, code, ce) codebook:
    * a coalesced `when(m = …)` branch per subspace, each branch the
    * map-side [[nearest]] argmin over that subspace's codes.
    */
  private def nearestByM(cb: Seq[(Int, Int, Seq[Double])]): Column = {
    val byM = cb.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    coalesce((0 until PqM).map(m => when(col("m") === m, nearest(col("e"), byM(m)))): _*)
  }

  /** Per-subspace Lloyd codebooks (m, code, centroid), seeded from the
    * first [[PqK]] vectors' slices; assignment = min ordered-fold L2
    * (ties → lowest code), update = exact quantized mean. Cached per
    * (process, data) through the same bounded memo as
    * [[Similarity.lloydCentroids]].
    */
  private val codebooks =
    new graft.tables.TablesMemo[Seq[(Int, Int, Seq[Double])]](Similarity.CentroidCacheCap, "embeddings")

  /** d33/d46's residual codebooks, same memo discipline. */
  private val residCodebooks =
    new graft.tables.TablesMemo[Seq[(Int, Int, Seq[Double])]](Similarity.CentroidCacheCap, "embeddings")

  private[graft] def pqCodebooks(spark: SparkSession, dir: String): Seq[(Int, Int, Seq[Double])] =
    codebooks(spark, dir)(pqCodebooksUncached(spark, dir))

  private def pqCodebooksUncached(
      spark: SparkSession, dir: String): Seq[(Int, Int, Seq[Double])] =
    trainCodebooks(spark, subvecs(spark, dir).localCheckpoint())

  /** The Lloyd loop over a (vec_id, m, e) subvector relation —
    * float or double elements (d31 trains on raw slices, d33 on IVF
    * residuals). Same exact-quantized update as
    * [[Similarity.lloydCentroids]].
    */
  private def trainCodebooks(
      spark: SparkSession, sv: DataFrame): Seq[(Int, Int, Seq[Double])] = {
    import spark.implicits._
    def toD(xs: scala.collection.Seq[Any]): Seq[Double] = xs.map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue
    }.toSeq
    var cb = sv.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("e"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), toD(r.getSeq[Any](2)))).toSeq
    for (_ <- 1 to PqRounds) {
      val assigned = sv.select(col("m"), col("e"),
        nearestByM(cb).as("code"))
      cb = assigned
        .select(col("m"), col("code"), posexplode(col("e")).as(Seq("d", "x")))
        .groupBy("m", "code", "d")
        .agg((sum(floor(col("x") * QuantScale + lit(0.5)).cast("long")) /
              (lit(QuantScale) * count(lit(1)))).as("cd"))
        .groupBy("m", "code")
        .agg(sort_array(collect_list(struct(col("d"), col("cd")))).as("a"))
        .select(col("m"), col("code"), transform(col("a"), s => s.getField("cd")).as("ce"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
        .sortBy(t => (t._1, t._2))
    }
    cb
  }

  /** The PQ code table (vec_id, m, code) — the compressed corpus, a
    * single map-side projection.
    */
  private def encoded(spark: SparkSession, dir: String,
      cb: Seq[(Int, Int, Seq[Double])]): DataFrame =
    subvecs(spark, dir)
      .select(col("vec_id"), col("m"), nearestByM(cb).as("code"))

  /** d31 — ADC top-k per query over the PQ-compressed corpus. Output
    * ranks by the EXACT long sum of quantized partial distances
    * (ascending, then vec_id); `adist` is that sum rescaled for
    * readability.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cb = pqCodebooks(spark, dir)
    val cbDf = cb.toDF("m", "code", "ce")
    val codes = encoded(spark, dir, cb)
    val lut = subvecs(spark, dir).filter(col("vec_id") < NumQueries)
      .join(broadcast(cbDf), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("code"),
        floor(sqDist(col("e"), col("ce")) * QuantScale + lit(0.5)).cast("long").as("pq"))
    val wRank = Window.partitionBy("query_id").orderBy(col("adq").asc, col("vec_id"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pq").as("adq"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id"),
        round(col("adq") / lit(QuantScale), 6).as("adist"), col("rank"))
      .orderBy("query_id", "rank")
  }

  // -- d33: IVF-PQ (IVFADC) ---------------------------------------------------

  /** d33 — the composed billion-scale ANN stack (FAISS's IVFADC, Jégou
    * et al. 2011 §IV): vectors are coarsely binned into the d08 Lloyd
    * cells, the RESIDUAL (vector − cell centroid) is PQ-encoded with
    * codebooks trained on residuals, and a query probes its
    * [[Similarity.NProbe]] closest cells scanning only their members'
    * codes with a per-(query, cell) ADC lookup table. Residual
    * encoding beats raw-vector PQ because residual magnitudes are
    * smaller and centered — the codebook spends its 3 bits on the
    * within-cell variation only.
    *
    * Scale shape: assignment + residual + encode are ONE map-side
    * projection (the centroid rides inside the argmin struct, so the
    * chosen cell and its centroid come out of a single `array_min`);
    * the ADC scan is an equi-join on (cell, m, code) against a
    * broadcast LUT of |queries|·NProbe·M·K longs. Nothing about the
    * corpus is touched at query time except cell + code columns.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqRanked(spark, dir)
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")

  /** The full ADC ranking behind d33 (unfiltered) — d46 widens the cut
    * to [[RerankR]] for its exact-rerank shortlist.
    */
  private[graft] def ivfPqRanked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Similarity.lloydCentroids(spark, dir).sortBy(_._1)
    val emb = Tables.embeddings(spark, dir)

    // assignment comes from the staged ivf_assign inverted file (the
    // identical max-cosine / ties-to-lowest-cell rule); the residual is
    // one broadcast join against the k-row centroid table — the n·k
    // scoring pass is index-build cost, not query cost (it was an
    // array_min over k inline centroid literals here, and grew with
    // the corpus-derived k until round 9 staged it).
    val centsDf0 = {
      import spark.implicits._
      broadcast(cents.toDF("cell", "ce"))
    }
    val rsv = Similarity.ivfMembers(spark, dir)
      .join(centsDf0, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("ce"), (x, y) => x - y).as("r"))
      .select(col("vec_id"), col("cell"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("r"))
      .select(col("vec_id"), col("cell"), col("m"),
        slice(col("r"), col("m") * PqSub + 1, lit(PqSub)).as("e"))
      .localCheckpoint() // scanned by training rounds, encode, and the query side

    // residual codebooks are deterministic per embeddings table — memoize through
    // the same bounded memo as the raw-slice codebooks, so d33, d46 and
    // d40's two IVFADC legs train ONCE per (process, corpus) instead
    // of re-running the Lloyd rounds per query
    val cb = residCodebooks(spark, dir)(trainCodebooks(spark, rsv))
    val cbDf = cb.toDF("m", "code", "ce")
    val codes = rsv.select(col("vec_id"), col("cell"), col("m"),
      nearestByM(cb).as("code"))

    // query side: NProbe closest cells per query (window over the tiny
    // query×cells relation), one residual + LUT per probed cell
    val centsDf = broadcast(cents.toDF("cell", "ce"))
    val wCell = Window.partitionBy("vec_id").orderBy(col("cscore").desc, col("cell"))
    val probes = emb.filter(col("vec_id") < NumQueries)
      .crossJoin(centsDf)
      .select(col("vec_id").as("query_id"), col("embedding"), col("cell"), col("ce"),
        graft.expr.VectorFunctions.cosineSimilarity(col("embedding"), col("ce")).as("cscore"))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cscore").desc, col("cell"))))
      .filter(col("crank") <= Similarity.NProbe)
      .select(col("query_id"), col("cell"),
        zip_with(col("embedding"), col("ce"), (x, y) => x - y).as("r"))
    val lut = probes
      .select(col("query_id"), col("cell"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("r"))
      .select(col("query_id"), col("cell"), col("m"),
        slice(col("r"), col("m") * PqSub + 1, lit(PqSub)).as("qe"))
      .join(broadcast(cbDf), Seq("m"))
      .select(col("query_id"), col("cell"), col("m"), col("code"),
        floor(sqDist(col("qe"), col("ce")) * QuantScale + lit(0.5)).cast("long").as("pq"))

    val wRank = Window.partitionBy("query_id").orderBy(col("adq").asc, col("vec_id"))
    codes.join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id", "cell")
      .agg(sum("pq").as("adq"))
      .withColumn("rank", row_number().over(wRank))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(col("adq") / lit(QuantScale), 6).as("adist"), col("rank"))
  }

  val RerankR = 30

  /** d46 — two-stage retrieval: the IVFADC shortlist ([[RerankR]] ADC
    * candidates per query, d33's index) REFINED by an exact cosine
    * over the original vectors, re-ranked to the final top-k — FAISS's
    * `IndexRefineFlat` serving shape (Johnson et al. 2017 §4.2;
    * arXiv:1702.08734): the compressed index does the recall work, the
    * exact pass fixes ADC's quantization-error ordering, and only
    * |queries|·R full vectors are ever touched at query time.
    *
    * Scale shape: the shortlist (queries × R rows, with each query's
    * embedding riding along) is BROADCAST into the corpus scan — an
    * equi-join on vec_id that prunes to shortlist members map-side, so
    * the 100 TB vector table never shuffles and the exact cosines are
    * one codegen'd projection over R·|queries| rows.
    */
  def annIvfRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val short = ivfPqRanked(spark, dir).filter(col("rank") <= RerankR)
      .select(col("query_id"), col("vec_id"), col("adist"))
    val qe = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pairs = short.join(broadcast(qe), Seq("query_id"))
    val wRank = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    emb.join(broadcast(pairs), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.expr.VectorFunctions.cosineSimilarity(col("qe"), col("embedding")), 6)
          .as("score"),
        col("adist"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  // -- DuckDB oracle ----------------------------------------------------------

  /** Unrolled left-associated squared-L2 over the 16-dim slices —
    * the same IEEE operation sequence as [[sqDist]]'s fold.
    */
  private def sqDistSql(a: String, b: String): String =
    (1 to PqSub).map(d => s"($a[$d]-$b[$d])*($a[$d]-$b[$d])").mkString(" + ")

  private val distVC = sqDistSql("v.e", "c.ce")

  /** Full SQL replay of training + encoding + ADC: seeds, [[PqRounds]]
    * Lloyd rounds with the quantized-integer centroid update, argmin
    * encoding, long-quantized LUT, integer-sum ranking — every ranking
    * comparison is over exact integers, so the replay hash-matches.
    */
  val oracleAnnPq: String = {
    val ms = (0 until PqM).map(m => s"($m)").mkString(", ")
    val rounds = (1 to PqRounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT vec_id, m, e, code FROM (
         |    SELECT v.vec_id, v.m, v.e, c.code,
         |           row_number() OVER (PARTITION BY v.vec_id, v.m
         |                              ORDER BY $distVC ASC, c.code) AS rn
         |    FROM sv v JOIN cb${r - 1} c USING (m)) WHERE rn = 1),
         |cb$r AS MATERIALIZED (
         |  SELECT m, code, list(cd ORDER BY d) AS ce FROM (
         |    SELECT m, code, d,
         |           sum(floor(e[d] * $QuantScale + 0.5))::BIGINT / ($QuantScale * count(*)) AS cd
         |    FROM a$r, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS d) u
         |    GROUP BY m, code, d)
         |  GROUP BY m, code)""".stripMargin
    }.mkString(",\n")
    s"""WITH sv AS MATERIALIZED (
       |  SELECT vec_id, m,
       |         list_transform(list_slice(embedding, m * $PqSub + 1, (m + 1) * $PqSub),
       |                        x -> x::DOUBLE) AS e
       |  FROM embeddings, (VALUES $ms) t(m)),
       |cb0 AS MATERIALIZED (
       |  SELECT m, vec_id::INT AS code, e AS ce FROM sv WHERE vec_id < $PqK),
       |$rounds,
       |codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT v.vec_id, v.m, c.code,
       |           row_number() OVER (PARTITION BY v.vec_id, v.m
       |                              ORDER BY $distVC ASC, c.code) AS rn
       |    FROM sv v JOIN cb$PqRounds c USING (m)) WHERE rn = 1),
       |lut AS (
       |  SELECT v.vec_id AS query_id, v.m AS m, c.code AS code,
       |         floor(($distVC) * $QuantScale + 0.5)::BIGINT AS pq
       |  FROM sv v JOIN cb$PqRounds c USING (m)
       |  WHERE v.vec_id < $NumQueries),
       |adc AS (
       |  SELECT query_id, vec_id, sum(pq) AS adq
       |  FROM codes JOIN lut USING (m, code)
       |  WHERE vec_id != query_id
       |  GROUP BY query_id, vec_id),
       |r AS (
       |  SELECT query_id, vec_id, round(adq / $QuantScale, 6) AS adist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adq ASC, vec_id) AS INT) AS rank
       |  FROM adc)
       |SELECT query_id, vec_id, adist, rank
       |FROM r WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** d33 oracle — full SQL replay of the IVFADC stack: the d08 Lloyd
    * coarse quantizer ([[Similarity.lloydMembersSql]]), elementwise
    * residuals, the residual-trained PQ rounds (pa/pcb CTEs, disjoint
    * from the Lloyd a/c names), per-probed-cell LUTs, integer-sum
    * ranking.
    */
  /** WITH-body of the full IVFADC replay, ending in the ranked `rr`
    * relation — shared by the d33 and d46 oracles.
    */
  private lazy val ivfPqCtesSql: String = {
    val ms = (0 until PqM).map(m => s"($m)").mkString(", ")
    val rounds = (1 to PqRounds).map { r =>
      s"""pa$r AS MATERIALIZED (
         |  SELECT vec_id, m, e, code FROM (
         |    SELECT v.vec_id, v.m, v.e, c.code,
         |           row_number() OVER (PARTITION BY v.vec_id, v.m
         |                              ORDER BY $distVC ASC, c.code) AS rn
         |    FROM rsv v JOIN pcb${r - 1} c USING (m)) WHERE rn = 1),
         |pcb$r AS MATERIALIZED (
         |  SELECT m, code, list(cd ORDER BY d) AS ce FROM (
         |    SELECT m, code, d,
         |           sum(floor(e[d] * $QuantScale + 0.5))::BIGINT / ($QuantScale * count(*)) AS cd
         |    FROM pa$r, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS d) u
         |    GROUP BY m, code, d)
         |  GROUP BY m, code)""".stripMargin
    }.mkString(",\n")
    s"""${Similarity.lloydMembersSql},
       |cent AS (SELECT cell, ce FROM c${Similarity.LloydRounds}),
       |resid AS MATERIALIZED (
       |  SELECT mb.vec_id, mb.cell,
       |         list_transform(range(1, len(mb.embedding) + 1),
       |                        d -> mb.embedding[d] - ct.ce[d]) AS r
       |  FROM members mb JOIN cent ct USING (cell)),
       |rsv AS MATERIALIZED (
       |  SELECT vec_id, cell, mm AS m,
       |         list_slice(r, mm * $PqSub + 1, (mm + 1) * $PqSub) AS e
       |  FROM resid, (VALUES $ms) t(mm)),
       |pcb0 AS MATERIALIZED (
       |  SELECT m, vec_id::INT AS code, e AS ce FROM rsv WHERE vec_id < $PqK),
       |$rounds,
       |codes AS (
       |  SELECT vec_id, cell, m, code FROM (
       |    SELECT v.vec_id, v.cell, v.m, c.code,
       |           row_number() OVER (PARTITION BY v.vec_id, v.m
       |                              ORDER BY $distVC ASC, c.code) AS rn
       |    FROM rsv v JOIN pcb$PqRounds c USING (m)) WHERE rn = 1),
       |qres AS (
       |  SELECT rk.vec_id AS query_id, rk.cell,
       |         list_transform(range(1, len(rk.embedding) + 1),
       |                        d -> rk.embedding[d] - ct.ce[d]) AS r
       |  FROM ranked rk JOIN cent ct USING (cell)
       |  WHERE rk.crank <= ${Similarity.NProbe} AND rk.vec_id < $NumQueries),
       |qrsv AS (
       |  SELECT query_id, cell, mm AS m,
       |         list_slice(r, mm * $PqSub + 1, (mm + 1) * $PqSub) AS e
       |  FROM qres, (VALUES $ms) t(mm)),
       |lut AS (
       |  SELECT v.query_id, v.cell, v.m AS m, c.code AS code,
       |         floor(($distVC) * $QuantScale + 0.5)::BIGINT AS pq
       |  FROM qrsv v JOIN pcb$PqRounds c USING (m)),
       |adc AS (
       |  SELECT l.query_id, cd.vec_id, cd.cell, sum(l.pq) AS adq
       |  FROM codes cd
       |  JOIN lut l ON l.cell = cd.cell AND l.m = cd.m AND l.code = cd.code
       |  WHERE cd.vec_id != l.query_id
       |  GROUP BY 1, 2, 3),
       |rr AS (
       |  SELECT query_id, vec_id, cell, round(adq / $QuantScale, 6) AS adist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adq ASC, vec_id) AS INT) AS rank
       |  FROM adc)""".stripMargin
  }

  lazy val oracleAnnIvfPq: String =
    s"""WITH $ivfPqCtesSql
       |SELECT query_id, vec_id, cell, adist, rank
       |FROM rr WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  lazy val oracleAnnIvfRerank: String =
    s"""WITH $ivfPqCtesSql,
       |short AS (SELECT query_id, vec_id, adist FROM rr WHERE rank <= $RerankR),
       |ex AS (
       |  SELECT s.query_id, s.vec_id,
       |         round(list_cosine_similarity(q.embedding::DOUBLE[],
       |                                      e.embedding::DOUBLE[]), 6) AS score,
       |         s.adist
       |  FROM short s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings e ON e.vec_id = s.vec_id),
       |rk AS (
       |  SELECT query_id, vec_id, score, adist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, vec_id) AS INT) AS rank
       |  FROM ex)
       |SELECT query_id, vec_id, score, adist, rank
       |FROM rk WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
}
