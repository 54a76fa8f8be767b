package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** s15 — STREAMING vector-index ingest: the billion-vector IVF
  * build-and-maintain loop (d08's layout) run as the continuous
  * pipeline it is meant for. Embedding rows arrive as ordered
  * micro-batches; each batch assigns every vector to its nearest
  * coarse cell MAP-SIDE (the k trained centroids broadcast per
  * trigger — the assignment never shuffles vectors, only the k-way
  * score fold runs per row) and appends the batch's `(vec_id, cell,
  * quantized score)` rows to a cell-keyed index partition under the
  * batch id (`overwrite` per batch — the s04/s11/s12 idempotent-retry
  * convention). The reported relation is the per-cell INVENTORY of the
  * final index: `(cell, n_vecs, sum_qscore, first_vec)`.
  *
  * Kappa equivalence, oracle-enforced: the per-cell inventory of the
  * streamed index must hash-equal a batch-oblivious build — the oracle
  * replays Lloyd training AND the full-corpus assignment in SQL
  * ([[graft.llm.Similarity.lloydMembersSql]]) and aggregates the same
  * inventory. A dropped batch, a double-append, or an assignment
  * against drifted centroids breaks the hash.
  *
  * Determinism discipline: the assignment picks max cosine with ties
  * to the LOWEST cell (the d08 convention), folded as `max(struct(
  * score, −cell))` — an order-independent aggregate, no sort window;
  * the reported score sum is integer-quantized (`floor(s·2²⁰ + 0.5)`,
  * the Lloyd update's own parity trick) so partial sums re-aggregate
  * associatively across batches and engines.
  *
  * Scale shape (100 TB): per trigger the work is batch-sized and
  * shuffle-free up to the k-row partial agg (centroids broadcast,
  * scores fold map-side, the per-vector argmax collapses in the
  * map-side partial because a vector's k scored rows are co-located
  * by construction); the index append is a partition write keyed by
  * (batch, cell). The inventory aggregation at the end is the only
  * corpus-wide pass and is itself one spillable keyed agg.
  */
object StreamVecIngest {

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  val NumBatches = 4

  def ivfIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.VectorFunctions.cosineSimilarity
    val ss = StreamEnv.streamSession(spark)
    // trained once per (data era, build) — the driver-side centroid
    // cache is the same one d08/d24 assign against
    val centroids = graft.llm.Similarity.lloydCentroids(spark, dir)

    val base = StreamEnv.legDir(ss, "stream_vec", dir)
    val emb = graft.tables.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    FeedStage.stage(spark, base, emb,
      pmod(col("vec_id"), lit(NumBatches)), NumBatches, Seq(col("vec_id")))

    val idxDir = s"$base/index"
    StreamEnv.drain(ss.readStream.schema(vecSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        import s2.implicits._
        val cdf = centroids.toDF("cell", "ce")
        batch.crossJoin(broadcast(cdf))
          .select(col("vec_id"),
            struct(cosineSimilarity(col("embedding"), col("ce")).as("s"),
              (-col("cell")).as("nc")).as("sc"))
          .groupBy("vec_id")
          .agg(max("sc").as("best"))
          .select(col("vec_id"), (-col("best.nc")).as("cell"),
            floor(col("best.s") * graft.llm.Similarity.QuantScale + 0.5)
              .cast("long").as("q"))
          .write.mode("overwrite").parquet(s"$idxDir/batch_$id")
        ()
      }, base)
    ss.read.parquet(s"$idxDir/batch_*")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum("q").as("sum_qscore"),
        min("vec_id").as("first_vec"))
      .orderBy("cell")
  }

  /** Batch-oblivious replay: Lloyd + full-corpus nearest-cell
    * assignment in SQL, aggregated to the same per-cell inventory.
    */
  val oracleIvfIngest: String = {
    import graft.llm.Similarity.{lloydMembersSql, LloydRounds, QuantScale}
    s"""WITH $lloydMembersSql,
       |msc AS (
       |  SELECT m.vec_id, m.cell,
       |         CAST(floor(list_cosine_similarity(m.embedding, c.ce) * $QuantScale + 0.5) AS BIGINT) AS q
       |  FROM members m JOIN c$LloydRounds c USING (cell))
       |SELECT cell, count(*)::BIGINT AS n_vecs, sum(q)::BIGINT AS sum_qscore,
       |       min(vec_id) AS first_vec
       |FROM msc
       |GROUP BY cell
       |ORDER BY cell""".stripMargin
  }
}
