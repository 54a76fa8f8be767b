package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s19 — STREAMING count-min heavy-hitter maintenance: d22's sketch
  * run as the continuous fold it exists for. Per micro-batch the
  * batch's word counts fan into (depth, bucket) partials and MERGE
  * additively into the persistent grid — a count-min grid is a pure
  * monoid (cell-wise BIGINT sum), so any batch split folds to the
  * identical grid, and the per-batch state generations are the s11
  * idempotent convention (generation `id` is written from generation
  * `id−1` + batch `id`; a retried batch rewrites only its own
  * generation). The exact word counts ride the same fold (the s11
  * algebraic-merge shape) because d22's report audits estimates
  * against exact counts.
  *
  * Kappa equivalence, oracle-enforced: the final grid and report must
  * equal d22's one-shot build — s19 reuses d22's oracle verbatim, so
  * a dropped batch, a double-merged generation, or a non-additive
  * fold breaks the hash match.
  *
  * Scale shape (100 TB): the grid state is Depth×Width BIGINTs —
  * constant, broadcastable; per-trigger work is the batch's explode +
  * hash agg. The exact-count state is vocabulary-sized — the declared
  * price of the exact audit column (drop it and the stream keeps only
  * the constant-size sketch; that variant is the pure production
  * shape).
  */
object StreamSketch {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val NumBatches = 4

  def cmsIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.{Sketch, TextStats}
    val ss = StreamEnv.streamSession(spark)
    val base = StreamEnv.legDir(ss, "stream_sketch", dir)
    val docs = graft.tables.Tables.documents(spark, dir).select("doc_id", "text")
    FeedStage.stage(spark, base, docs,
      pmod(col("doc_id"), lit(NumBatches.toLong)), NumBatches, Seq(col("doc_id")))

    def gridPath(id: Long) = s"$base/grid_$id"
    def wcPath(id: Long)   = s"$base/wc_$id"

    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        val bwc = batch
          .select(explode(TextStats.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("c"))
        val wc =
          if (id == 0L) bwc
          else s2.read.parquet(wcPath(id - 1))
            .unionByName(bwc)
            .groupBy("word").agg(sum("c").as("c"))
        wc.write.mode("overwrite").parquet(wcPath(id))
        val bgrid = bwc
          .select(explode(Sketch.cellKeys(col("word"))).as("db"), col("c"))
          .groupBy(col("db.d").as("d"), col("db.b").as("b"))
          .agg(sum("c").as("cell"))
        val grid =
          if (id == 0L) bgrid
          else s2.read.parquet(gridPath(id - 1))
            .unionByName(bgrid)
            .groupBy("d", "b").agg(sum("cell").as("cell"))
        grid.write.mode("overwrite").parquet(gridPath(id))
        ()
      }, base)

    // the d22 report off the FOLDED states: top-k by exact count,
    // estimates probed from the streamed grid
    val wc = ss.read.parquet(wcPath(NumBatches - 1))
      .select(col("word"), col("c").as("exact_count"))
    val grid = ss.read.parquet(gridPath(NumBatches - 1))
    wc.orderBy(col("exact_count").desc, col("word")).limit(Sketch.TopK)
      .select(col("word"), col("exact_count"),
        explode(Sketch.cellKeys(col("word"))).as("db"))
      .select(col("word"), col("exact_count"), col("db.d").as("d"), col("db.b").as("b"))
      .join(broadcast(grid), Seq("d", "b"))
      .groupBy("word", "exact_count")
      .agg(min("cell").as("cms_estimate"))
      .withColumn("overcount", col("cms_estimate") - col("exact_count"))
      .orderBy(col("exact_count").desc, col("word"))
  }

  /** Same grid, same report, so the same oracle: the micro-batching
    * is invisible because the sketch is a monoid.
    */
  def oracleCmsIngest: String = graft.llm.Sketch.oracleCountMinTopK
}
