package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s25 — STREAMING vocabulary-growth maintenance: t20's new-word curve
  * kept fresh as documents arrive. Per micro-batch the batch's
  * (word → min doc_id) first-sightings MERGE into the persistent
  * vocabulary state — first-sighting is a pure min-monoid, so any
  * batch split folds to the identical state, and the per-batch
  * generations follow the s11/s19 idempotent convention (generation
  * `id` is written from generation `id−1` + batch `id`; a retried
  * batch rewrites only its own generation). Each batch's doc ids are
  * appended under the batch id (the s04 ingest shape) so the final
  * decile report needs only id-column metadata, never the text again.
  *
  * Kappa equivalence, oracle-enforced: the final report must equal
  * t20's one-shot scan — s25 reuses t20's oracle verbatim, so a
  * dropped batch, a double-merged generation, or a non-monoidal fold
  * breaks the hash match.
  *
  * Scale shape (100 TB): vocabulary state is |vocab| rows (the same
  * relation t20 materializes once); per-trigger work is the batch's
  * explode + min-agg plus a state-sized merge. The trailing report
  * reads the compact state and the appended doc_id column only.
  */
object StreamVocab {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val NumBatches = 3

  def vocabIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextStats
    val ss = StreamEnv.streamSession(spark)
    val base = StreamEnv.legDir(ss, "stream_vocab", dir)
    val docs = graft.tables.Tables.documents(spark, dir).select("doc_id", "text")
    FeedStage.stage(spark, base, docs,
      pmod(col("doc_id"), lit(NumBatches.toLong)), NumBatches, Seq(col("doc_id")))

    def fvPath(id: Long) = s"$base/fv_$id"

    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        val bfv = batch
          .select(col("doc_id"),
            explode(array_distinct(TextStats.tokens(col("text")))).as("word"))
          .groupBy("word").agg(min("doc_id").as("first_doc"))
        val fv =
          if (id == 0L) bfv
          else s2.read.parquet(fvPath(id - 1))
            .unionByName(bfv)
            .groupBy("word").agg(min("first_doc").as("first_doc"))
        fv.write.mode("overwrite").parquet(fvPath(id))
        batch.select("doc_id").write.mode("overwrite").parquet(s"$base/ids/batch_$id")
        ()
      }, base)

    // the t20 report off the folded state: decile bounds from the
    // appended id column, new-word counts from the vocabulary state
    import org.apache.spark.sql.expressions.Window
    val ids = ss.read.parquet((0 until NumBatches).map(k => s"$base/ids/batch_$k"): _*)
    val b = ids.agg(min("doc_id"), max("doc_id")).head()
    val (minId, maxId) = (b.getLong(0), b.getLong(1))
    val span = (maxId - minId) / TextStats.GrowthDeciles + 1
    def decileOf(c: String) = expr(s"($c - $minId) div $span + 1")
    val newWords = ss.read.parquet(fvPath(NumBatches - 1))
      .groupBy(decileOf("first_doc").as("decile"))
      .agg(count(lit(1)).as("new_words"))
    val nDocs = ids.groupBy(decileOf("doc_id").as("decile"))
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(newWords, Seq("decile"), "left")
      .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
      .withColumn("vocab_size", sum("new_words").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("decile", "n_docs", "new_words", "vocab_size")
      .orderBy("decile")
  }

  /** Same curve, so the same oracle: the micro-batching is invisible
    * because first-sighting is a min-monoid.
    */
  def oracleVocabIngest: String = graft.llm.TextStats.oracleVocabGrowth
}
