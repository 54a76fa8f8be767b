package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s12 — STREAMING Bloom-gated dedup ingest: d29's at-scale batch
  * shape run as the continuous pipeline it is meant for. The incoming
  * document feed arrives as ordered micro-batches (one staged file per
  * trigger); each batch probes the staged corpus Bloom sketch
  * ([[graft.llm.Dedup.corpusIndex]]) MAP-SIDE, only might-contain rows
  * reach the exact-verify join against the staged content-hash table
  * (pre-filtered by a broadcast of the batch's keys — the corpus side
  * never shuffles), and the verdicts land in an idempotent per-batch
  * partition (`overwrite` keyed by batch id, so a retried batch
  * rewrites its own output — the s04/s11 exactly-once convention on
  * plain parquet).
  *
  * Kappa equivalence, oracle-enforced: the union of all micro-batch
  * verdicts must equal the one-shot batch classification of the same
  * feed — s12 reuses d29's oracle verbatim. A streaming-specific bug
  * (a batch dropped, double-classified, or verified against the wrong
  * index era) breaks the hash match.
  *
  * Scale shape (100 TB): per trigger the work is batch-sized — sketch
  * probe is map-side codegen, the verify join moves only bloom
  * survivors, and the corpus index is read-only shared state staged
  * once per era (d30 shows the era hand-over). State in the stream
  * itself: none — the sketch carries the dedup knowledge, so the
  * query needs no state store at all.
  */
object StreamIngest {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val NumBatches = 4

  def bloomIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.BloomExpressions
    import graft.llm.{Dedup, TextHash}
    val ss = StreamEnv.streamSession(spark)
    val (_, _, _, bloom) = Dedup.corpusIndex(spark, dir)
    val exactPath = Dedup.corpusIndexPaths(spark, dir).head

    // stage the feed as NumBatches files with mod-times in batch order
    // (the stageWeekly convention: maxFilesPerTrigger=1 → one file per
    // micro-batch)
    val base = StreamEnv.legDir(ss, "stream_ingest", dir)
    val incoming = Dedup.incomingBatch(spark, dir)
    FeedStage.stage(spark, base, incoming,
      pmod(col("doc_id"), lit(NumBatches)), NumBatches, Seq(col("doc_id")))

    val verdictsDir = s"$base/verdicts"
    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        val probed = batch.withColumn("might",
          BloomExpressions.mightContain(bloom, TextHash.phash(col("text"), 0)))
        val keys = probed.filter(col("might"))
          .select(col("doc_id"), md5(col("text")).as("h"))
        val matches = Tables.parquet(s2, exactPath)
          .join(broadcast(keys.select("h").distinct()), Seq("h"))
        keys.join(broadcast(matches), Seq("h"), "left")
          .select(col("doc_id"), col("dup_of"))
          .unionByName(probed.filter(!col("might"))
            .select(col("doc_id"), lit(null).cast("long").as("dup_of")))
          .select(col("doc_id"),
            when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("new")).as("status"),
            col("dup_of"))
          .write.mode("overwrite").parquet(s"$verdictsDir/batch_$id")
        ()
      }, base)
    ss.read.parquet(s"$verdictsDir/batch_*").orderBy("doc_id")
  }

  /** Same classification semantics as d29, so the same oracle: the
    * sketch and the micro-batching are both invisible to the result.
    */
  val oracleBloomIngest: String = graft.llm.Dedup.oracleBloomIncrementalDedup
}
