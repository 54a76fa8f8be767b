package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s16 — STREAMING benchmark decontamination: d18's scan run as the
  * continuous admission check a training-data pipeline actually
  * deploys (every incoming training doc is probed against the eval
  * benchmarks BEFORE it can enter the corpus; Brown et al. GPT-3
  * appendix C shape). The benchmark knowledge is two era-keyed staged
  * artifacts, built once per corpus era:
  *
  *  - `dc_hot`  — the n-gram hashes with corpus df > [[graft.llm.Curation.MaxNgramDf]]
  *    (the boilerplate filter, INVERTED: the allowed set is corpus-
  *    sized and could never broadcast, the hot set is tiny by
  *    construction — df > 100 n-grams are rare);
  *  - `dc_eval` — (h, eval_id) n-gram postings of the eval split
  *    (benchmark-sized: at production scale benchmarks are fixed and
  *    small, here the d13 test split).
  *
  * Per micro-batch everything is map-side: the batch's n-grams
  * anti-join the BROADCAST hot set, the eval postings are semi-pruned
  * by a broadcast of the batch's surviving hash set (the s13
  * convention — the static side never shuffles), and the pruned
  * postings broadcast back onto the batch for the pair count. The
  * only shuffle is the batch-sized pair aggregate. Verdicts land in
  * idempotent per-batch partitions (the s04/s11/s12 exactly-once
  * convention).
  *
  * Kappa equivalence, oracle-enforced: every train doc is in exactly
  * one micro-batch, so the union of per-batch pair counts equals
  * d18's one-shot scan — s16 reuses d18's oracle verbatim. A dropped
  * batch, a doubled batch, or a stale-era index breaks the hash.
  *
  * Scale note: if a batch ever shares so many n-grams with the
  * benchmarks that the pruned postings outgrow a broadcast, the same
  * plan degrades gracefully to a keyed shuffle of batch survivors
  * only — the corpus-sized side still never moves.
  */
object StreamDecontam {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val NumBatches = 4

  def decontamIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.{Curation, Dedup, Sampling}
    val ss = StreamEnv.streamSession(spark)

    // the shared era-staged posting index (built by whichever of
    // d18/s16 touches this era first)
    val (hotPath, evalPath, _) = Curation.decontamIndex(spark, dir)

    // ---- the train feed as NumBatches ordered files (s12 convention) ----
    val base = StreamEnv.legDir(ss, "stream_decontam", dir)
    val feed = Dedup.corpus(spark, dir)
      .filter(Sampling.splitCol(col("doc_id")) === "train")
    val feedIn = FeedStage.stage(spark, base, feed,
      pmod(col("doc_id"), lit(NumBatches)), NumBatches, Seq(col("doc_id")))
    // dense-explode width from the per-batch row mass (parquet metadata
    // count), not unconditional core count — see StreamEnv.denseBatchWidth
    val denseW = StreamEnv.denseBatchWidth(spark,
      ss.read.schema(docSchema).parquet(feedIn).count() / NumBatches)

    val verdictsDir = s"$base/verdicts"
    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        // one job per trigger: batch n-grams, broadcast anti-join the
        // hot set, broadcast-join the benchmark postings (benchmark-
        // sized by definition — if a benchmark ever outgrows the
        // broadcast, semi-prune it by the batch's key set first, the
        // s13 convention), one batch-local pair aggregate, write
        batch
          // one file per trigger ⇒ one input split; spread the docs so
          // the interpreted n-gram explode parallelizes (the d05 note).
          // Explicit width: the session's shuffle width is the
          // state-partition knob (4 at gate SF) — too narrow for the
          // dense explode (the d61/s26 rule) — but sized by batch rows,
          // not core count (the round-10 32-task fan-out per trigger)
          .repartition(denseW, col("doc_id"))
          .select(col("doc_id").as("train_id"),
            explode(Curation.ngramHashes(col("text"))).as("h"))
          .join(broadcast(Tables.parquet(s2, hotPath)), Seq("h"), "left_anti")
          .join(broadcast(Tables.parquet(s2, evalPath)), Seq("h"))
          .groupBy("train_id", "eval_id")
          .agg(count(lit(1)).as("n_shared"))
          .write.mode("overwrite").parquet(s"$verdictsDir/batch_$id")
        ()
      }, base)
    ss.read.parquet(s"$verdictsDir/batch_*").orderBy("train_id", "eval_id")
  }

  /** Micro-batching and the staged index are invisible to the result:
    * d18's oracle verbatim.
    */
  val oracleDecontamIngest: String = graft.llm.Curation.oracleDecontaminate
}
