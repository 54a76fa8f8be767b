package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s27 — STREAMING per-source token-budget accounting: as documents
  * arrive, each source's running token mass folds into persistent
  * state, and the final report says which sources blew their training
  * budget, how many of their documents fit under it (in doc_id order),
  * and the first document that crossed the line. The streaming face of
  * the d52/d44 budget arithmetic — the pipeline that decides when to
  * STOP ingesting a domain must see totals continuously, not after a
  * batch recount.
  *
  * Kappa shape (the s25 conventions): per micro-batch the batch's
  * (source → Σtokens, count) partials MERGE into a generation-keyed
  * state — token mass is a sum-monoid, so any batch split folds to the
  * identical state and a retried batch rewrites only its own
  * generation. Each batch also appends its compact (doc_id, source,
  * n_tok) log rows under the batch id; the trailing report takes
  * TOTALS from the folded state and the cutoff/kept columns from the
  * log, so a dropped batch, a double-merged generation, or a
  * non-monoidal fold breaks the oracle's hash match.
  *
  * Scale shape (100 TB): state is |sources| rows; per-trigger work is
  * the batch's tokenize + two-level hash agg plus a state-sized merge.
  * The text column never survives past the tokenize — the appended log
  * is three fixed-width columns, and the report is one window over it.
  */
object StreamBudget {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType)))

  val NumBatches = 3
  val BudgetTokens = 512L

  def budgetIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextStats
    val ss = StreamEnv.streamSession(spark)
    val base = StreamEnv.legDir(ss, "stream_budget", dir)
    val docs = graft.tables.Tables.documents(spark, dir)
      .select("doc_id", "source", "text")
    FeedStage.stage(spark, base, docs,
      pmod(col("doc_id"), lit(NumBatches.toLong)), NumBatches, Seq(col("doc_id")))

    def statePath(id: Long) = s"$base/state_$id"

    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        val toks = batch.select(col("doc_id"), col("source"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tok"))
        val bState = toks.groupBy("source")
          .agg(sum("n_tok").as("total_tokens"), count(lit(1)).as("n_docs"))
        val merged =
          if (id == 0L) bState
          else s2.read.parquet(statePath(id - 1))
            .unionByName(bState)
            .groupBy("source")
            .agg(sum("total_tokens").as("total_tokens"), sum("n_docs").as("n_docs"))
        merged.write.mode("overwrite").parquet(statePath(id))
        toks.write.mode("overwrite").parquet(s"$base/log/batch_$id")
        ()
      }, base)

    // totals from the FOLDED STATE (the monoid gate), cutoff/kept from
    // the compact appended log — a window in doc_id order per source
    val state = ss.read.parquet(statePath(NumBatches - 1))
    val log = ss.read.parquet((0 until NumBatches).map(k => s"$base/log/batch_$k"): _*)
    val wCum = Window.partitionBy("source").orderBy("doc_id")
    val fromLog = log
      .withColumn("cum", sum("n_tok").over(wCum))
      .groupBy("source")
      .agg(sum(when(col("cum") <= BudgetTokens, 1L).otherwise(0L)).as("kept_docs"),
        min(when(col("cum") > BudgetTokens, col("doc_id"))).as("cutoff_doc"))
    state.join(fromLog, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (col("total_tokens") > BudgetTokens).as("over_budget"),
        col("kept_docs"), col("cutoff_doc"))
      .orderBy("source")
  }

  /** The one-shot batch equivalent: a prefix sum in doc_id order per
    * source — the micro-batching is invisible because the state fold
    * is a sum-monoid and the report columns are order-reconstructed
    * from the log.
    */
  lazy val oracleBudgetIngest: String = {
    val toks = graft.llm.TextStats.toksSql
    s"""WITH t AS (
       |  SELECT doc_id, source, len($toks)::BIGINT AS n_tok FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tok,
       |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
       |  FROM t)
       |SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
       |  sum(n_tok) > $BudgetTokens AS over_budget,
       |  sum(CASE WHEN cum <= $BudgetTokens THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
       |  min(CASE WHEN cum > $BudgetTokens THEN doc_id END) AS cutoff_doc
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin
  }
}
