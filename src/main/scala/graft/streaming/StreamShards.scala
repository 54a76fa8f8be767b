package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s18 — STREAMING token-budgeted output sharding: d44's corpus export
  * run as the continuous ingest it really is. Documents arrive as
  * ordered micro-batches (contiguous doc_id ranges, one staged file
  * per trigger — the arrival order a log-compacted upstream gives);
  * each trigger assigns its documents to token-budgeted shards by
  * folding the batch-local distributed prefix sum
  * ([[graft.llm.Sampling.prefixShards]]) onto the corpus-wide running
  * token total carried from the previous trigger.
  *
  * The carried total is persisted per batch id as a tiny state file
  * NEXT TO the idempotent per-batch output (the s04/s11 exactly-once
  * convention): a retried batch re-reads its predecessor's total —
  * which a retry never changes — and overwrites only its own output
  * and state, so replays are invisible. That is the production shape
  * of a resumable exporter: the state is one integer per epoch, not a
  * state store over the corpus.
  *
  * Kappa equivalence, oracle-enforced: the union of the per-trigger
  * shard assignments must equal d44's one-shot batch assignment —
  * s18 reuses d44's oracle verbatim, so a dropped batch, a wrong
  * carry, or a double-applied fold breaks the hash match.
  */
object StreamShards {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val NumBatches = 4

  def tokenShardIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Sampling
    val ss = StreamEnv.streamSession(spark)
    val base = StreamEnv.legDir(ss, "stream_shards", dir)
    val fs = FileSystem.get(ss.sparkContext.hadoopConfiguration)

    // stage the feed as contiguous doc_id-range files with mod-times in
    // range order: maxFilesPerTrigger=1 then replays the global doc_id
    // order one range per micro-batch
    val docs = graft.tables.Tables.documents(spark, dir).select("doc_id", "text")
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val (minId, maxId) = (b.getLong(0), b.getLong(1))
    val span = (maxId - minId) / NumBatches + 1
    FeedStage.stage(spark, base, docs,
      expr(s"(doc_id - $minId) div $span"), NumBatches, Seq(col("doc_id")))

    val outDir = s"$base/shards"
    val stateDir = s"$base/state"
    fs.mkdirs(new Path(stateDir))
    def readCarry(id: Long): Long =
      if (id == 0L) 0L
      else {
        val in = fs.open(new Path(stateDir, s"total_${id - 1}"))
        try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
          .readLine().trim.toLong
        finally in.close()
      }
    def writeCarry(id: Long, total: Long): Unit = {
      val out = fs.create(new Path(stateDir, s"total_$id"), true)
      try out.write(total.toString.getBytes("UTF-8")) finally out.close()
    }

    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val carry = readCarry(id)
        val out = Sampling.prefixShards(Sampling.tokenCounts(batch), carry)
          .localCheckpoint() // consumed twice: the write and the total
        out.write.mode("overwrite").parquet(s"$outDir/batch_$id")
        val total = out.agg(max("cum_tokens")).head()
        writeCarry(id, if (total.isNullAt(0)) carry else total.getLong(0))
        ()
      }, base)
    ss.read.parquet(s"$outDir/batch_*").orderBy("doc_id")
  }

  /** Same assignment as the one-shot d44 export, so the same oracle:
    * micro-batching and the carried total are invisible to the result.
    */
  def oracleStreamShards: String = graft.llm.Sampling.oracleTokenShards
}
