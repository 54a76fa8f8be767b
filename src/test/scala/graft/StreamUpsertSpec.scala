package graft

import graft.streaming.{StreamEnv, StreamUpsert}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** s11 contracts: the foreachBatch upsert loop converges to the batch
  * aggregate for ANY micro-batch split of the input — the algebraic
  * state-merge property that makes streaming maintenance trustworthy.
  */
class StreamUpsertSpec extends AnyFunSuite {
  import SparkTestBase.{Sf, spark}

  private def batchTruth() = {
    graft.tables.Tables.events(spark, Sf)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      .select(col("event_type"), col("d"), col("n_rows"), col("sum_cents"),
        (col("sum_cents").cast("double") / lit(100.0) / col("n_rows")).as("mean_value"))
      .orderBy("event_type", "d")
      .collect().toSeq
  }

  test("s11: single-batch upsert equals the batch aggregate") {
    val got = StreamUpsert.dailyUpsert(spark, Sf).collect().toSeq
    assert(got == batchTruth())
  }

  test("s11: a 6-way micro-batch split converges to the same state table") {
    val ss = StreamEnv.streamSession(spark)
    // stage the same events as 6 part files, one file per micro-batch
    val staged = StreamEnv.legDir(ss, "upsert_split_src", Sf)
    val physSchema = StreamEnv.eventsPhysicalSchema(ss, Sf)
    ss.read.schema(physSchema).parquet(s"$Sf/events.parquet")
      .repartition(6).write.parquet(staged)
    val src = ss.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val got = StreamUpsert.upsertFrom(ss, src, StreamEnv.legDir(ss, "upsert_split_state", Sf))
      .collect().toSeq
    assert(got == batchTruth(),
      "N-batch merge must be bit-equal to the single-batch result")
  }

  test("s12: one idempotent verdict partition per micro-batch, union equals d29's one-shot result") {
    import graft.streaming.StreamIngest
    def asTuples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).toSet
    val streamed = asTuples(StreamIngest.bloomIngest(spark, Sf).collect())
    // one verdicts dir per staged micro-batch file
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = graft.ops.Staging.stagePath("stream_ingest", Sf)
    val dirs = fs.globStatus(new org.apache.hadoop.fs.Path(s"$base/verdicts/batch_*"))
    assert(dirs.length == StreamIngest.NumBatches,
      s"expected ${StreamIngest.NumBatches} per-batch verdict partitions, got ${dirs.length}")
    // Kappa: micro-batched classification == the one-shot batch query
    val oneShot = asTuples(graft.llm.Dedup.bloomIncrementalDedup(spark, Sf).collect())
    assert(streamed == oneShot, "streaming verdicts diverge from the batch classification")
  }
}
