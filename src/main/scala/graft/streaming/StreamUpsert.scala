package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** s11 — streaming UPSERT via `foreachBatch`: the canonical production
  * pattern for maintaining a keyed serving table from a stream when
  * the sink has no native MERGE (plain parquet here; Delta/Iceberg at
  * work would take the same foreachBatch body with `MERGE INTO`).
  *
  * Per micro-batch: partial-aggregate the batch to algebraic state
  * (exact integer-cent sums + counts per (event_type, day) — the q48
  * convention), merge with the current state table by re-aggregation,
  * and atomically swap the state directory (write-new + rename; the
  * parquet analog of a transactional MERGE commit).
  *
  * Contrast with the append legs (s04): append + watermark emits each
  * window once and DROPS its state — late data past the watermark is
  * lost by design. The upsert table keeps every key addressable, so
  * any batch split (including late replays) converges to the same
  * table — batch-split invariance is exactly the algebraic-merge
  * property q48 proves batch-side, and StreamUpsertSpec proves it here
  * by re-running the same data as N micro-batches.
  *
  * Scale shape: each micro-batch shuffles only its own partial states
  * (map-side combine first), and the merge re-aggregates state ∪ delta
  * on the group key — state-table-sized, not history-sized. At 100 TB
  * the state table is partitioned by the group key and the swap is a
  * metadata commit (partition overwrite / MERGE), not a full rewrite.
  */
object StreamUpsert {

  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("d", DateType),
    StructField("sum_cents", LongType), StructField("n", LongType)))

  /** Run the upsert loop over an events source stream (raw physical
    * `ts`, normalized here), then read the final state table. The
    * source is a parameter so the spec can drive the SAME data as N
    * single-file micro-batches and assert the table converges
    * regardless of split. `stateBase` is an empty leg dir
    * ([[StreamEnv.legDir]]).
    */
  private[graft] def upsertFrom(ss: SparkSession, rawStream: DataFrame,
                                stateBase: String): DataFrame = {
    val fs = FileSystem.get(ss.sparkContext.hadoopConfiguration)
    val statePath = s"$stateBase/state"
    val nextPath = s"$stateBase/state_next"

    def readState(): DataFrame =
      if (fs.exists(new Path(statePath))) ss.read.schema(stateSchema).parquet(statePath)
      else ss.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), stateSchema)

    val raw = graft.tables.Tables.normalizeTs(rawStream)
    StreamEnv.drain(raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch
          .select(col("event_type"), to_date(col("ts")).as("d"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
          .groupBy("event_type", "d")
          .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n"))
        val merged = readState().unionByName(delta)
          .groupBy("event_type", "d")
          .agg(sum("sum_cents").as("sum_cents"), sum("n").as("n"))
        // write-new + atomic swap: readers never see a half-written state
        merged.write.mode("overwrite").parquet(nextPath)
        fs.delete(new Path(statePath), true)
        require(fs.rename(new Path(nextPath), new Path(statePath)),
          s"state swap failed for $statePath")
        ()
      }, stateBase)
    readState()
      .select(col("event_type"), col("d"), col("n").as("n_rows"), col("sum_cents"),
        (col("sum_cents").cast("double") / lit(100.0) / col("n")).as("mean_value"))
      .orderBy("event_type", "d")
  }

  def dailyUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    upsertFrom(ss, StreamEnv.eventsStream(ss, dir),
      StreamEnv.legDir(ss, "stream_upsert", dir))
  }

  /** The oracle is the plain batch aggregate — the upsert loop must
    * converge to it for ANY micro-batch split of the input.
    */
  val oracleDailyUpsert: String =
    """WITH ev AS (
      |  SELECT event_type, (ts::TIMESTAMP)::DATE AS d,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_type, d, count(*) AS n_rows, sum(cents)::BIGINT AS sum_cents,
      |  CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) AS mean_value
      |FROM ev
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin
}
