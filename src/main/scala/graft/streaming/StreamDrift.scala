package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s21 — STREAMING distribution-drift monitor (the in-flight
  * data-quality check every continuous ingest runs — the Deequ/TFX
  * "training-serving skew" shape): each arriving micro-batch's value
  * histogram is compared against the corpus reference histogram, and
  * the per-batch drift report (per-bucket ppm shares, absolute delta,
  * and the batch's total L1 distance) lands in the sink alongside the
  * data. A pipeline gates ingest on `l1_ppm` exceeding a tolerance;
  * here the report itself is the oracle-checked output.
  *
  * Integer discipline: histogram buckets are exact cents
  * (`round(value·100) div 2500`, the s05 cents convention — never
  * float-divide a 2-decimal value at a bucket boundary), and shares
  * are integer PARTS-PER-MILLION (`n·10⁶ div N`, truncating division,
  * identical in DuckDB), so every report column is a BIGINT and the
  * union of per-batch reports hash-matches the one-shot weekly SQL.
  *
  * Scale shape (100 TB feed): per trigger ONE map-side-partial count
  * per bucket (20 groups — partial agg collapses each partition to
  * ≤ 20 rows before the exchange), then 20-row arithmetic against the
  * broadcast reference; no state store at all — the reference
  * histogram is read-only shared state staged once per era (the s12
  * pattern; a drifting reference would be re-staged per era
  * hand-over, d30-style).
  */
object StreamDrift {

  val NumBuckets = 20L
  val CentsPerBucket = 2500L // 20 × 25.00-value-wide buckets
  val Ppm = 1000000L

  private def bucketCol(value: org.apache.spark.sql.Column) =
    least(expr(s"cast(round(${value} * 100) as bigint) div $CentsPerBucket"),
      lit(NumBuckets - 1))

  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val in = StatefulCumulative.stageWeekly(spark, dir, "drift")

    // reference histogram + total: tiny (≤ NumBuckets rows), computed
    // once before the stream starts and broadcast into every trigger
    val ev = Tables.events(spark, dir)
    val refRows = ev.groupBy(bucketCol(col("value")).as("bucket"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val refTotal = refRows.map(_._2).sum
    val refDf = spark.createDataFrame(refRows.toSeq).toDF("bucket", "c")
      .withColumn("ref_ppm", expr(s"c * $Ppm div $refTotal"))

    val base = StreamEnv.legDir(ss, "stream_drift_out", dir)
    val reportsDir = s"$base/reports"

    StreamEnv.drain(ss.readStream
      .schema(ev.select("event_type", "ts", "value").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val weeks = batch.select(
          expr("(day(ts) - 1) div 7").cast("int").as("week")).distinct().collect()
        require(weeks.length == 1,
          s"batch $id mixes weeks — weekly staging invariant broken")
        val week = weeks(0).getInt(0)
        val nw = batch.count()
        val counts = batch.groupBy(bucketCol(col("value")).as("bucket"))
          .agg(count(lit(1)).as("n"))
        broadcast(refDf.select("bucket", "ref_ppm"))
          .join(counts, Seq("bucket"), "left")
          .select(lit(week).as("week"), col("bucket"),
            coalesce(col("n"), lit(0L)).as("n"), col("ref_ppm"))
          .withColumn("batch_ppm", expr(s"n * $Ppm div $nw"))
          .withColumn("delta_ppm", abs(col("batch_ppm") - col("ref_ppm")))
          .write.mode("overwrite").parquet(s"$reportsDir/batch_$id")
        ()
      }, base)

    val rep = ss.read.parquet(s"$reportsDir/batch_*")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("week")
    rep.withColumn("l1_ppm", sum("delta_ppm").over(w))
      .select("week", "bucket", "n", "batch_ppm", "ref_ppm", "delta_ppm", "l1_ppm")
      .orderBy("week", "bucket")
  }

  /** The weekly drift grid recomputed relationally: every (week,
    * reference-bucket) cell zero-filled, ppm shares by truncating
    * division, L1 as the per-week window sum.
    */
  val oracleDriftReport: String =
    s"""WITH e AS (
       |  SELECT ((day(ts::TIMESTAMP) - 1) // 7)::INT AS week,
       |         least(CAST(round(value * 100) AS BIGINT) // $CentsPerBucket,
       |               ${NumBuckets - 1}) AS bucket
       |  FROM events),
       |ref AS (SELECT bucket, count(*)::BIGINT AS c FROM e GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS nt FROM e),
       |wk AS (SELECT week, count(*)::BIGINT AS nw FROM e GROUP BY 1),
       |bc AS (SELECT week, bucket, count(*)::BIGINT AS n FROM e GROUP BY 1, 2),
       |grid AS (
       |  SELECT wk.week, r.bucket, coalesce(bc.n, 0)::BIGINT AS n,
       |         (r.c * $Ppm // tot.nt)::BIGINT AS ref_ppm,
       |         (coalesce(bc.n, 0) * $Ppm // wk.nw)::BIGINT AS batch_ppm
       |  FROM wk CROSS JOIN ref r CROSS JOIN tot
       |  LEFT JOIN bc ON bc.week = wk.week AND bc.bucket = r.bucket)
       |SELECT week, bucket, n, batch_ppm, ref_ppm,
       |       abs(batch_ppm - ref_ppm)::BIGINT AS delta_ppm,
       |       (sum(abs(batch_ppm - ref_ppm)) OVER (PARTITION BY week))::BIGINT AS l1_ppm
       |FROM grid ORDER BY week, bucket""".stripMargin
}
