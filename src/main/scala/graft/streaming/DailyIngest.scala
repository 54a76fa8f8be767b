package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SparkDateTimeUtils
import org.apache.spark.sql.functions._

/** Structured-Streaming re-expression of the reference's daily Airflow
  * DAG (SURVEY.md §2.10): extract → 1-day tumbling-window mean → append,
  * Kappa-style — the same aggregation code serves batch backfill and
  * the stream, replacing the DAG's XCom-materialized task boundaries
  * with one incremental plan.
  *
  * The daily slice predicate of the reference
  * (`where date='{ds-1}'`, reference
  * `airflow/dags/insert_conso_jour_region_in_bq.py:54-65`) becomes the
  * event-time window; `Trigger.AvailableNow` is the daily-cron analog
  * (drain all available input, then stop); the 1-day watermark bounds
  * state exactly like the DAG's next-morning cutoff (D3).
  */
object DailyIngest {

  /** The shared (batch = stream) daily aggregation: 1-day tumbling
    * window per event_type, stable mean (see CoreOps.stableAvg).
    */
  private def dailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg((round(sum("value"), 2) / count("value")).as("daily_mwh"))
      .select(col("event_type"), to_date(col("w.start")).as("d"), col("daily_mwh"))

  /** s01 — run the streaming pipeline to completion over the events
    * table (AvailableNow, in-memory sink) in APPEND mode: each daily
    * window is emitted exactly once when the watermark closes it and
    * its state is dropped — the only state shape that survives an
    * unbounded stream (`complete` mode re-emits and retains ALL
    * windows every trigger). The still-open tail (the last two days —
    * watermark = max(ts) − 1 day hasn't passed them when the drain
    * stops) stays in state, exactly as the oracle models; the next
    * day's run emits it incrementally (s04 proves that from a real
    * checkpoint).
    */
  def streamDaily(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    // the path works as both layouts: a single events.parquet FILE
    // (driver testdata) or a directory of part files (Amplify output)
    val raw = StreamEnv.eventsStream(ss, dir)
    StreamEnv.drainToMemory(dailyAgg(raw).writeStream.outputMode("append"), "stream_daily")
      .orderBy("event_type", "d")
  }

  /** s01's oracle: daily means over watermark-CLOSED windows only (a
    * window [d, d+1) is final once max(ts) − 1 day passes its end).
    */
  val oracleStreamDaily: String =
    """SELECT event_type, (ts::TIMESTAMP)::DATE AS d,
      |  round(sum(value), 2) / count(value) AS daily_mwh
      |FROM events
      |GROUP BY 1, 2
      |HAVING d < (SELECT max(ts::TIMESTAMP)::DATE - 1 FROM events)
      |ORDER BY 1, 2""".stripMargin

  /** s04 — the DAG's LOAD leg as a real streaming sink (SURVEY §2
    * S7/D4): the same daily aggregation written in **append** mode to a
    * checkpointed parquet file sink, then read back. Append + watermark
    * is the at-scale shape `complete` mode (s01) can't be: each window
    * is emitted exactly once when the watermark passes it and its state
    * is dropped, and the file sink's transaction log makes the append
    * exactly-once under task retries.
    *
    * Emission boundary: a window `[d, d+1)` is final once watermark =
    * max(ts) − 1 day passes its end, so the last two (still-open) days
    * stay in state when the AvailableNow run drains — the oracle models
    * exactly that (`d < max_date − 1`). The withheld tail is not a
    * fixture artifact: it is WHAT a watermarked append sink means, and
    * the next day's run emits it incrementally from the checkpoint.
    */
  def streamAppendSink(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    // fresh demo run: an empty sink + checkpoint (a production run would
    // KEEP both — the checkpoint is what makes the next run incremental)
    val base = StreamEnv.legDir(ss, "stream_sink", dir)
    val raw = StreamEnv.eventsStream(ss, dir)
    StreamEnv.drain(dailyAgg(raw).writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .outputMode("append"), base)
    ss.read.parquet(s"$base/out").orderBy("event_type", "d")
  }

  val oracleStreamAppendSink: String =
    """SELECT event_type, (ts::TIMESTAMP)::DATE AS d,
      |  round(sum(value), 2) / count(value) AS daily_mwh
      |FROM events
      |GROUP BY 1, 2
      |HAVING d < (SELECT max(ts::TIMESTAMP)::DATE - 1 FROM events)
      |ORDER BY 1, 2""".stripMargin

  /** Batch leg of the Kappa pair — identical transform, batch source
    * (used by the batch/stream-equivalence spec).
    */
  def batchDaily(spark: SparkSession, dir: String): DataFrame =
    dailyAgg(graft.tables.Tables.events(spark, dir))
      .orderBy("event_type", "d")

  /** s03 — sliding event-time windows (7-day window, 1-day slide): the
    * streaming generalization of the API's "trailing 30 days at query
    * time" (SURVEY.md §2.10). Each event lands in 7 windows; day-aligned
    * slide means window starts are exactly date(ts)−k, k∈[0,7) — which
    * is the oracle's spelling. Same code runs under readStream with a
    * watermark.
    */
  def slidingDaily(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"), col("event_type"))
      .agg((round(sum("value"), 2) / count("value")).as("mean_value"),
           count(lit(1)).as("n"))
      .select(to_date(col("w.start")).as("wstart"), col("event_type"),
              col("mean_value"), col("n"))
      .orderBy("wstart", "event_type")

  val oracleSlidingDaily: String =
    """SELECT (ts::TIMESTAMP)::DATE - k::INT AS wstart, event_type,
      |  round(sum(value), 2) / count(value) AS mean_value,
      |  count(*) AS n
      |FROM events, range(7) t(k)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Backfill (SURVEY.md §2.10 D3 — the reference's
    * `airflow dags backfill -s .. -e ..`): re-run the daily aggregation
    * as a batch over a closed date range. Kappa: same `dailyAgg` code
    * as the stream; pair with Ingest.loadDailyPartitioned so re-running
    * a range replaces those partitions idempotently.
    *
    * The scan reads only the range, in three steps:
    *  - A `ts` bound before the aggregate covers every row of the kept
    *    windows: a kept window starts at or after `from`'s midnight and
    *    ends before `to`'s next midnight plus 24 hours, in the session
    *    zone. The exact filter on `d` after it keeps the result
    *    unchanged. Spark pushes the bound into the parquet scan, through
    *    `normalizeTs`'s NTZ cast too.
    *  - Only the data files whose footer `ts` span meets that bound are
    *    read ([[graft.tables.Tables.eventsTs]]: a driver footer read per
    *    new file, no job), plus any file whose footer cannot say. A
    *    daily load thus reads O(new day) files, not the whole history,
    *    the partition pruning the reference's `where date=...` gets.
    *  - When the files read fit one task (the width rule at the 4 MB
    *    per-task target of `StreamEnv`), the scan is one partition.
    *    Its output is then a single partition, which already satisfies
    *    the aggregate's and the `orderBy`'s distributions: the plan has
    *    no exchange, and the whole load is one job. A larger selection
    *    keeps Spark's split plan.
    */
  def backfill(spark: SparkSession, dir: String,
               from: java.sql.Date, to: java.sql.Date): DataFrame = {
    val zone = graft.LocalSession.zone(spark)
    val lo = from.toLocalDate.atStartOfDay(zone).toInstant
    val hi = to.toLocalDate.plusDays(1).atStartOfDay(zone).toInstant.plus(java.time.Duration.ofHours(24))
    val (loUs, hiUs) = (SparkDateTimeUtils.instantToMicros(lo), SparkDateTimeUtils.instantToMicros(hi))
    val files = graft.tables.Tables.eventsTs(spark, dir)
      .collect { case (f, span) if span.forall(_.meets(loUs, hiUs)) => f }
    val scan = graft.tables.Tables.eventsFiles(spark, dir, files.map(_.path))
    val oneTask = graft.LocalSession.width(files.map(_.length).sum, 4L << 20, 1,
      spark.sparkContext.defaultParallelism) == 1
    dailyAgg(graft.tables.Tables.normalizeTs(if (oneTask) scan.coalesce(1) else scan)
        .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)))
      .filter(col("d").between(lit(from), lit(to)))
      .orderBy("event_type", "d")
  }

  /** s17 — D3 backfill as a GATED query: replay a closed 10-day range
    * (derived from the data so it exists at every SF: days +3..+12
    * from the first event) through the same daily aggregation the
    * stream runs — the reference's
    * `airflow dags backfill -s .. -e ..` re-expressed Kappa-style.
    * The range bound is the only difference from the live pipeline;
    * pairing with `Ingest.loadDailyPartitioned` makes a re-run
    * replace exactly those partitions. The first day is the session
    * date of the least footer `ts` ([[firstDay]]), no job; only when a
    * footer cannot give it exactly is it one 1-row driver aggregate
    * (the bounded-driver-state convention).
    */
  def backfillRange(spark: SparkSession, dir: String): DataFrame = {
    val d0 = firstDay(spark, dir).getOrElse(graft.tables.Tables.events(spark, dir)
      .agg(min(to_date(col("ts"))).as("d0")).head().getDate(0).toLocalDate)
    backfill(spark, dir,
      java.sql.Date.valueOf(d0.plusDays(3)), java.sql.Date.valueOf(d0.plusDays(12)))
  }

  /** The session date of the events' least `ts`, from the footers;
    * `None` when a file's footer span is missing or not exact, or no
    * file holds a `ts`.
    */
  private def firstDay(spark: SparkSession, dir: String): Option[java.time.LocalDate] = {
    val spans = graft.tables.Tables.eventsTs(spark, dir).map(_._2)
    val mins = spans.flatten.filterNot(_.isEmpty).map(_.min)
    Option.when(spans.forall(_.exists(_.exact)) && mins.nonEmpty)(
      SparkDateTimeUtils.microsToInstant(mins.min).atZone(graft.LocalSession.zone(spark)).toLocalDate)
  }

  val oracleBackfillRange: String =
    """SELECT event_type, (ts::TIMESTAMP)::DATE AS d,
      |  round(sum(value), 2) / count(value) AS daily_mwh
      |FROM events
      |WHERE (ts::TIMESTAMP)::DATE
      |  BETWEEN (SELECT min(ts::TIMESTAMP)::DATE + 3 FROM events)
      |      AND (SELECT min(ts::TIMESTAMP)::DATE + 12 FROM events)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin
}
