package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once hygiene for the incremental pipeline (SURVEY.md §2.10
  * D4): the reference's WRITE_APPEND + task retry can double-load a
  * day; this leg drops duplicate event_ids inside the watermark before
  * they reach the sink — paired with the idempotent partition-overwrite
  * batch writer (graft.ops.Ingest.loadDailyPartitioned).
  */
object StreamDedup {

  /** s10 — stream the events table twice (a simulated retry-after-
    * partial-success) through dropDuplicates-within-watermark, and
    * return the deduped daily counts in APPEND mode (watermark-closed
    * windows emitted exactly once, state dropped — the only shape that
    * survives an unbounded stream). Doubling the input and getting the
    * single-delivery answer back IS the exactly-once claim.
    */
  def dedupedDailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val once = StreamEnv.eventsStream(ss, dir)
    val doubled = once.union(once) // the duplicated delivery
    StreamEnv.drainToMemory(doubled
      // dropDuplicatesWithinWatermark, NOT dropDuplicates("event_id"):
      // plain key-only dedup never evicts state (the event-time column
      // must be part of the keys for watermark eviction), so a long-
      // running stream would grow state unboundedly; the within-
      // watermark variant expires each key once it falls behind the
      // watermark — bounded state with the same dedup guarantee inside
      // the late-data window
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), to_date(col("w.start")).as("d"), col("n"))
      .writeStream
      .outputMode("append"), "stream_dedup")
      .orderBy("event_type", "d")
  }

  /** Batch twin: one delivery's counts over watermark-closed windows —
    * event_ids are unique per delivery, so the doubled stream deduped
    * on event_id must equal the raw single-delivery count.
    */
  val oracleDedupedDailyCounts: String =
    """SELECT event_type, (ts::TIMESTAMP)::DATE AS d, count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |HAVING d < (SELECT max(ts::TIMESTAMP)::DATE - 1 FROM events)
      |ORDER BY 1, 2""".stripMargin
}
