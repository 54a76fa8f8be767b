package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sessionization — the one streaming-state shape the reference lacks
  * outright (SURVEY.md §2.10 D7): group per-user events into sessions
  * separated by ≥ [[GapHours]] of inactivity, via Spark's
  * `session_window`. The same call works under `readStream` with a
  * watermark (merging session state); the batch run here is
  * oracle-checked against the classic gaps-and-islands SQL rewrite.
  */
object Sessionize {

  val GapHours = 8

  /** s02 — per-user sessions: start, last event, size, value total. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), s"$GapHours hours").as("w"), col("user_id"))
      .agg(min(col("ts")).as("session_start"),
           max(col("ts")).as("last_ts"),
           count(lit(1)).as("n_events"),
           round(sum("value"), 2).as("total_value"))
      .select("user_id", "session_start", "last_ts", "n_events", "total_value")
      .orderBy("user_id", "session_start")

  /** Gaps-and-islands oracle: new session iff the gap is STRICTLY
    * greater than the window gap — probed empirically: Spark's
    * `session_window` merges an event arriving at exactly last+gap
    * (the [start, last+gap] merge check is inclusive).
    */
  val oracleSessions: String =
    s"""WITH e AS (
       |  SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
       |d AS (
       |  SELECT user_id, ts, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |              OR ts - lag(ts) OVER w > INTERVAL $GapHours HOURS
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (
       |  SELECT user_id, ts, value,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |                          ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM d)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
       |       count(*) AS n_events, round(sum(value), 2) AS total_value
       |FROM s
       |GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** s14 — the same sessionization under `readStream`: Spark's
    * MERGING-session state store (sessions extend/merge as events
    * arrive; state is keyed by (user, session) and re-merged per
    * trigger — machinery batch `session_window` never exercises).
    * Append mode + 1-day watermark: a session is emitted exactly once,
    * when the watermark passes `last_ts + gap` (its close), then its
    * state is dropped — the only session shape that survives an
    * unbounded stream. The still-open tail (sessions whose close the
    * final watermark = max(ts) − 1 day hasn't passed) stays in state,
    * exactly as the oracle models; a later run emits it incrementally.
    */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val raw = StreamEnv.eventsStream(ss, dir)
    StreamEnv.drainToMemory(raw
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), s"$GapHours hours").as("w"), col("user_id"))
      .agg(min(col("ts")).as("session_start"),
           max(col("ts")).as("last_ts"),
           count(lit(1)).as("n_events"),
           round(sum("value"), 2).as("total_value"))
      .select("user_id", "session_start", "last_ts", "n_events", "total_value")
      .writeStream
      .outputMode("append"), "stream_sessions")
      .orderBy("user_id", "session_start")
  }

  /** s14's oracle: the s02 islands rewrite restricted to watermark-
    * CLOSED sessions — closed once `last_ts + gap ≤ max(ts) − 1 day`
    * (window-close is inclusive at equality, the s01 boundary).
    */
  val oracleStreamSessions: String =
    s"""WITH e AS (
       |  SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
       |d AS (
       |  SELECT user_id, ts, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |              OR ts - lag(ts) OVER w > INTERVAL $GapHours HOURS
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (
       |  SELECT user_id, ts, value,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |                          ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM d)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
       |       count(*) AS n_events, round(sum(value), 2) AS total_value
       |FROM s
       |GROUP BY user_id, sid
       |HAVING max(ts) + INTERVAL $GapHours HOURS
       |       <= (SELECT max(ts::TIMESTAMP) - INTERVAL 1 DAY FROM events)
       |ORDER BY user_id, session_start""".stripMargin
}
