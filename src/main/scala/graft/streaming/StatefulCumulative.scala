package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Arbitrary stateful streaming (SURVEY.md §2.10 extension): the custom
  * per-key state that `session_window`/windowed aggs can't express,
  * via `KeyValueGroupedDataset.flatMapGroupsWithState`.
  *
  * s05 — cumulative per-event-type totals ACROSS micro-batches: the
  * events table is staged into one file per week-of-month and streamed
  * with `maxFilesPerTrigger=1`, so each week arrives in its own
  * micro-batch (files ordered by modification time — the staged mod
  * times encode week order). A `GroupState[(Long, Long)]` carries
  * (running count, running cents) per event_type from batch to batch;
  * each batch appends one cumulative snapshot row per key present.
  * This is the cross-batch-state demonstration the one-shot
  * AvailableNow runs of s01/s04 can't give: the emitted value for week
  * w is provably f(state at w−1, batch w).
  *
  * Determinism across engines: money sums accumulate as exact integer
  * CENTS (`rint(value*100)` — value is 2-decimal data) and divide by
  * 100.0 only at emission, so the oracle's windowed cumulative sum
  * lands on the identical double regardless of summation order.
  *
  * Scale shape: state is O(event_types), rows shuffle once to their
  * key's state-store partition per batch; with a real timeout
  * (`GroupStateTimeout.EventTimeTimeout`) idle keys would be evicted —
  * NoTimeout is correct here because the key domain is tiny and the
  * run is finite.
  */
object StatefulCumulative {

  case class Ev(event_type: String, ts: java.sql.Timestamp, value: Double)
  case class Cum(event_type: String, week: Int, cum_n: Long, cum_value: Double)

  private[streaming] def weekOf(ts: java.sql.Timestamp): Int =
    (ts.toInstant.atOffset(java.time.ZoneOffset.UTC).getDayOfMonth - 1) / 7

  /** Stage events as one parquet file per week-of-month with mod times
    * in week order, so a `maxFilesPerTrigger=1` file stream replays the
    * weeks as ordered micro-batches. Returns the stream input dir.
    * Shared by s05 (flatMapGroupsWithState) and s07
    * (transformWithState).
    */
  private[streaming] def stageWeekly(spark: SparkSession, dir: String, tag: String): String = {
    val ev = Tables.events(spark, dir).select("event_type", "ts", "value")
    FeedStage.stage(spark, StreamEnv.legDir(spark, s"stream_$tag", dir), ev,
      expr("(day(ts) - 1) div 7"), 5, Seq(col("ts"), col("event_type"), col("value")),
      name = w => s"week$w.parquet")
  }

  /** s05 — run the staged weekly stream to completion; one cumulative
    * row per (event_type, week).
    */
  def cumulativeWeekly(spark: SparkSession, dir: String): DataFrame = {
    // same store as s07: RocksDB for BOTH arbitrary-state legs
    val ss = StreamEnv.rocksDbSessionFor(spark, dir)
    import ss.implicits._
    val in = stageWeekly(spark, dir, "state")

    val stream = ss.readStream
      .schema(Tables.events(spark, dir).select("event_type", "ts", "value").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .as[Ev]

    val cum = stream.groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long), Cum](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Ev], state: GroupState[(Long, Long)]) =>
          var week = -1
          var n = 0L
          var cents = 0L
          rows.foreach { e =>
            // stageWeekly writes one file per week and maxFilesPerTrigger=1
            // delivers it whole: every row of a batch shares one week. A
            // staging change must fail loudly here, not emit mislabeled rows.
            val w = weekOf(e.ts)
            require(week == -1 || w == week,
              s"batch for key '$key' mixes weeks $week and $w — weekly staging invariant broken")
            week = w
            n += 1
            cents += math.rint(e.value * 100).toLong
          }
          require(n > 0, s"empty micro-batch iterator for key '$key'")
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          val (n1, c1) = (n0 + n, c0 + cents)
          state.update((n1, c1))
          Iterator(Cum(key, week, n1, c1 / 100.0))
      }

    StreamEnv.drainToMemory(cum.writeStream.outputMode("append"), "stream_state")
      .orderBy("event_type", "week")
  }

  /** The cumulative series, recomputed relationally: weekly group
    * totals then a windowed running sum — what the stateful stream must
    * equal if its state really carried across batches.
    */
  val oracleCumulativeWeekly: String =
    """WITH e AS (
      |  SELECT event_type,
      |         ((day(ts::TIMESTAMP) - 1) // 7)::INT AS week,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (
      |  SELECT event_type, week, count(*) AS n, sum(cents) AS c
      |  FROM e GROUP BY 1, 2)
      |SELECT event_type, week,
      |  CAST(sum(n) OVER w AS BIGINT) AS cum_n,
      |  (sum(c) OVER w) / 100.0 AS cum_value
      |FROM g
      |WINDOW w AS (PARTITION BY event_type ORDER BY week ROWS UNBOUNDED PRECEDING)
      |ORDER BY event_type, week""".stripMargin
}
