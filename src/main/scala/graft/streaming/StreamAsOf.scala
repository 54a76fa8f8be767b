package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** s20 — STREAMING as-of enrichment (q28 as a Kappa pipeline; the
  * Flink "temporal table join" shape): clicks and purchases arrive
  * interleaved in event-time-ordered weekly micro-batches; per user a
  * `GroupState` carries only the LATEST at-or-before click (three
  * scalars), and every purchase is emitted enriched with it — the
  * "feature as of decision time" lookup run continuously instead of as
  * q28's corpus-wide union+window.
  *
  * Why this is the 100 TB shape for a live feed: the batch as-of plan
  * re-sorts probe ∪ ref per run, so a continuous feed would re-pay the
  * whole reference timeline every trigger. Here each trigger's cost is
  * batch-sized, the reference timeline is never re-scanned (it IS the
  * state), and state is O(active users) × O(1) per user — with a real
  * `EventTimeTimeout` idle users would be evicted; NoTimeout is
  * correct for the finite replay.
  *
  * Tie discipline matches q28/DuckDB ASOF exactly: inclusive
  * (`click.ts <= purchase.ts`), clicks before purchases at equal ts,
  * max event_id among clicks sharing (user, ts) — the per-batch group
  * iterator is sorted by (ts, side, event_id) and clicks fold into
  * state before any equal-ts purchase reads it. Cross-batch order
  * holds because the weekly staging slices time: every event of batch
  * w precedes every event of batch w+1.
  *
  * Kappa equivalence, oracle-enforced: the union of per-batch
  * emissions must hash-equal q28's one-shot ASOF (same oracle SQL). A
  * dropped batch, a state regression, or an eviction bug breaks it.
  */
object StreamAsOf {

  case class Ev(event_id: Long, user_id: Long, event_type: String,
                ts: java.sql.Timestamp, ts_us: Long, value: Double)
  case class Enriched(event_id: Long, user_id: Long,
                      ts: java.sql.Timestamp, value: Double,
                      ref_event_id: Option[Long], ref_value: Option[Double],
                      staleness_us: Option[Long])
  /** (click ts µs, click event_id, click value) — latest-so-far. */
  private type Ref = (Long, Long, Double)

  /** Stage clicks+purchases as one file per week-of-month, mod times in
    * week order (the s05 `stageWeekly` convention).
    */
  private def stageFeed(spark: SparkSession, dir: String): String = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("ts_us"), col("value"))
    FeedStage.stage(spark, StreamEnv.legDir(spark, "stream_asof", dir), ev,
      expr("(day(ts) - 1) div 7"), 5, Seq(col("event_id")), name = w => s"week$w.parquet")
  }

  def asOfEnrich(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.rocksDbSessionFor(spark, dir)
    import ss.implicits._
    val in = stageFeed(spark, dir)

    val stream = ss.readStream
      .schema(Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), unix_micros(col("ts")).as("ts_us"), col("value")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .as[Ev]

    val enriched = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[Ref, Enriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[Ref]) =>
          var ref = state.getOption.orNull
          val out = Vector.newBuilder[Enriched]
          // (ts, side, event_id): clicks fold into state before any
          // equal-ts purchase reads it; max event_id wins ref ties
          rows.toSeq
            .sortBy(e => (e.ts_us, if (e.event_type == "click") 0 else 1, e.event_id))
            .foreach {
              case e if e.event_type == "click" =>
                if (ref == null || e.ts_us > ref._1 ||
                    (e.ts_us == ref._1 && e.event_id > ref._2))
                  ref = (e.ts_us, e.event_id, e.value)
              case e =>
                out += (if (ref == null)
                  Enriched(e.event_id, user, e.ts, e.value, None, None, None)
                else
                  Enriched(e.event_id, user, e.ts, e.value,
                    Some(ref._2), Some(ref._3), Some(e.ts_us - ref._1)))
            }
          if (ref != null) state.update(ref)
          out.result().iterator
      }

    StreamEnv.drainToMemory(enriched.writeStream.outputMode("append"), "stream_asof")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("ref_event_id"), col("ref_value"), col("staleness_us"))
      .orderBy("event_id")
  }
}
