package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s06 — stream-stream interval join: each purchase matched to the
  * same user's clicks in the preceding hour, both sides unbounded
  * streams. The streaming generalization of q28's as-of lookup — where
  * as-of keeps ONE prior row, the interval join keeps ALL rows inside
  * the time window, and the watermarks let Spark drop buffered state
  * once `click.ts < watermark(purchase) − 1 hour` can no longer match
  * (the condition bounds both event-time columns, which is what makes
  * the state finite — an unconstrained stream-stream join would buffer
  * forever).
  *
  * Inner interval joins emit a match as soon as both rows have
  * arrived, so draining with AvailableNow yields exactly the batch
  * join — the oracle is that batch SQL, no withheld-tail modeling
  * needed (contrast s04's append-mode aggregation).
  */
object StreamJoin {

  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    StreamEnv.eventsStream(spark, dir)

  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val purchases = eventStream(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 day")
    val clicks = eventStream(ss, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 day")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
    StreamEnv.drainToMemory(joined
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
      .writeStream.outputMode("append"), "stream_join")
      .orderBy("purchase_id", "click_id")
  }

  /** s08 — stream-stream LEFT OUTER interval join: same match window
    * as s06, but purchases with no click in the preceding hour emit a
    * null-padded row — only once the watermark proves no matching
    * click can still arrive. That proof is the semantic difference
    * from the inner join: a null row is a *negative* claim, so it can
    * only be emitted on state eviction (watermark passes the
    * purchase), never eagerly. Consequence for the drain: unmatched
    * purchases inside the final watermark window (the last day of the
    * stream) stay withheld, which the oracle models with the same
    * `max(ts) − delay` cutoff s04 uses for its append-mode tail —
    * the eviction watermark is `min(max purchase ts, max click ts) −
    * 1 day`, the min because the global watermark tracks the slowest
    * input.
    */
  def purchaseClickLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val purchases = eventStream(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 day")
    val clicks = eventStream(ss, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 day")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      "leftOuter")
    StreamEnv.drainToMemory(joined
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
      .writeStream.outputMode("append"), "stream_ljoin")
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  val oraclePurchaseClickLeftJoin: String =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS purchase_ts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id AS c_user_id, ts::TIMESTAMP AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |wm AS (
      |  SELECT least((SELECT max(purchase_ts) FROM p),
      |               (SELECT max(click_ts) FROM c)) - INTERVAL 1 DAY AS w),
      |j AS (
      |  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts
      |  FROM p LEFT JOIN c
      |    ON p.user_id = c.c_user_id
      |   AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR AND p.purchase_ts)
      |SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
      |FROM j, wm
      |WHERE click_id IS NOT NULL OR purchase_ts < wm.w
      |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin

  val oraclePurchaseClickJoin: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |       p.ts::TIMESTAMP AS purchase_ts,
      |       c.event_id AS click_id, c.ts::TIMESTAMP AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts::TIMESTAMP BETWEEN p.ts::TIMESTAMP - INTERVAL 1 HOUR
      |                         AND p.ts::TIMESTAMP
      |ORDER BY purchase_id, click_id""".stripMargin

  /** s09 — stream-STATIC enrichment join: the production pattern the
    * stream-stream legs (s06/s08) don't cover — an unbounded event
    * stream enriched against a bounded dimension table (here: events ⋈
    * customer on user_id, then a watermarked daily aggregate per
    * market segment, append mode). The static side needs no watermark
    * and no state: Spark re-plans it per micro-batch as an ordinary
    * broadcast hash join, so the stream never shuffles and the
    * dimension never buffers — exactly the q13 broadcast-dim shape
    * carried into the streaming engine.
    */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val dim = Tables.customer(ss, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(ss, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("c_mktsegment"))
      .agg((round(sum("value"), 2) / count("value")).as("mean_value"),
           count(lit(1)).as("n"))
      .select(col("c_mktsegment").as("segment"), to_date(col("w.start")).as("d"),
              col("mean_value"), col("n"))
    StreamEnv.drainToMemory(agg.writeStream.outputMode("append"), "stream_static")
      .orderBy("segment", "d")
  }

  /** Batch twin + the append-mode watermark tail model (windows closed
    * once watermark = max(ts) − 1 day passes them), like s01/s04.
    */
  val oracleStreamStaticEnrich: String =
    """SELECT c_mktsegment AS segment, (ts::TIMESTAMP)::DATE AS d,
      |  round(sum(value), 2) / count(value) AS mean_value,
      |  count(*) AS n
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |HAVING d < (SELECT max(ts::TIMESTAMP)::DATE - 1 FROM events)
      |ORDER BY 1, 2""".stripMargin
}
