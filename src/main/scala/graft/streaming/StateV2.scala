package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Arbitrary stateful streaming on the CURRENT state API
  * (`transformWithState`, Spark 4): typed per-key state variables
  * behind a `StatefulProcessor`, backed by the RocksDB state store —
  * the production surface that replaces `flatMapGroupsWithState`
  * (s05 keeps the legacy API for coverage of both).
  *
  * s07 — per event-type running (count, max) across micro-batches:
  * the weekly staged stream (shared with s05) arrives one week per
  * batch; two `ValueState` variables carry the running totals and each
  * batch emits one snapshot row per key. The value maximum accumulates
  * as exact integer cents, so the oracle's windowed running max lands
  * on the identical double.
  *
  * Scale shape: state is O(keys) × two longs in RocksDB (TTLConfig
  * hooks bound it in unbounded-key domains); rows shuffle once per
  * batch to their key's state partition — the same contract as any
  * keyed aggregation.
  */
object StateV2 {
  import StatefulCumulative.{weekOf, stageWeekly, Ev}

  case class Snap(event_type: String, week: Int, cum_n: Long, run_max: Double)

  /** Running (count, max-cents) per key via two typed ValueStates. */
  class RunningStats extends StatefulProcessor[String, Ev, Snap] {
    @transient private var cnt: ValueState[Long] = _
    @transient private var maxCents: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
      maxCents = getHandle.getValueState[Long]("maxCents", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[Snap] = {
      var week = -1
      var n = 0L
      var mx = Long.MinValue
      rows.foreach { e =>
        // one staged file per week + maxFilesPerTrigger=1 ⇒ every row of a
        // batch shares one week; assert so a staging change fails loudly
        // instead of emitting mislabeled snapshots (and mx below is only
        // meaningful when the iterator was non-empty).
        val w = weekOf(e.ts)
        require(week == -1 || w == week,
          s"batch for key '$key' mixes weeks $week and $w — weekly staging invariant broken")
        week = w
        n += 1
        val cents = math.rint(e.value * 100).toLong
        if (cents > mx) mx = cents
      }
      require(n > 0, s"empty micro-batch iterator for key '$key'")
      val n1 = (if (cnt.exists()) cnt.get() else 0L) + n
      val m1 = math.max(if (maxCents.exists()) maxCents.get() else Long.MinValue, mx)
      cnt.update(n1)
      maxCents.update(m1)
      Iterator(Snap(key, week, n1, m1 / 100.0))
    }
  }

  /** s07 — run the weekly stream to completion under the RocksDB state
    * store (required by transformWithState); one snapshot row per
    * (event_type, week).
    */
  def runningWeekly(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.rocksDbSessionFor(spark, dir)
    import ss.implicits._
    val in = stageWeekly(spark, dir, "tws")
    val stream = ss.readStream
      .schema(Tables.events(spark, dir).select("event_type", "ts", "value").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .as[Ev]
    val snaps = stream.groupByKey(_.event_type)
      .transformWithState(new RunningStats, TimeMode.None(), OutputMode.Append())
    StreamEnv.drainToMemory(snaps.writeStream.outputMode("append"), "stream_tws")
      .orderBy("event_type", "week")
  }

  /** The running series recomputed relationally — what the stateful
    * stream must equal if its state really carried across batches.
    */
  val oracleRunningWeekly: String =
    """WITH e AS (
      |  SELECT event_type,
      |         ((day(ts::TIMESTAMP) - 1) // 7)::INT AS week,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (
      |  SELECT event_type, week, count(*) AS n, max(cents) AS m
      |  FROM e GROUP BY 1, 2)
      |SELECT event_type, week,
      |  CAST(sum(n) OVER w AS BIGINT) AS cum_n,
      |  (max(m) OVER w) / 100.0 AS run_max
      |FROM g
      |WINDOW w AS (PARTITION BY event_type ORDER BY week ROWS UNBOUNDED PRECEDING)
      |ORDER BY event_type, week""".stripMargin
}
