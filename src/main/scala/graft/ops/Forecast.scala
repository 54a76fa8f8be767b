package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Per-group OLS forecast — the reference's one real user-defined
  * operator (`estimate_year`, reference
  * `0_insert_conso_an_ville_in_bq.py:57-89`): per group, fit a linear
  * regression of consumption on time and emit forecast rows for the next
  * periods (N rows in → 3 rows out).
  *
  * Three implementations, per SURVEY.md §2.9's idiomaticity ladder:
  *  1. [[closedForm]] — pure built-in aggregates (preferred; whole-stage
  *     codegen, no UDF, the 100 TB path). The per-group sklearn loop that
  *     costs the reference ~5 minutes (reference `README.md:89`) becomes
  *     one shuffle + one aggregate.
  *  2. [[OlsAggregator]] — typed `Aggregator[IN,BUF,OUT]` (UDAF surface).
  *  3. [[flatMapGroupsFit]] — `KeyValueGroupedDataset.flatMapGroups`,
  *     the literal `groupby.apply` analog.
  * Tests assert all three agree.
  */
object Forecast {

  /** q07 — closed-form two-pass OLS per event_type over daily means,
    * then a 3-day-ahead forecast via explode. x is centered on the
    * per-group mean before the product sums (catastrophic-cancellation
    * guard, SURVEY.md §7.5); slope/intercept are rounded to 6 decimals
    * so the downstream arithmetic is bit-deterministic vs the oracle.
    * A zero-variance group (one observed day, sxx = 0) gets slope 0, a
    * flat forecast at its mean: the reference's sklearn fit on one x
    * does the same (SURVEY.md §2.9, `0_insert_conso_an_ville_in_bq.py:61-69`),
    * as does [[Ingest]]'s `consoAnVille` fit. The other two variants
    * below follow the same rule.
    *
    * Plan shape: one shuffle on event_type; the window and the final
    * aggregate reuse the same partitioning (no second exchange).
    */
  def closedForm(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).as("x"))
      .agg(CoreOps.stableAvg(col("value")).as("y"))
    val w = Window.partitionBy("event_type")
    val fit = daily
      .withColumn("xbar", avg("x").over(w))
      .withColumn("ybar", avg("y").over(w))
      .withColumn("xmax", max("x").over(w))
      .groupBy(col("event_type"))
      .agg(
        max("xmax").as("xmax"),
        max("xbar").as("xbar"),
        max("ybar").as("ybar"),
        sum((col("x") - col("xbar")) * (col("y") - col("ybar"))).as("sxy"),
        sum((col("x") - col("xbar")) * (col("x") - col("xbar"))).as("sxx"))
      .withColumn("slope",
        round(when(col("sxx") > 0, col("sxy") / col("sxx")).otherwise(lit(0.0)), 6))
      .withColumn("intercept", round(col("ybar") - col("slope") * col("xbar"), 6))
    fit
      .select(col("event_type"), col("xmax"), col("slope"), col("intercept"),
              explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(
        col("event_type"), col("k"),
        (col("xmax") + col("k")).as("forecast_day"),
        (col("intercept") + col("slope") * (col("xmax") + col("k"))).as("pred"))
      .orderBy("event_type", "k")
  }

  // -- variant 2: typed Aggregator (UDAF surface) ---------------------------

  case class XY(x: Double, y: Double)
  case class OlsBuf(n: Long, sx: Double, sy: Double, sxy: Double, sxx: Double)
  case class OlsFit(slope: Option[Double], intercept: Option[Double])

  /** Sufficient-statistics OLS as a typed Aggregator. x is shifted by
    * [[xShift]] before accumulation to bound cancellation in the
    * single-pass formula (the closed-form q07 path centers exactly;
    * this variant exists to exercise the Aggregator surface).
    */
  class OlsAggregator(xShift: Double) extends Aggregator[XY, OlsBuf, OlsFit] {
    def zero: OlsBuf = OlsBuf(0L, 0.0, 0.0, 0.0, 0.0)
    def reduce(b: OlsBuf, r: XY): OlsBuf = {
      val x = r.x - xShift
      OlsBuf(b.n + 1, b.sx + x, b.sy + r.y, b.sxy + x * r.y, b.sxx + x * x)
    }
    def merge(a: OlsBuf, b: OlsBuf): OlsBuf =
      OlsBuf(a.n + b.n, a.sx + b.sx, a.sy + b.sy, a.sxy + b.sxy, a.sxx + b.sxx)
    def finish(b: OlsBuf): OlsFit = {
      val den = b.n * b.sxx - b.sx * b.sx
      if (b.n == 0) OlsFit(None, None)
      else {
        // zero x-variance: slope 0, the closed form's rule
        val slope = if (den == 0.0) 0.0 else (b.n * b.sxy - b.sx * b.sy) / den
        // un-shift: intercept in original x coordinates
        val intercept = (b.sy - slope * b.sx) / b.n - slope * xShift
        OlsFit(Some(slope), Some(intercept))
      }
    }
    def bufferEncoder: Encoder[OlsBuf] = Encoders.product[OlsBuf]
    def outputEncoder: Encoder[OlsFit] = Encoders.product[OlsFit]
  }

  /** Aggregator-based fit per event_type (tested ≈ closedForm). */
  def aggregatorFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).as("x"))
      .agg(avg("value").as("y"))
    val ols = new OlsAggregator(xShift = 19700.0).toColumn
    daily.select(col("event_type"), col("x").cast("double").as("x"), col("y")).as[(String, Double, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, x, y) => XY(x, y) }
      .agg(ols.name("fit"))
      .toDF("event_type", "fit")
      .select(col("event_type"), col("fit.slope").as("slope"), col("fit.intercept").as("intercept"))
  }

  // -- variant 3: flatMapGroups (literal groupby.apply analog) --------------

  case class ForecastRow(event_type: String, k: Int, forecast_day: Long, pred: Double)

  /** Per-group imperative fit + 3 forecast rows out — the direct
    * `groupby(...).apply(estimate_year)` analog (reference
    * `0_insert_conso_an_ville_in_bq.py:89`). Kept off the hot path; the
    * closed form is the production variant.
    */
  def flatMapGroupsFit(spark: SparkSession, dir: String): Dataset[ForecastRow] = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).as("x"))
      .agg(avg("value").as("y"))
      .select(col("event_type"), col("x").cast("long").as("x"), col("y"))
      .as[(String, Long, Double)]
    daily.groupByKey(_._1).flatMapGroups { (key, it) =>
      val pts = it.map { case (_, x, y) => (x.toDouble, y) }.toArray
      val n = pts.length.toDouble
      val xbar = pts.map(_._1).sum / n
      val ybar = pts.map(_._2).sum / n
      val sxx = pts.map(p => (p._1 - xbar) * (p._1 - xbar)).sum
      val sxy = pts.map(p => (p._1 - xbar) * (p._2 - ybar)).sum
      val xmax = pts.map(_._1).max.toLong
      // zero x-variance: slope 0, the closed form's rule
      val slope = if (sxx > 0) sxy / sxx else 0.0
      val intercept = ybar - slope * xbar
      (1 to 3).map(k => ForecastRow(key, k, xmax + k, intercept + slope * (xmax + k))).iterator
    }
  }
}
