package graft

import graft.ops.Forecast
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ForecastSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}

  private lazy val closed = Forecast.closedForm(spark, Sf).collect()
    .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap

  test("closed-form, Aggregator and flatMapGroups fits agree") {
    val agg = Forecast.aggregatorFit(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val fmgRows = Forecast.flatMapGroupsFit(spark, Sf).collect()
    assert(fmgRows.nonEmpty)
    fmgRows.foreach { r =>
      val predClosed = closed((r.event_type, r.k))
      // closed form rounds coefficients to 6dp for oracle parity; allow that slack
      assert(math.abs(predClosed - r.pred) < 1e-2,
        s"${r.event_type} k=${r.k}: closed=$predClosed fmg=${r.pred}")
      val (s, i) = agg(r.event_type)
      val predAgg = i + s * r.forecast_day
      assert(math.abs(predAgg - predClosed) < 1e-2,
        s"${r.event_type} k=${r.k}: agg=$predAgg closed=$predClosed")
    }
  }

  test("degenerate group (zero x-variance) yields a flat forecast") {
    import spark.implicits._
    SparkTestBase.withTempDir("forecast") { root =>
      // "solo" has rows on one day only: sxx = 0, so slope 0 and every
      // pred is that day's mean, (5 + 7) / 2
      Seq(("solo", "2024-03-01 08:00:00", 5.0), ("solo", "2024-03-01 17:00:00", 7.0),
          ("trend", "2024-03-01 12:00:00", 1.0), ("trend", "2024-03-02 12:00:00", 2.0),
          ("trend", "2024-03-03 12:00:00", 4.0))
        .toDF("event_type", "ts", "value").withColumn("ts", to_timestamp(col("ts")))
        .write.parquet(root.resolve("events.parquet").toString)
      val dir = root.toString
      val preds = Forecast.closedForm(spark, dir).collect()
        .groupBy(_.getString(0)).map { case (t, rows) => t -> rows.map(r => Option(r.get(3))).toSeq }
      assert(preds("solo") == Seq.fill(3)(Some(6.0)), preds)
      assert(preds("trend").size == 3 && preds("trend").forall(_.isDefined), preds)
      assert(preds("trend").distinct.size == 3, preds)
      // the Aggregator and flatMapGroups fits follow the same rule
      val soloFit = Forecast.aggregatorFit(spark, dir).filter(col("event_type") === "solo").head()
      assert((soloFit.getDouble(1), soloFit.getDouble(2)) == (0.0, 6.0), soloFit)
      assert(Forecast.flatMapGroupsFit(spark, dir).collect()
        .filter(_.event_type == "solo").map(_.pred).toSeq == Seq.fill(3)(6.0))
    }
  }
}
