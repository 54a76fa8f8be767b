package graft

import graft.ops.{Ingest, Pricing}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity tests on the reference's own domain schemas
  * (FIXTURES.md §A) — the "a user of the reference could switch"
  * contract, pinned on hand-computable golden values.
  */
class DomainApiSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val d = java.sql.Date.valueOf(_: String)

  test("consoAnVille ingest: dedup mean, linear forecast, union") {
    val raw = Seq(
      // two residential rows for the same commune-year → mean 110
      ("Brageac", "15024", 100.0, 2020, "RESIDENTIEL"),
      ("Brageac", "15024", 120.0, 2020, "RESIDENTIEL"),
      ("Brageac", "15024", 120.0, 2021, "RESIDENTIEL"),
      ("Brageac", "15024", 130.0, 2022, "RESIDENTIEL"),
      // non-residential row must be filtered out
      ("Brageac", "15024", 999.0, 2020, "INDUSTRIE"),
      // single-year commune: flat forecast (slope 0)
      ("Solo", "99999", 50.0, 2022, "RESIDENTIEL"))
      .toDF("nom_commune", "code_commune", "conso_moyenne_mwh", "annee", "code_grand_secteur")
    val out = Ingest.consoAnVille(raw).collect()
      .map(r => (r.getString(0), r.getInt(3)) -> r.getDouble(2)).toMap

    assert(out(("Brageac", 2020)) == 110.0) // mean of 100,120; 999 filtered
    // OLS through (2020,110),(2021,120),(2022,130): slope 10 → 2023=140
    assert(math.abs(out(("Brageac", 2023)) - 140.0) < 1e-9)
    assert(math.abs(out(("Brageac", 2025)) - 160.0) < 1e-9)
    // single point: flat
    assert(out(("Solo", 2023)) == 50.0 && out(("Solo", 2025)) == 50.0)
    // 3 hist (Brageac) + 1 hist (Solo) + 3+3 forecast
    assert(out.size == 10)
  }

  test("consoJourRegion ingest: intra-day collapse with banker's rounding") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val raw = Seq(
      ("84", "ARA", ts("2024-01-15 00:15:00"), 100.1),
      ("84", "ARA", ts("2024-01-15 12:30:00"), 100.4), // mean 100.25 → bround 100
      ("11", "IDF", ts("2024-01-15 03:00:00"), 200.75),
      ("11", "IDF", ts("2024-01-15 04:00:00"), 200.75)) // mean 200.75 → bround 201 (no tie)
      .toDF("code_insee_region", "libelle_region", "date_heure", "consommation")
    val out = Ingest.consoJourRegion(raw).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("84") == 100.0) // 100.25 → HALF_EVEN at .25 → no tie → 100
    assert(out("11") == 201.0)
  }

  test("idempotent daily load: re-running a day replaces, not duplicates") {
    SparkTestBase.withTempDir("graft_load") { dir =>
      val tmp = dir.toString
      val mode = "spark.sql.sources.partitionOverwriteMode"
      val before = spark.conf.get(mode)
      def day(date: String, v: Double) = Seq(("84", "ARA", d(date), v))
        .toDF("code_insee_region", "libelle_region", "date", "conso_mwh")
      Ingest.loadDailyPartitioned(spark, day("2024-01-14", 90.0), tmp)
      Ingest.loadDailyPartitioned(spark, day("2024-01-15", 100.0), tmp)
      Ingest.loadDailyPartitioned(spark, day("2024-01-15", 101.0), tmp) // the retry
      // the retry replaced only its own day; the session is untouched
      val rows = spark.read.parquet(tmp).select("date", "conso_mwh").orderBy("date").collect()
        .map(r => r.getDate(0).toString -> r.getDouble(1)).toSeq
      assert(rows == Seq("2024-01-14" -> 90.0, "2024-01-15" -> 101.0)) // reference would have 3 rows
      assert(spark.conf.get(mode) == before)
    }
  }

  test("priceRequests: golden path, clamps, and missing-dimension defaults") {
    val conso = Seq(
      ("Brageac", "15024", 100.0, 2020),
      ("Brageac", "15024", 110.0, 2021),  // α_raw = 1.1 (latest ratio)
      ("Shrink", "11111", 100.0, 2020),
      ("Shrink", "11111", 80.0, 2021),    // α_raw = 0.8 → clamped to 1.0
      ("Boom", "22222", 100.0, 2020),
      ("Boom", "22222", 200.0, 2021))     // α_raw = 2.0 → clamped to 1.3
      .toDF("nom_commune", "code_commune", "conso_moyenne_mwh", "annee")
    val daily = (1 to 30).map(i => ("ARA", f"2024-01-$i%02d", 4800.0))
      .map { case (r, dt, v) => ("84", r, d(dt), v) }
      .toDF("code_insee_region", "libelle_region", "date", "conso_mwh")
    val requests = Seq(
      ("ARA", "Brageac", "15024", 2, 50),
      ("ARA", "Shrink", "11111", 2, 50),
      ("ARA", "Boom", "22222", 2, 50),
      ("Nowhere", "Ghost", "00000", 2, 50))
      .toDF("libelle_region", "nom_commune", "code_commune", "nb_personne", "nb_m2")

    val out = Pricing.priceRequests(requests, conso, daily, d("2024-01-30"))
      .collect().map(r => r.getAs[String]("nom_commune") ->
        (r.getAs[Double]("alpha"), r.getAs[Double]("m"), r.getAs[Double]("price"))).toMap

    val x = 110.0 * 50 + 1000.0 * 2 + 1100.0 // 8600
    val m = 0.01 * 4800.0 / 4000.0           // 0.012 (< 0.05 cap)
    def expected(alpha: Double): Double =
      BigDecimal((Pricing.Tariff + alpha * m) * x / 12.0 + Pricing.MonthlyFee)
        .setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble

    assert(math.abs(out("Brageac")._1 - 1.1) < 1e-9)
    assert(math.abs(out("Brageac")._3 - expected(1.1)) < 0.011)
    assert(out("Shrink")._1 == 1.0)  // clamped up
    assert(out("Boom")._1 == 1.3)    // clamped down
    assert(out("Ghost")._1 == 1.0 && out("Ghost")._2 == 0.0) // unknown commune/region
  }
}
