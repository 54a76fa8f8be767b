package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's two ingest pipelines as domain-schema library APIs
  * (SURVEY.md §3.2/§3.3) — what a user of the reference would call
  * instead of `0_insert_conso_an_ville_in_bq.py` and the Airflow DAG.
  *
  * Input/output schemas are the reference's own (FIXTURES.md §A); the
  * testdata-backed `SparkEntry` queries exercise the same operators on
  * the driver fixtures.
  */
object Ingest {

  /** Batch ingest of `conso_an_ville` (reference
    * `0_insert_conso_an_ville_in_bq.py`): raw extract → residential
    * filter + column prune (P1/P4/P2) → per-commune-year mean dedup
    * (A1) → closed-form OLS forecast of the next `forecastYears` years
    * per commune (A4, §2.9 — one aggregate instead of the reference's
    * per-commune sklearn loop) → historical ∪ forecast (U1).
    *
    * @param raw rows in the Enedis extract schema (FIXTURES.md §A.3):
    *   nom_commune, code_commune, conso_moyenne_mwh, annee,
    *   code_grand_secteur
    */
  def consoAnVille(raw: DataFrame, forecastYears: Int = 3): DataFrame = {
    val hist = raw
      .filter(col("code_grand_secteur") === "RESIDENTIEL")
      .drop("code_grand_secteur")
      .groupBy("nom_commune", "code_commune", "annee")
      .agg(avg("conso_moyenne_mwh").as("conso_moyenne_mwh"))

    // centered two-pass OLS per commune (SURVEY.md §7.5 stability)
    val w = Window.partitionBy("nom_commune", "code_commune")
    val fit = hist
      .withColumn("xbar", avg("annee").over(w))
      .withColumn("ybar", avg("conso_moyenne_mwh").over(w))
      .withColumn("xmax", max("annee").over(w))
      .groupBy("nom_commune", "code_commune")
      .agg(
        max("xmax").as("xmax"), max("xbar").as("xbar"), max("ybar").as("ybar"),
        sum((col("annee") - col("xbar")) * (col("conso_moyenne_mwh") - col("ybar"))).as("sxy"),
        sum((col("annee") - col("xbar")) * (col("annee") - col("xbar"))).as("sxx"))
      // sxx = 0 (single observed year): slope 0, flat forecast — the
      // reference's sklearn fit on one point behaves the same
      // (reference `0_insert_conso_an_ville_in_bq.py:61-69`)
      .withColumn("slope", when(col("sxx") > 0, col("sxy") / col("sxx")).otherwise(lit(0.0)))
      .withColumn("intercept", col("ybar") - col("slope") * col("xbar"))

    val forecast = fit
      .select(col("nom_commune"), col("code_commune"), col("xmax"), col("slope"), col("intercept"),
        explode(array((1 to forecastYears).map(lit): _*)).as("k"))
      .select(
        col("nom_commune"), col("code_commune"),
        (col("intercept") + col("slope") * (col("xmax") + col("k"))).as("conso_moyenne_mwh"),
        (col("xmax") + col("k")).cast("int").as("annee"))

    hist.select("nom_commune", "code_commune", "conso_moyenne_mwh", "annee")
      .unionByName(forecast)
  }

  /** Daily ingest transform of `conso_jour_region` (reference DAG
    * `airflow/dags/insert_conso_jour_region_in_bq.py:73-92`): intra-day
    * readings → per-region daily mean, banker's-rounded (A2/P3/F1).
    *
    * @param raw rows in the éCO2mix extract schema (FIXTURES.md §A.3)
    */
  def consoJourRegion(raw: DataFrame): DataFrame =
    raw
      .groupBy(col("code_insee_region"), col("libelle_region"), to_date(col("date_heure")).as("date"))
      .agg(bround(avg("consommation"), 0).as("conso_mwh"))

  /** Idempotent daily load (fixes the reference's non-idempotent
    * WRITE_APPEND, SURVEY.md §2.10 D4): each run overwrites exactly the
    * date partitions present in `batch` — a retry or backfill replaces
    * rather than duplicates. Dynamic overwrite is a writer option, so
    * the caller's session conf is left as it was.
    *
    * The write runs `batch`'s plan: a day from
    * [[graft.streaming.DailyIngest.backfill]] reads only the files that
    * can hold it and, when they fit one task, is one partition with no
    * exchange, so the whole load is one job.
    */
  def loadDailyPartitioned(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    batch.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date")
      .parquet(path)
  }
}
