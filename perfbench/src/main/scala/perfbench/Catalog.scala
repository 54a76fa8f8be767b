package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.ops.{BenchHooks, Prestage}
import org.apache.spark.sql.DataFrame

/** The warehouse leg of `daily_refresh`: the nightly job's cold
  * `Prestage.run` over the warehouse fixture (traced runs), and after
  * the serving window one pass over a fixed list of declared queries
  * (`SparkEntry.queries`) in an order the seed permutes.
  *
  * The list spans the five query families, reads staged indexes
  * (q46 the lineitem profile, d11 the near-dup cluster labels, t01 the
  * language scores) and runs two streaming legs (s01, s03).
  */
object Catalog {
  import Main._

  /** Tariff scope: the warehouse (q) and streaming (s) families. */
  val Tariff: Seq[String] = Seq(
    "q02_group_mean", "q13_price", "q28_asof_join", "q46_profile", "s01_stream_daily", "s03_sliding")

  /** Corpus scope: the dedup (d), text (t) and media (m) families. */
  val Corpus: Seq[String] = Seq(
    "d04_simhash", "d11_dedup_clusters", "t01_lang_id", "t03_token_stats", "m01_media_stats")

  /** Build every staged index of `dir` from scratch: drop the data era's
    * indexes, then `Prestage.run`. Keeps the wall seconds and the
    * per-tag build seconds.
    */
  def prestage(run: Run, dir: String): Unit = {
    BenchHooks.clearEraIndexes(dir)
    val (tags, s) = seconds(run.trace.span("prestage", "prestage") { Prestage.run(run.spark, dir) })
    run.out("prestage_s") = s
    run.out("prestage_tags") = tags
  }

  /** One timed query: construct the DataFrame, force its physical plan,
    * then collect its rows (what a consumer pays). Index builds inside
    * the wall are traced as `stage_inwindow_s`. Returns the rows and the
    * wall seconds.
    */
  private def timed(run: Run, dir: String, name: String): (DataFrame, Array[org.apache.spark.sql.Row], Double) = {
    val t = run.trace
    val f = s"catalog.${name.take(1)}"
    BenchHooks.drainBuildLog()
    run.spark.sparkContext.setJobDescription(name)
    val t0 = System.nanoTime()
    val df = t.span(s"$f.construct", s"$f.construct") { SparkEntry.queries(name)(run.spark, dir) }
    t.span(s"$f.plan", s"$f.plan") { df.queryExecution.executedPlan }
    val rows = t.span(s"$f.execute", s"$f.execute") { df.collect() }
    val wall = (System.nanoTime() - t0) / 1e9
    run.spark.sparkContext.setJobDescription(null)
    t.count("stage_inwindow_s", BenchHooks.drainBuildLog().values.sum)
    (df, rows, wall)
  }

  /** One pass over the list. Each result is written to one parquet file
    * (untimed) for `run.py`'s DuckDB oracles; a query that throws counts
    * as failed and leaves no time sample.
    */
  def pass(run: Run, dir: String): Unit = {
    val results = run.work.resolve("results")
    val walls = mutable.LinkedHashMap.empty[String, Double]
    new scala.util.Random(run.seed).shuffle(Tariff ++ Corpus).foreach { name =>
      run.attempted += 1
      try {
        val (df, rows, wall) = timed(run, dir, name)
        walls(name) = wall
        run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(results.resolve(name).toString)
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        run.fail("catalog.error")
      }
      run.spark.catalog.clearCache()
    }
    def sum(names: Seq[String]) = names.flatMap(walls.get).sum
    run.out("query_s") = walls
    run.out("catalog_tariff_s") = sum(Tariff)
    run.out("catalog_corpus_s") = sum(Corpus)
    run.out("results_dir") = results.toString
    run.out("warehouse_dir") = dir
    run.out("oracles") = walls.keys.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }
}
