package graft.ops

import java.net.URI
import java.time.ZoneId

import graft.tables.{DataFile, FileMemo, Tables, TablesMemo}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A single-request price quote (the reference's `/price` JSON body,
  * reference `api.py:104-108`, minus the commune fields the testdata
  * realization folds into `region`).
  */
final case class PriceRequest(region: String, nbPersonne: Int, nbM2: Int)

/** Low-latency single-request serving — the analog of the reference's
  * Flask `/price` endpoint (reference `api.py:95-132`, SLO < 6 s/request
  * per `tests/test_api.py:60-84`), restructured for an engine:
  *
  * The reference runs TWO warehouse queries per request. Here the same
  * two aggregates — [[Pricing.regionAlpha]] (one row per region) and
  * [[Pricing.modulationScalar]] (one row, period) — run ONCE at service
  * construction, and each request is then priced in pure driver-side
  * arithmetic: no Spark job, no plan, microseconds per call.
  *
  * This stays true at 100 TB because the collected state is O(regions),
  * not O(facts), and because a refresh after a daily ingest costs
  * O(new day): `PricingService.build` again reuses what it computed
  * from files it has already seen (see [[PricingService.build]]).
  *
  * Arithmetic parity: a quote runs the plain-Scala forms of
  * [[Pricing.consoFoyer]] and [[Pricing.monthlyPrice]], which repeat
  * the Column forms' double operations in the same order, so a served
  * price equals the q13 batch price bit-for-bit (asserted for every
  * customer in PricingServiceSpec).
  */
final class PricingService private[ops] (
    val alphaByRegion: Map[String, Double],
    val m: Double,
    params: PricingParams) extends Serializable {

  def price(req: PriceRequest): Double =
    Pricing.monthlyPrice(params, alphaByRegion.getOrElse(req.region, 1.0), m,
      Pricing.consoFoyer(req.nbM2, req.nbPersonne))
}

object PricingService {

  /** Collect α and M into a serving handle, reusing what earlier builds
    * computed from the same files (a Spark `cache()` would keep
    * answering after the files change). Results equal the full-scan
    * [[Pricing.regionAlpha]] and [[Pricing.modulationScalar]] on the
    * data in `dir` at call time.
    *
    *  - α is a [[TablesMemo]] value of customer, nation, region and
    *    orders; a daily events append never changes it.
    *  - M is folded in plain Scala from per-file partials of events
    *    (count and exact grid-unit sum of `value`, min and max `ts`) in
    *    a [[FileMemo]], and from filtered partials of the files that
    *    straddle the window start `max(ts) − 30 days` in another, held
    *    for that start. A daily append therefore costs one or two small
    *    jobs however long the history is; a rebuild with no file changed
    *    runs none.
    */
  def build(spark: SparkSession, dir: String,
            params: PricingParams = Pricing.DefaultParams): PricingService = {
    val a = alpha(spark, dir, params.alphaLo, params.alphaHi)
    new PricingService(a, modulation(spark, dir), params)
  }

  /** Directories each memo keeps; the least recently built goes first. */
  private val MemoDirs = 16
  private val MicrosPerDay = 86400L * 1000000L

  /** A file's share of M over its rows with a `ts`: count and exact
    * grid-unit sum of `value`, and min/max `ts` in microseconds.
    */
  private final case class Partial(n: Long, units: Long, minTs: Long, maxTs: Long) {
    def +(o: Partial): Partial =
      Partial(n + o.n, units + o.units, math.min(minTs, o.minTs), math.max(maxTs, o.maxTs))
  }
  private val NoRows = Partial(0L, 0L, Long.MaxValue, Long.MinValue)

  // keyed also by the session zone (`normalizeTs` and `year()` read it)
  private val alphaMemo = new TablesMemo[Map[String, Double]](MemoDirs, "customer", "nation", "region", "orders")
  private val partials = new FileMemo[(String, ZoneId), Partial](MemoDirs)
  private val straddling = new FileMemo[(String, ZoneId), Partial](MemoDirs)

  private def alpha(spark: SparkSession, dir: String, lo: Double, hi: Double): Map[String, Double] =
    alphaMemo(spark, Tables.qualified(spark.sparkContext.hadoopConfiguration, dir),
      (graft.LocalSession.zone(spark), lo, hi))(
      Pricing.regionAlpha(spark, dir, lo, hi).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)

  private def modulation(spark: SparkSession, dir: String): Double = {
    val root = Tables.qualified(spark.sparkContext.hadoopConfiguration, s"$dir/events.parquet")
    val files = Tables.dataFiles(spark.sparkContext.hadoopConfiguration, root)
    val zone = graft.LocalSession.zone(spark)
    val scanned = partials((root, zone), files)(partialsOf(spark, dir, _, None))
    val maxTs = scanned.values.foldLeft(NoRows)(_ + _).maxTs
    if (maxTs == Long.MinValue) throw new IllegalStateException(s"no events with a ts under $root")
    val start = maxTs - Pricing.WindowDays * MicrosPerDay
    val straddlers = files.filter(f => scanned(f).minTs < start && scanned(f).maxTs >= start)
    val filtered = straddling((root, zone), straddlers, start)(partialsOf(spark, dir, _, Some(start)))
    val window = files.map { f =>
      filtered.getOrElse(f, if (scanned(f).minTs >= start) scanned(f) else NoRows)
    }.foldLeft(NoRows)(_ + _)
    if (window.n == 0) throw new IllegalStateException(s"no event values in the window under $root")
    Pricing.modulation(CoreOps.stableAvg(window.units, window.n))
  }

  /** One job, no shuffle: each file's [[Partial]] over its rows with
    * a `ts`, or with `ts >= from` when given. Every task folds its rows
    * per file; the collected task partials are merged per file (a file
    * may be split across tasks). Files without such rows get [[NoRows]].
    */
  private def partialsOf(spark: SparkSession, dir: String, files: Seq[DataFile],
                         from: Option[Long]): Map[DataFile, Partial] = {
    import spark.implicits._
    val raw = Tables.eventsFiles(spark, dir, files.map(_.path))
      .select(col("ts"), col("value"), col("_metadata.file_path").as("file"))
    val keep = from.fold(col("ts").isNotNull)(s => col("ts") >= timestamp_micros(lit(s)))
    val perTask = Tables.normalizeTs(raw).filter(keep)
      .select(col("file"), col("value").isNotNull,
        coalesce(CoreOps.gridUnits(col("value")), lit(0L)), unix_micros(col("ts")))
      .as[(String, Boolean, Long, Long)]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, Partial]
        rows.foreach { case (file, hasValue, units, ts) =>
          acc(file) = acc.getOrElse(file, NoRows) + Partial(if (hasValue) 1L else 0L, units, ts, ts)
        }
        acc.iterator.map { case (file, p) => (file, p.n, p.units, p.minTs, p.maxTs) }
      }
      .collect()
    val byPath = files.map(f => f.path -> f).toMap
    val got = perTask.groupMapReduce(t => new Path(new URI(t._1)).toString)(t =>
      Partial(t._2, t._3, t._4, t._5))(_ + _)
    got.keys.find(p => !byPath.contains(p)).foreach { p =>
      throw new IllegalStateException(s"scan returned a file outside its listing: $p")
    }
    files.map(f => f -> got.getOrElse(f.path, NoRows)).toMap
  }
}
