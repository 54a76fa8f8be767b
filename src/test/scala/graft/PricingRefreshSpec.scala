package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.ops.{PriceRequest, Pricing, PricingService}
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The incremental pricing-state build: `PricingService.build` over a
  * directory whose events grow one file at a time must give exactly
  * the full-scan state (α and M bit-equal to `regionAlpha` and
  * `modulationScalar`, every served price equal to q13's), while a
  * rebuild reads only what changed.
  *
  * Fixtures are copies of the test fixture's pricing tables with an
  * events directory of one parquet file per day, in each of the three
  * `events.ts` layouts `Tables.normalizeTs` reads.
  */
class PricingRefreshSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase.{Sf, spark}

  private val Dims = Seq("customer", "nation", "region", "orders")
  private val Layouts = Seq("ltz", "ntz", "nanos")
  private lazy val scratch = Files.createTempDirectory("graft_refresh")

  override def afterAll(): Unit = SparkTestBase.deleteTree(scratch)

  private def events: DataFrame = Tables.events(spark, Sf)

  /** `ev` with `ts` in one of the physical layouts of `events.ts`. */
  private def inLayout(ev: DataFrame, layout: String): DataFrame = layout match {
    case "ltz" => ev
    case "ntz" => ev.withColumn("ts", col("ts").cast("timestamp_ntz"))
    case "nanos" => ev.withColumn("ts", unix_micros(col("ts")) * 1000L)
  }

  private def shifted(ev: DataFrame, days: Int): DataFrame =
    ev.withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))

  /** One parquet file per day of `ev`, in `layout`, written in one job. */
  private def perDay(ev: DataFrame, name: String, layout: String = "ltz"): Map[LocalDate, Path] = {
    val out = scratch.resolve(name)
    inLayout(ev.withColumn("day", to_date(col("ts"))), layout)
      .coalesce(1).write.partitionBy("day").parquet(out.toString)
    Files.list(out).iterator().asScala.filter(_.getFileName.toString.startsWith("day=")).map { d =>
      val part = Files.list(d).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(part.size == 1, s"$d holds ${part.size} files")
      LocalDate.parse(d.getFileName.toString.stripPrefix("day=")) -> part.head
    }.toMap
  }

  /** All of `ev` as one parquet file. */
  private def oneFile(ev: DataFrame, name: String): Path = {
    val out = scratch.resolve(name)
    ev.coalesce(1).write.parquet(out.toString)
    Files.list(out).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
  }

  private var copies = 0

  /** A new dataset directory with the pricing tables and an empty
    * events directory.
    */
  private def newCopy(): Path = {
    copies += 1
    val dir = scratch.resolve(s"copy$copies")
    Files.createDirectories(dir.resolve("events.parquet"))
    Dims.foreach(t => Files.copy(Path.of(Sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }

  private def addEvents(dir: Path, file: Path, name: String): Unit =
    Files.copy(file, dir.resolve("events.parquet").resolve(s"part-$name.parquet"))

  /** `f` under a [[QueryTrace]]: its result and the jobs and input
    * bytes of everything it ran.
    */
  private def traced[T](f: => T): (T, Int, Double) = {
    val trace = QueryTrace.register(spark)
    try {
      var out: Option[T] = None
      trace.run("build")({ out = Some(f); spark.emptyDataFrame })(_ => ())
      trace.flush()
      val s = trace.summaries.head
      (out.get, s.jobs(QueryTrace.Construct) + s.jobs(QueryTrace.Execute), s.totals("input_bytes"))
    } finally trace.close()
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The served state equals the full-scan state on `dir`'s data, and
    * every customer's served price equals q13's.
    */
  private def assertFullScanState(svc: PricingService, dir: Path, clue: String): Unit = {
    val m = Pricing.modulationScalar(spark, dir.toString).collect()(0).getDouble(0)
    assert(bits(svc.m) == bits(m), s"$clue: M ${svc.m} != full scan $m")
    val alpha = Pricing.regionAlpha(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(svc.alphaByRegion == alpha, clue)
    val batch = Pricing.priceBatch(spark, dir.toString).collect()
    assert(batch.length == 150, clue)
    batch.foreach { r =>
      val served = svc.price(PriceRequest(r.getString(1), r.getInt(2), r.getInt(3)))
      assert(bits(served) == bits(r.getDouble(6)), s"$clue custkey ${r.getLong(0)}: $served != ${r.getDouble(6)}")
    }
  }

  test("appending days one file at a time keeps M, α and every price equal to the full scan, in every ts layout") {
    for (layout <- Layouts) {
      val days = perDay(events, s"days_$layout", layout)
      val order = days.keys.toSeq.sortBy(_.toEpochDay)
      val (base, appended) = order.splitAt(order.size - 4)
      val dir = newCopy()
      base.foreach(d => addEvents(dir, days(d), d.toString))
      assertFullScanState(PricingService.build(spark, dir.toString), dir, s"$layout base")
      appended.foreach { d =>
        addEvents(dir, days(d), d.toString)
        val (svc, jobs, _) = traced(PricingService.build(spark, dir.toString))
        // the new day's partials; α and the other days are reused
        assert(jobs == 1, s"$layout $d: $jobs jobs")
        assertFullScanState(svc, dir, s"$layout $d")
      }
    }
  }

  test("a file that straddles the window start is re-read with the window filter") {
    // the fixture spans 30 days; a copy shifted back 20 days puts one
    // file across max(ts) - 30 days
    val dir = newCopy()
    addEvents(dir, oneFile(events, "straddle_now"), "now")
    addEvents(dir, oneFile(shifted(events, -20), "straddle_old"), "old")
    val (svc, _, _) = traced(PricingService.build(spark, dir.toString))
    assertFullScanState(svc, dir, "straddling")
    // a later day moves the window start: the straddler is read again
    val last = events.agg(max(to_date(col("ts")))).head().getDate(0)
    addEvents(dir, oneFile(shifted(events.filter(to_date(col("ts")) === lit(last)), 1), "next"), "next")
    val (moved, jobs, _) = traced(PricingService.build(spark, dir.toString))
    assert(jobs == 2, s"new file and straddler: $jobs jobs")
    assertFullScanState(moved, dir, "window moved")
  }

  test("a rebuild with no file changed runs no Spark job; rewriting orders recomputes α") {
    val dir = newCopy()
    addEvents(dir, oneFile(events, "unchanged"), "all")
    val first = PricingService.build(spark, dir.toString)
    val (again, jobs, _) = traced(PricingService.build(spark, dir.toString))
    assert(jobs == 0, s"unchanged rebuild ran $jobs jobs")
    assert(bits(again.m) == bits(first.m) && again.alphaByRegion == first.alphaByRegion)
    // halve the penultimate year's order totals: every region's raw
    // year-over-year ratio doubles
    val orders = Tables.orders(spark, Sf)
    val penultimate = orders.agg(max(year(col("o_orderdate")))).head().getInt(0) - 1
    val rewritten = scratch.resolve("orders_rewritten")
    orders.withColumn("o_totalprice",
        when(year(col("o_orderdate")) === penultimate, col("o_totalprice") / 2).otherwise(col("o_totalprice")))
      .coalesce(1).write.parquet(rewritten.toString)
    val part = Files.list(rewritten).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.copy(part, dir.resolve("orders.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val (after, rebuilt, _) = traced(PricingService.build(spark, dir.toString))
    assert(rebuilt > 0, "α was not recomputed after orders changed")
    assert(after.alphaByRegion != first.alphaByRegion)
    assertFullScanState(after, dir, "orders rewritten")
  }

  test("after one append, a rebuild reads the same bytes when the events history is doubled") {
    // one file per day: 30 days, and the same 30 days behind 30 more;
    // both then take the same next day
    val days = perDay(events.unionByName(shifted(events, -30)), "doubling")
    val order = days.keys.toSeq.sortBy(_.toEpochDay)
    val next = perDay(shifted(events.filter(to_date(col("ts")) === lit(order.last.toString)), 1), "doubling_next")
    def rebuildAfterAppend(history: Seq[LocalDate]): (Int, Double) = {
      val dir = newCopy()
      history.foreach(d => addEvents(dir, days(d), d.toString))
      PricingService.build(spark, dir.toString)
      next.foreach { case (d, f) => addEvents(dir, f, d.toString) }
      val (svc, jobs, bytes) = traced(PricingService.build(spark, dir.toString))
      assertFullScanState(svc, dir, s"${history.size} days")
      (jobs, bytes)
    }
    val (jobs30, bytes30) = rebuildAfterAppend(order.takeRight(30))
    val (jobs60, bytes60) = rebuildAfterAppend(order)
    assert(bytes30 > 0 && jobs30 > 0)
    assert(jobs60 == jobs30 && bytes60 == bytes30,
      s"30 days: $jobs30 jobs $bytes30 bytes; 60 days: $jobs60 jobs $bytes60 bytes")
  }
}
