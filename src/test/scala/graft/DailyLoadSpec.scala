package graft

import java.nio.file.{Files, Path}

import graft.streaming.DailyIngest
import graft.tables.Tables
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The daily load's file selection: `DailyIngest.backfill` reads only
  * the events files whose footer `ts` span meets its range, in every
  * `ts` layout and session zone, with results equal to the whole-table
  * aggregate cut to the range; a selection that fits one task loads in
  * one job.
  */
class DailyLoadSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase.{Sf, spark}

  private lazy val scratch = Files.createTempDirectory("graft_daily_load")

  override def afterAll(): Unit = SparkTestBase.deleteTree(scratch)

  private val d = java.sql.Date.valueOf(_: String)
  private val MicrosPerDay = 86400L * 1000000L

  /** The fixture's events with `ts` in µs since the epoch (UTC). */
  private lazy val fixture: Seq[Row] =
    Tables.events(spark, Sf).withColumn("ts", unix_micros(col("ts"))).collect().toSeq

  /** The `ts` annotation and the factor from µs of each layout. */
  private val Layouts = Seq(
    "nanos" -> ("TIMESTAMP(NANOS,false)", 1000L),
    "ntz" -> ("TIMESTAMP(MICROS,false)", 1L),
    "ltz" -> ("TIMESTAMP(MICROS,true)", 1L))

  /** `rows` (ts in µs) as one events file through the parquet example
    * writer, `ts` annotated `tsType` and scaled by `scale`, with or
    * without column statistics.
    */
  private def write(rows: Seq[Row], tsType: String, scale: Long, file: Path, stats: Boolean = true): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
        |  optional int64 event_id;
        |  optional int64 ts ($tsType);
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).withStatisticsEnabled(stats).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1) * scale)
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
  }

  private var dirs = 0

  /** A new dataset dir whose events directory holds `files` (name → rows). */
  private def dataset(files: Seq[(String, Seq[Row])], tsType: String, scale: Long): Path = {
    dirs += 1
    val dir = scratch.resolve(s"ds$dirs")
    Files.createDirectories(dir.resolve("events.parquet"))
    files.foreach { case (name, rows) => write(rows, tsType, scale, dir.resolve(s"events.parquet/$name")) }
    dir
  }

  /** The fixture's UTC day of month of a row. */
  private def day(r: Row): Int =
    java.time.Instant.EPOCH.plusNanos(r.getLong(1) * 1000).atZone(java.time.ZoneOffset.UTC).getDayOfMonth

  /** One file per day of January, except day 2 and days 20–30, whose
    * rows share one file spanning the 2nd to the 30th.
    */
  private def byDay: Seq[(String, Seq[Row])] = {
    val (spanning, daily) = fixture.partition(r => day(r) == 2 || day(r) >= 20)
    daily.groupBy(day).toSeq.sortBy(_._1).map { case (k, rows) => f"day-$k%02d.parquet" -> rows } :+
      ("span.parquet" -> spanning)
  }

  private def names(df: DataFrame): Set[String] = df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet

  /** `backfill`'s rows equal the whole-table daily aggregate cut to the
    * range, and it reads `expected` (names), or at least it when not `exact`.
    */
  private def check(ss: SparkSession, dir: Path, from: String, to: String,
                    expected: Set[String], exact: Boolean = true): Unit = {
    val got = DailyIngest.backfill(ss, dir.toString, d(from), d(to))
    val whole = DailyIngest.batchDaily(ss, dir.toString).filter(col("d").between(lit(from), lit(to)))
    assert(got.schema == whole.schema, s"$from..$to")
    assert(got.collect().toSeq == whole.collect().toSeq, s"$from..$to")
    if (exact) assert(names(got) == expected, s"$from..$to")
    else assert(expected.subsetOf(names(got)), s"$from..$to: ${names(got)} misses some of $expected")
  }

  test("backfill reads only the files whose footer ts span meets its range, in each ts layout") {
    Layouts.foreach { case (layout, (tsType, scale)) =>
      withClue(s"$layout: ") {
        val dir = dataset(byDay, tsType, scale)
        // the bound is [from, to + 2 days): the span file meets every
        // range inside January, though it holds no row of most of them
        check(spark, dir, "2024-01-05", "2024-01-06",
          Set("day-05.parquet", "day-06.parquet", "day-07.parquet", "span.parquet"))
        check(spark, dir, "2024-01-01", "2024-01-01", Set("day-01.parquet", "span.parquet"))
        check(spark, dir, "2024-01-18", "2024-01-19", Set("day-18.parquet", "day-19.parquet", "span.parquet"))
        check(spark, dir, "2024-01-30", "2024-01-30", Set("span.parquet"))
        // a range that meets no file: an empty result of the same schema
        check(spark, dir, "2023-12-01", "2023-12-02", Set.empty)
        val empty = DailyIngest.backfill(spark, dir.toString, d("2023-12-01"), d("2023-12-02"))
        assert(empty.count() == 0)
        assert(!empty.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalRelation]), "an empty selection scans")
        // a file written without statistics is read for every range
        write(fixture.take(50).map(r => Row.fromSeq(r.toSeq.updated(0, r.getLong(0) + 1000000L))),
          tsType, scale, dir.resolve("events.parquet/nostats.parquet"), stats = false)
        check(spark, dir, "2024-01-05", "2024-01-06",
          Set("day-05.parquet", "day-06.parquet", "day-07.parquet", "span.parquet", "nostats.parquet"))
        check(spark, dir, "2023-12-01", "2023-12-02", Set("nostats.parquet"))
      }
    }
  }

  test("NTZ rows near midnight are selected by their instant in the session zone") {
    // per local day of 8..13 January, one file with rows at 00:30 and
    // 23:30 local time: the files on either side of the range meet its
    // bound only in the session zone, not read as UTC
    val base = java.time.LocalDate.parse("2024-01-08")
    val files = (0 until 6).map { k =>
      val local = base.plusDays(k).atStartOfDay()
      val rows = Seq(30L, 23 * 60 + 30L).zipWithIndex.map { case (min, i) =>
        val us = local.plusMinutes(min).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
        Row(k * 10L + i, us, 1L, if (i == 0) "a" else "b", 1.25 * (k + i), null)
      }
      f"local-${8 + k}%02d.parquet" -> rows
    }
    val dir = dataset(files, "TIMESTAMP(MICROS,false)", 1L)
    for ((zone, exact) <- Seq("+14:00" -> true, "-11:00" -> true, "America/New_York" -> false)) withClue(s"$zone: ") {
      val ss = LocalSession.scoped(spark, "spark.sql.session.timeZone" -> zone)
      assert(Tables.eventsRaw(ss, dir.toString).schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      // the files whose instants meet the bound, by Spark's own cast
      val bound = ss.range(1).select(
        unix_micros(lit(d("2024-01-10")).cast("timestamp")),
        unix_micros(date_add(lit(d("2024-01-10")), 1).cast("timestamp") + expr("INTERVAL 24 HOURS"))).head()
      val expected = files.map(_._1).filter { name =>
        val r = ss.read.parquet(dir.resolve(s"events.parquet/$name").toString)
          .select(min(unix_micros(col("ts").cast("timestamp"))), max(unix_micros(col("ts").cast("timestamp")))).head()
        r.getLong(1) >= bound.getLong(0) && r.getLong(0) < bound.getLong(1)
      }.toSet
      assert(expected.nonEmpty && expected.size < files.size)
      check(ss, dir, "2024-01-10", "2024-01-10", expected, exact)
    }
  }

  /** The jobs `f` runs while it builds a value and while `exec` runs on it. */
  private def jobs[T](f: => T)(exec: T => Unit): (T, Int, Int) = {
    val trace = QueryTrace.register(spark)
    try {
      var out: Option[T] = None
      trace.run("load")({ out = Some(f); spark.emptyDataFrame })(_ => exec(out.get))
      trace.flush()
      val s = trace.summaries.head
      (out.get, s.jobs(QueryTrace.Construct), s.jobs(QueryTrace.Execute))
    } finally trace.close()
  }

  test("a one-day load whose files fit one task runs one job; a larger selection keeps its exchanges") {
    val (tsType, scale) = Layouts.toMap.apply("ntz")
    val dir = dataset(byDay, tsType, scale)
    val out = scratch.resolve("daily").toString
    val (batch, built, loaded) = jobs(
      DailyIngest.backfill(spark, dir.toString, d("2024-01-05"), d("2024-01-05")).withColumnRenamed("d", "date"))(
      graft.ops.Ingest.loadDailyPartitioned(spark, _, out))
    assert(built == 0 && loaded == 1, s"build ran $built jobs, the load $loaded")
    assert(!batch.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(spark.read.parquet(out).count() == batch.count())
    // one file of one day holding more than the 4 MB one-task target
    val big = scratch.resolve("big")
    spark.range(0, 300000, 1, 1).select(col("id").as("event_id"),
        timestamp_micros(lit(1704412800000000L) + (rand(7) * MicrosPerDay).cast("long")).cast("timestamp_ntz").as("ts"),
        (col("id") % 100).as("user_id"), when(col("id") % 2 === 0, "a").otherwise("b").as("event_type"),
        rand(8).as("value"), lit(null).cast("string").as("props"))
      .write.parquet(big.resolve("events.parquet").toString)
    assert(Tables.dataFiles(spark.sparkContext.hadoopConfiguration, big.resolve("events.parquet").toString)
      .map(_.length).sum > (4L << 20))
    val p = DailyIngest.backfill(spark, big.toString, d("2024-01-05"), d("2024-01-05")).queryExecution.executedPlan.toString
    assert(p.contains("Exchange"), p)
  }

  test("s17 finds its first day from the footers, and with a job when a footer has no statistics") {
    val (range, built, _) = jobs(DailyIngest.backfillRange(spark, Sf))(_ => ())
    assert(built == 0, s"the build ran $built jobs")
    def oracle(dir: String) = {
      val d0 = Tables.events(spark, dir).agg(min(to_date(col("ts")))).head().getDate(0).toLocalDate
      DailyIngest.batchDaily(spark, dir).filter(col("d").between(lit(d0.plusDays(3).toString), lit(d0.plusDays(12).toString)))
    }
    assert(range.collect().toSeq == oracle(Sf).collect().toSeq)
    val (tsType, scale) = Layouts.toMap.apply("ntz")
    val dir = dataset(byDay, tsType, scale)
    write(fixture.filter(day(_) == 20), tsType, scale, dir.resolve("events.parquet/nostats.parquet"), stats = false)
    val (fallback, jobsWithout, _) = jobs(DailyIngest.backfillRange(spark, dir.toString))(_ => ())
    assert(jobsWithout > 0, "the build without statistics ran no job")
    assert(fallback.collect().toSeq == oracle(dir.toString).collect().toSeq)
  }
}
