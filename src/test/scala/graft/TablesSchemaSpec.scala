package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.tables.Tables
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The schema memo behind every `Tables` loader: a repeat read runs no
  * footer job, an append keeps the memoized schema, a rewrite infers
  * again, and the events `ts` layouts still normalize to one type.
  */
class TablesSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase.{Sf, spark}

  private lazy val scratch = Files.createTempDirectory("graft_schema")

  override def afterAll(): Unit = SparkTestBase.deleteTree(scratch)

  private val Loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _, "customer" -> Tables.customer _,
    "supplier" -> Tables.supplier _, "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  /** The jobs `f` runs, counted by a [[QueryTrace]] listener. */
  private def jobs[T](f: => T): (T, Int) = {
    val trace = QueryTrace.register(spark)
    try {
      var out: Option[T] = None
      trace.run("read")({ out = Some(f); spark.emptyDataFrame })(_ => ())
      trace.flush()
      val s = trace.summaries.head
      (out.get, s.jobs(QueryTrace.Construct) + s.jobs(QueryTrace.Execute))
    } finally trace.close()
  }

  /** `f`'s result and the bytes the JVM read from local files meanwhile. */
  private def bytesRead[T](f: => T): (T, Long) = {
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
    def now = Option(stats.get("file")).flatMap(s => Option(s.getLong("bytesRead"))).fold(0L)(_.longValue)
    val before = now
    val out = f
    (out, now - before)
  }

  private var copies = 0

  /** A new directory holding copies of `tables` from the fixture. */
  private def copyOf(tables: String*): Path = {
    copies += 1
    val dir = scratch.resolve(s"copy$copies")
    Files.createDirectories(dir)
    tables.foreach(t => Files.copy(Path.of(Sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }

  /** The one parquet part file Spark wrote under `out`. */
  private def partFile(out: Path): Path =
    Files.list(out).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("event_id").collect().toSeq

  test("a second read of each table runs no job and sees the footer's schema") {
    // a copy the memo has not seen, so the first read of each table is cold
    val dir = copyOf(Loaders.map(_._1): _*).toString
    Loaders.foreach { case (name, load) =>
      val (_, first) = jobs(load(spark, dir))
      assert(first == 0, s"$name: the first read ran $first jobs")
      val (df, n) = jobs(load(spark, dir))
      assert(n == 0, s"$name: the second read ran $n jobs")
      val raw = if (name == "events") Tables.eventsRaw(spark, dir) else df
      assert(raw.schema == spark.read.parquet(s"$dir/$name.parquet").schema, name)
    }
  }

  test("appending a part file keeps the memoized schema, and the read sees the new rows") {
    val dir = copyOf()
    val out = dir.resolve("events.parquet")
    Tables.events(spark, Sf).coalesce(1).write.parquet(out.toString)
    val before = Tables.events(spark, dir.toString).count()
    Files.copy(partFile(out), out.resolve("part-appended.parquet"))
    val (after, n) = jobs(Tables.events(spark, dir.toString))
    assert(n == 0, s"the read after an append ran $n jobs")
    assert(after.count() == 2 * before)
  }

  test("overwriting a table with a different schema infers it again") {
    // a directory table rewritten by Spark
    val out = scratch.resolve("rewritten").toString
    spark.range(3).withColumn("a", lit("x")).write.parquet(out)
    assert(Tables.parquet(spark, out).columns.toSeq == Seq("id", "a"))
    spark.range(4).withColumn("b", lit(1.5)).write.mode("overwrite").parquet(out)
    val (df, n) = jobs(Tables.parquet(spark, out))
    assert(n == 0, s"the read after a rewrite ran $n jobs")
    assert(df.schema == spark.read.parquet(out).schema)
    assert(df.collect().map(_.getDouble(1)).toSeq == Seq.fill(4)(1.5))
    // a single-file table replaced in place, then deleted
    val dir = copyOf("region")
    assert(Tables.region(spark, dir.toString).columns.head == "r_regionkey")
    Files.copy(Path.of(Sf, "nation.parquet"), dir.resolve("region.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val replaced = Tables.region(spark, dir.toString)
    assert(replaced.schema == spark.read.parquet(s"$Sf/nation.parquet").schema)
    assert(replaced.count() == 25)
    Files.delete(dir.resolve("region.parquet"))
    intercept[AnalysisException](Tables.region(spark, dir.toString))
  }

  test("a customer read after an events read still hits the memo") {
    // a new session starts without nanosAsLong, and the events read
    // (which infers with it in a child session) leaves it so
    val ss = spark.newSession()
    val dir = copyOf("customer", "events").toString
    val ((_, first), firstBytes) = bytesRead(jobs(Tables.customer(ss, dir)))
    assert(first == 0, s"the first read ran $first jobs")
    assert(firstBytes > 0, "the first read did not read the footer")
    Tables.events(ss, dir)
    assert(ss.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    val ((_, third), thirdBytes) = bytesRead(jobs(Tables.customer(ss, dir)))
    assert(third == 0, s"the customer read after events ran $third jobs")
    assert(thirdBytes == 0, s"the customer read after events read $thirdBytes bytes")
  }

  /** The fixture's events with an INT64 TIMESTAMP(NANOS) `ts`, the
    * layout Spark cannot write, through the parquet example writer.
    */
  private def writeNanos(rows: Seq[Row], file: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1))
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
  }

  test("events in the NANOS, NTZ and LTZ ts layouts read to the fixture's values") {
    val ev = Tables.events(spark, Sf)
    assert(ev.columns.toSeq == Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    val expected = sorted(ev)
    val layouts = Seq[(String, DataType, Path => Unit)](
      ("nanos", LongType, dir => writeNanos(
        ev.withColumn("ts", unix_micros(col("ts")) * 1000L).collect().toSeq, dir.resolve("events.parquet"))),
      ("ntz", TimestampNTZType, dir =>
        Files.move(partFile(writeTo(ev.withColumn("ts", col("ts").cast("timestamp_ntz")), dir)),
          dir.resolve("events.parquet"))),
      ("ltz", TimestampType, dir =>
        Files.move(partFile(writeTo(ev, dir)), dir.resolve("events.parquet"))))
    layouts.foreach { case (layout, rawType, write) =>
      val dir = copyOf()
      write(dir)
      assert(Tables.eventsRaw(spark, dir.toString).schema("ts").dataType == rawType, layout)
      assert(sorted(Tables.events(spark, dir.toString)) == expected, s"$layout, first read")
      val (again, n) = jobs(Tables.events(spark, dir.toString))
      assert(n == 0, s"$layout: the second read ran $n jobs")
      assert(sorted(again) == expected, s"$layout, second read")
      val rowReader = LocalSession.scoped(spark, "spark.sql.parquet.enableVectorizedReader" -> "false")
      assert(sorted(Tables.events(rowReader, dir.toString)) == expected, s"$layout, row-based reader")
    }
  }

  /** `df` as one part file under `dir/staged`; returns that directory. */
  private def writeTo(df: DataFrame, dir: Path): Path = {
    val out = dir.resolve("staged")
    df.coalesce(1).write.parquet(out.toString)
    out
  }
}
