package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Coverage for the reference's staging-source surface (S3/S4/S5:
  * JSON → relation, CSV cache write, typed CSV re-read) and the
  * scale utilities (salting, sketches).
  */
class SourcesAndScaleSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}
  import spark.implicits._

  test("normalizeTs canonicalizes every shipped ts layout to µs TimestampType") {
    import java.sql.Timestamp
    val instant = Timestamp.valueOf("1997-06-15 12:34:56.789")
    val micros = instant.getTime * 1000L // getTime carries the .789 ms already
    // raw-nanos Long layout (pre-2026-08-13 testdata generations)
    val asLong = spark.range(1).select((lit(micros) * 1000L).as("ts"))
    val fromLong = graft.tables.Tables.normalizeTs(asLong)
    assert(fromLong.schema("ts").dataType == TimestampType)
    assert(fromLong.head().getTimestamp(0) == instant)
    // TIMESTAMP_NTZ layout (current generation); session tz is UTC so
    // the wall clock IS the instant
    val asNtz = spark.range(1).select(
      lit(instant).cast(TimestampNTZType).as("ts"))
    val fromNtz = graft.tables.Tables.normalizeTs(asNtz)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.head().getTimestamp(0) == instant)
    // already-canonical layout passes through untouched
    val asTs = spark.range(1).select(lit(instant).as("ts"))
    assert(graft.tables.Tables.normalizeTs(asTs).head().getTimestamp(0) == instant)
  }

  test("CSV staging round-trip with declared schema (S4/S5)") {
    // the reference caches extracts as CSV and re-reads with explicit
    // dtypes (reference `0_insert_conso_an_ville_in_bq.py:29-47`);
    // schema is declared, never inferred (SURVEY §1.2)
    SparkTestBase.withTempDir("graft_csv") { dir =>
      val tmp = dir.resolve("stage").toString
      val src = Seq(("Brageac", "15024", 110.5, 2020), ("Paris", "75056", 220.25, 2021))
        .toDF("nom_commune", "code_commune", "conso_moyenne_mwh", "annee")
      src.write.option("header", "true").csv(tmp)
      val schema = graft.tables.Tables.consoAnVilleSchema
      val back = spark.read.schema(schema).option("header", "true").csv(tmp)
      assert(back.schema == schema)
      assert(back.orderBy("code_commune").collect().toSeq ==
             src.orderBy("code_commune").collect().toSeq)
      // leading zeros survive because code_commune is declared STRING
      assert(back.filter($"code_commune" === "15024").count() == 1)
    }
  }

  test("q42 JSON-lines staging: real .json files on disk, schema-declared re-read") {
    graft.ops.Staging.jsonStage(spark, SparkTestBase.Sf).collect() // stages as a side effect
    val stage = new java.io.File(graft.ops.Staging.stagePath("json_orders", SparkTestBase.Sf))
    val parts = stage.listFiles().filter(_.getName.endsWith(".json"))
    assert(parts.nonEmpty, "staged output must be .json part files")
    val firstLine = scala.io.Source.fromFile(parts.head).getLines().next()
    assert(firstLine.startsWith("{") && firstLine.contains("\"o_orderkey\""),
      s"not JSON lines: $firstLine")
    // dates travel as ISO strings (JSON has no date type)
    assert(firstLine.matches(""".*"o_orderdate":"\d{4}-\d{2}-\d{2}".*"""), firstLine)
  }

  test("q44 compaction actually collapses the file count, data intact") {
    graft.ops.Staging.compact(spark, SparkTestBase.Sf).collect()
    def parts(tag: String) =
      new java.io.File(graft.ops.Staging.stagePath(tag, SparkTestBase.Sf))
        .listFiles().count(_.getName.endsWith(".parquet"))
    val before = parts("events_splinter")
    val after = parts("events_compact")
    assert(before > 32, s"splinter fixture should be many files, got $before")
    assert(after <= graft.ops.Staging.CompactTarget, s"compacted to $after files")
    // identical content either side of the rewrite
    val a = spark.read.parquet(graft.ops.Staging.stagePath("events_splinter", SparkTestBase.Sf)).count()
    val b = spark.read.parquet(graft.ops.Staging.stagePath("events_compact", SparkTestBase.Sf)).count()
    assert(a == b)
  }

  test("q45 mergeSchema read sees one union schema across generations") {
    graft.ops.Staging.schemaMerge(spark, SparkTestBase.Sf).collect()
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(graft.ops.Staging.stagePath("orders_evolving", SparkTestBase.Sf))
    assert(merged.columns.contains("o_orderpriority"))
    // the old generation reads as null in the evolved column
    import org.apache.spark.sql.functions.col
    assert(merged.filter(col("o_orderpriority").isNull).count() > 0)
  }

  test("JSON extract → relation with declared schema (S3)") {
    val payload = Seq(
      """{"nom_commune":"Brageac","code_commune":"15024","conso_moyenne_mwh":110.5,"annee":2020}""",
      """{"nom_commune":"Paris","code_commune":"75056","conso_moyenne_mwh":220.25,"annee":2021}""")
    val ds = spark.createDataset(payload)
    val df = spark.read.schema(graft.tables.Tables.consoAnVilleSchema).json(ds)
    assert(df.count() == 2)
    assert(df.schema == graft.tables.Tables.consoAnVilleSchema)
  }

  test("salted join is row-identical to the plain join") {
    // heavy skew: 80% of the large side hits one key
    val large = (1 to 5000).map(i => (if (i % 5 != 0) 1L else (i % 50).toLong, i.toLong))
      .toDF("k", "payload")
    val small = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = large.join(small, "k")
    val salted = Skew.saltedJoin(large, small, "k", col("payload"), salts = 8)
    assert(salted.count() == plain.count())
    val a = plain.select("k", "payload", "attr").orderBy("k", "payload").collect().toSeq
    val b = salted.select("k", "payload", "attr").orderBy("k", "payload").collect().toSeq
    assert(a == b)
  }

  test("HLL sketch: approx_count_distinct within its error bound") {
    val li = graft.tables.Tables.lineitem(spark, Sf)
    val exact = li.select(countDistinct("l_partkey")).head().getLong(0)
    val approx = li.select(approx_count_distinct("l_partkey", 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("events backfill slice equals streaming daily result on that slice (D3)") {
    // Kappa backfill: batch over a date range == the stream's rows for
    // that range (same code path, SURVEY §2.10 D3)
    val stream = graft.streaming.DailyIngest.streamDaily(spark, Sf)
      .filter(col("d").between(lit("2024-01-10"), lit("2024-01-20")))
      .collect().toSeq
    val batch = graft.streaming.DailyIngest.batchDaily(spark, Sf)
      .filter(col("d").between(lit("2024-01-10"), lit("2024-01-20")))
      .collect().toSeq
    assert(stream == batch && stream.nonEmpty)
  }
}
