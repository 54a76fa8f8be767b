package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, DataFrameReader, Row, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A data file as Spark's file index identifies it: qualified path,
  * length and modification time.
  */
final case class DataFile(path: String, length: Long, mtime: Long)

/** A span of a data file's `ts` values in µs since the epoch: each
  * non-null value lies in `[min, max]`, and when `exact` both are
  * values of the file. `min > max` when the file holds none.
  */
final case class TsSpan(min: Long, max: Long, exact: Boolean = true) {
  def isEmpty: Boolean = min > max

  /** Whether a value of the span can lie in `[lo, hi)`. */
  def meets(lo: Long, hi: Long): Boolean = max >= lo && min < hi

  def union(lo: Long, hi: Long): TsSpan = TsSpan(math.min(min, lo), math.max(max, hi), exact)

  def shift(by: Long): TsSpan = if (isEmpty) this else TsSpan(min + by, max + by, exact)
}

object TsSpan {
  val Empty: TsSpan = TsSpan(Long.MaxValue, Long.MinValue)
}

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md
  * §B) and declared schemas for the reference's domain tables
  * (FIXTURES.md §A).
  *
  * Design stance (SURVEY.md §1.2): every query reads through one
  * audited path, so column pruning and pushdown can be asserted in one
  * place. For Parquet the footer schema is authoritative, and it is
  * read once per table: [[parquet]] hands the reader the table's
  * memoized schema ([[schemaOf]], in an [[Lru]]), which then skips the
  * footer job that schema inference runs. The events footers' `ts`
  * spans are memoized per file ([[eventsTs]], a [[FileMemo]]). The
  * reference's CSV extracts, which carry no footer, get declared
  * schemas below (reference `0_insert_conso_an_ville_in_bq.py:43-47`).
  */
object Tables {

  /** `path` qualified with its file system's scheme and authority. */
  def qualified(conf: Configuration, path: String): String =
    new Path(path).getFileSystem(conf).makeQualified(new Path(path)).toString

  /** The data files under `path` in the order Spark lists them: the
    * path itself if it is a file, else every leaf below it whose name
    * Spark's file index does not skip (a `_` or `.` prefix, except
    * `k=v` partition directories, or a `._COPYING_` suffix). Empty if
    * `path` does not exist. Two equal listings mean the same data, so
    * a driver can tell whether a table changed without a Spark job.
    */
  def dataFiles(conf: Configuration, path: String): Seq[DataFile] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
        .sortBy(_.getPath.toString).flatMap(leaves)
    if (!fs.exists(root)) Seq.empty
    else leaves(fs.getFileStatus(root)).map(s => DataFile(s.getPath.toString, s.getLen, s.getModificationTime))
  }

  /** Digest of the listings ([[dataFiles]]) of `dir`'s `tables`: a
    * driver listing, no Spark job. Equal keys mean the same data, so an
    * append to one of the tables changes the key and an append to any
    * other table does not.
    */
  def listingKey(conf: Configuration, dir: String, tables: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    tables.foreach { t =>
      val path = s"$dir/$t.parquet"
      md.update(s"$path|".getBytes("UTF-8"))
      dataFiles(conf, path).foreach(f => md.update(s"${f.path}:${f.length}:${f.mtime};".getBytes("UTF-8")))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // -- driver testdata (TPC-H-ish star schema) ------------------------------

  /** Tables whose schema the memo keeps; the least recently read goes first. */
  private val MemoTables = 128

  private final case class SchemaMemo(files: Seq[DataFile], schema: StructType)

  private val schemaMemo = new Lru[String, SchemaMemo](MemoTables)

  /** The schema Spark infers for the parquet table at `path`, memoized
    * by qualified path while at least one data file it was inferred
    * from is still listed with the same length and mtime ([[dataFiles]],
    * a driver listing, no Spark job). An append keeps it, as Spark's own
    * inference reads one file and assumes the others agree; a rewrite,
    * replacement or deletion infers again. A miss reads
    * the footer of the file Spark's own inference touches (the first
    * data file by path, `mergeSchema` off) on the driver, no Spark job,
    * and converts it as inference does in a child session with
    * `nanosAsLong`: an INT64 TIMESTAMP(NANOS) column (see [[events]])
    * needs it, a scan given the schema does not, so the caller's
    * session is left as it is. A path with no data file infers as
    * `spark.read.parquet` does, which fails as it does.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = qualified(conf, path)
    val listed = dataFiles(conf, key)
    val live = listed.toSet
    schemaMemo.get(key).filter(_.files.exists(live)).map(_.schema)
      .getOrElse {
        val child = graft.LocalSession.scoped(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
        val schema = listed.map(_.path).sorted.headOption.map(footerSchema(conf, _, child))
          .getOrElse(child.read.parquet(path).schema)
        schemaMemo.put(key, SchemaMemo(listed, schema))
        schema
      }
  }

  /** The schema Spark's inference derives from `file`'s footer with
    * `spark`'s conf.
    */
  private def footerSchema(conf: Configuration, file: String, spark: SparkSession): StructType = {
    val p = new Path(file)
    val in = HadoopInputFile.fromStatus(p.getFileSystem(conf).getFileStatus(p), conf)
    val footer = new Footer(p, ParquetFooterReader.readFooter(in, ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.asInstanceOf[classic.SparkSession].sessionState.conf))
  }

  /** The parquet table at `path`, read with its memoized schema. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")

  /** `events.ts` has shipped in two physical layouts across driver
    * testdata generations: INT64 TIMESTAMP(NANOS) — which Spark's
    * parquet reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as raw
    * Long via `spark.sql.legacy.parquet.nanosAsLong` — and plain
    * timestamp[us] without timezone, which Spark reads as
    * TIMESTAMP_NTZ. Don't assume either: normalize whatever the footer
    * declares to Spark's native microsecond TimestampType, so every
    * downstream op sees one canonical type. The session timezone is
    * pinned to UTC (Bench/Verify/tests), so the NTZ→LTZ cast preserves
    * the wall-clock instant and DuckDB oracles see the same value at
    * ≥ microsecond granularity (all our uses are ≥ second).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(eventsRaw(spark, dir))

  /** The events table as the reader sees it, before [[normalizeTs]]. */
  private[graft] def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    eventsReader(spark, dir).parquet(s"$dir/events.parquet")

  /** Some of the events table's data files, read with its raw schema;
    * no file is an empty relation of that schema (no scan, no
    * `_metadata` column), not a read of no paths.
    */
  private[graft] def eventsFiles(spark: SparkSession, dir: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schemaOf(spark, s"$dir/events.parquet"))
    else eventsReader(spark, dir).parquet(files: _*)

  /** A reader with the events table's raw schema. */
  private def eventsReader(spark: SparkSession, dir: String): DataFrameReader =
    spark.read.schema(schemaOf(spark, s"$dir/events.parquet"))

  /** Directories whose events footers the `ts` memo keeps; the least recently read goes first. */
  private val TsMemoDirs = 16
  private val MicrosPerDay = 86400L * 1000000L

  // keyed by the qualified events path
  private val tsMemo = new FileMemo[String, Option[TsSpan]](TsMemoDirs)

  /** The events data files of `dir` in listing order, each with the span
    * of the `ts` values [[events]] reads from it, or `None` where its
    * footer cannot bound them (no statistics, INT96, no `ts` column).
    * A driver listing and a footer read per file the [[FileMemo]] does
    * not hold, no Spark job.
    *
    * Values convert as [[normalizeTs]] converts them: NANOS divided by
    * 1000 as `div` does, MICROS as they are, MILLIS times 1000. A
    * TIMESTAMP_NTZ read is cast to an instant in the session zone; with
    * a fixed offset that is exact, otherwise the span widens by a day on
    * each side (a zone's offset stays within ±18 h) and is not `exact`.
    */
  private[graft] def eventsTs(spark: SparkSession, dir: String): Seq[(DataFile, Option[TsSpan])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = qualified(conf, s"$dir/events.parquet")
    val files = dataFiles(conf, root)
    val spans = tsMemo(root, files)(_.map(f => f -> footerTs(conf, f.path)).toMap)
    val toInstant: TsSpan => TsSpan =
      if (files.isEmpty || schemaOf(spark, root)("ts").dataType != TimestampNTZType) identity
      else {
        val rules = graft.LocalSession.zone(spark).getRules
        if (rules.isFixedOffset) _.shift(-rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000000L)
        else s => if (s.isEmpty) s else TsSpan(s.min - MicrosPerDay, s.max + MicrosPerDay, exact = false)
      }
    files.map(f => f -> spans(f).map(toInstant))
  }

  /** The span of `file`'s INT64 timestamp `ts` from its row groups'
    * statistics, in µs of its own zone; empty when every row group is
    * all null in `ts`, `None` when a row group with rows has no usable
    * statistics or the column is missing or of another type.
    */
  private def footerTs(conf: Configuration, file: String): Option[TsSpan] = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(new Path(file), conf),
      ParquetMetadataConverter.NO_FILTER)
    val unit = meta.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts").collect {
      case t if t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 =>
        t.getLogicalTypeAnnotation
    }.collect { case a: TimestampLogicalTypeAnnotation => a.getUnit }
    val toMicros: Long => Long = unit match {
      case Some(TimeUnit.NANOS) => _ / 1000
      case Some(TimeUnit.MILLIS) => _ * 1000
      case _ => identity
    }
    unit.flatMap { _ =>
      meta.getBlocks.asScala.filter(_.getRowCount > 0).foldLeft(Option(TsSpan.Empty)) { (acc, block) =>
        acc.flatMap { span =>
          block.getColumns.asScala.find(_.getPath.toDotString == "ts").flatMap { c =>
            val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
            if (s == null) None
            else if (s.hasNonNullValue)
              Some(span.union(toMicros(s.genericGetMin.asInstanceOf[java.lang.Long]),
                toMicros(s.genericGetMax.asInstanceOf[java.lang.Long])))
            else Option.when(s.isNumNullsSet && s.getNumNulls == c.getValueCount)(span)
          }
        }
      }
    }
  }

  /** Canonicalize a raw events relation's `ts` to microsecond
    * TimestampType, dispatching on the physical type the reader saw:
    * raw nanos Long → truncate to µs; TIMESTAMP_NTZ → reinterpret in
    * the (UTC) session zone; TimestampType → already canonical.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _                => df
  }

  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  // -- reference domain schema (FIXTURES.md §A), used by golden tests -------

  /** conso_an_ville — reference `README.md:73`. */
  val consoAnVilleSchema: StructType = StructType(Seq(
    StructField("nom_commune", StringType),
    StructField("code_commune", StringType),
    StructField("conso_moyenne_mwh", DoubleType),
    StructField("annee", IntegerType)))
}
