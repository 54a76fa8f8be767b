package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType,
  StructField, StructType, TimestampType}

/** s24 — STREAMING ingest + small-file COMPACTION: the maintenance
  * job every continuous file-sink pipeline runs, and the one s-query
  * that gates the LAYOUT of the sink rather than its rows. A
  * micro-batch ingest necessarily writes one-file-per-batch-per-
  * partition (idempotency demands batch-scoped files); at 100 TB/day
  * that is thousands of kilobyte-scale files per day-partition within
  * hours, and scan cost inverts from data-bound to file-open-bound.
  * The compactor is the fix: rewrite each day-partition into
  * ceil(rows/[[rowsPerFile]]) right-sized files, atomically (roll
  * derived from corpus size, floored at [[RowsPerFile]]).
  *
  * Three phases, all gated by ONE output relation:
  *  1. INGEST — events stream in [[NumBatches]] micro-batches
  *     (AvailableNow, one file per trigger); `foreachBatch` writes the
  *     batch day-partitioned and moves each day's file into the shared
  *     `ingest/day=D/` dir under a batch-scoped name (delete-then-
  *     rename = idempotent under trigger retry, the s04/s11/s12
  *     convention). This MANUFACTURES the small-file problem
  *     deterministically: day D holds one file per batch residue class
  *     that has an event that day.
  *  2. COMPACT — one job: read the partitioned ingest tree, ONE
  *     shuffle keyed by day (each day lands whole in one task; the
  *     dynamic-partition writer sorts by day within the task and rolls
  *     a new file every [[RowsPerFile]] records), write to a temp dir,
  *     atomic-rename to publish — readers see the old layout or the
  *     new one, never a half-written mix (the staged-index publish
  *     discipline, [[graft.ops.Staging.indexes]]).
  *  3. AUDIT — the gated frame: per day, `n_rows` + `id_sum` (BIGINT
  *     content parity: compaction must move EVERY row, exactly once)
  *     joined with the FILESYSTEM-listed file counts before and after.
  *     `files_before` = distinct batch residues present that day and
  *     `files_after` = ceil(rows/RowsPerFile) are both predicted by
  *     the DuckDB oracle from the raw table — so a compactor that
  *     dropped rows, duplicated rows, skipped a day, or produced the
  *     wrong file layout each breaks the hash.
  *
  * Scale shape (100 TB): the compactor is one keyed shuffle
  * (`repartition(day)`) + `maxRecordsPerFile` — per-partition
  * parallelism is the day count, per-task work is one partition's
  * rows, and file sizes are bounded by construction. Skewed
  * partitions add a salt column at the cost of (salt − 1) extra files
  * per day — same plan, wider key. Nothing collects; the only
  * driver-side state is the O(days × files) listing the audit itself
  * reports on.
  */
object StreamCompact {

  val NumBatches = 3
  /** Compaction floor: files roll at least every this-many records. */
  val RowsPerFile = 1500
  /** Bound on the TOTAL compacted file count. A constant row roll is
    * the scale bug this knob retires (found round 10): at 100× the
    * fixture's 10 M events rolled ~6,700 files and the layout job went
    * file-op-bound (compact phase 3 → 34 s, pure create/commit/rename
    * mass — the very pathology the compactor exists to fix). A
    * production compactor targets bounded file COUNT/SIZE, so the roll
    * derives from the corpus: `max(RowsPerFile, ⌈n/MaxTotalFiles⌉)` —
    * the same derived-knob-with-gate-floor pattern as
    * `Similarity.numCells`; every gate SF (≤ 100 k events) stays under
    * the floor, so oracle hashes are unchanged by construction, and
    * the DuckDB twin computes the identical integer formula from
    * `count(*)`. */
  val MaxTotalFiles = 256L

  /** Derived roll: integer ceil-division, truncating like DuckDB `//`
    * on non-negative BIGINTs. */
  def rowsPerFile(totalRows: Long): Long =
    math.max(RowsPerFile.toLong, (totalRows + MaxTotalFiles - 1) / MaxTotalFiles)

  private val feedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val ingSchema = StructType(feedSchema.fields :+ StructField("day", DateType))

  def compactedIngest(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSessionFor(spark, dir)
    val base = StreamEnv.legDir(ss, "stream_compact", dir)
    val fs = FileSystem.get(ss.sparkContext.hadoopConfiguration)

    // feed files: one per event_id residue class -> one per trigger.
    // FeedStage (the shared one-pass stager) instead of an inline copy
    // of the same pattern: one scan, one keyed repartition, one
    // partitioned write, and deterministic feed-file content
    // (sortWithinPartitions by event_id — the inline copy's files were
    // shuffle-arrival-order; every consumer here is a commutative fold
    // over the batch, oracle-checked per SF)
    FeedStage.stage(spark, base,
      graft.tables.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      pmod(col("event_id"), lit(NumBatches)), NumBatches, Seq(col("event_id")))

    // phase 1: micro-batch ingest, one file per (batch, day)
    StreamEnv.drain(ss.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val bfs = FileSystem.get(batch.sparkSession.sparkContext.hadoopConfiguration)
        val tmpb = s"$base/tmpb/batch_$id"
        // keyed repartition, NOT coalesce(1): each day lands whole in
        // one task (still exactly one file per (batch, day)), but the
        // ~30 sequential file opens spread across tasks — measured
        // ~25% off the per-trigger cost at sf0.1
        batch.withColumn("day", to_date(col("ts")))
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(tmpb)
        val hits = Option(bfs.globStatus(new Path(s"$tmpb/day=*/part-*")))
          .getOrElse(Array.empty)
        hits.foreach { st =>
          val dayDir = st.getPath.getParent.getName // day=YYYY-MM-DD
          val destDir = new Path(s"$base/ingest/$dayDir")
          bfs.mkdirs(destDir)
          val dest = new Path(destDir, s"batch_$id.parquet")
          bfs.delete(dest, false) // idempotent under trigger retry
          bfs.rename(st.getPath, dest): Unit
        }
        ()
      }, base)

    def listByDay(root: String): Seq[(java.sql.Date, Long)] =
      Option(fs.globStatus(new Path(s"$root/day=*/[a-z]*")))
        .getOrElse(Array.empty).toSeq
        .map(_.getPath.getParent.getName.stripPrefix("day="))
        .groupBy(identity).toSeq
        .map { case (d, fsList) => (java.sql.Date.valueOf(d), fsList.size.toLong) }
    val before = listByDay(s"$base/ingest")

    // phase 2: the compactor — one shuffle keyed by day, bounded files
    val ing = ss.read.schema(ingSchema).parquet(s"$base/ingest")
    // parquet-metadata count (no row scan) sizes the derived roll
    val rpf = rowsPerFile(ing.count())
    ing.repartition(col("day"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rpf)
      .partitionBy("day")
      .parquet(s"$base/compact_tmp")
    fs.delete(new Path(s"$base/compact"), true)
    fs.rename(new Path(s"$base/compact_tmp"), new Path(s"$base/compact"))
    val after = listByDay(s"$base/compact")

    // phase 3: audit — content parity from the COMPACTED data, layout
    // counts from the filesystem
    import scala.jdk.CollectionConverters._
    val fileRows = before.map { case (d, nb) =>
      org.apache.spark.sql.Row(d, nb, after.toMap.getOrElse(d, 0L))
    }
    val fileDf = ss.createDataFrame(fileRows.asJava, StructType(Seq(
      StructField("day", DateType), StructField("files_before", LongType),
      StructField("files_after", LongType))))
    ss.read.schema(ingSchema).parquet(s"$base/compact")
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"), sum("event_id").as("id_sum"))
      .join(fileDf, Seq("day"))
      .select("day", "n_rows", "id_sum", "files_before", "files_after")
      .orderBy("day")
  }

  /** DuckDB twin: every gated column is predictable from the raw
    * table — `files_before` is the distinct batch residues present
    * that day (each trigger writes exactly one file per day it
    * touches), `files_after` is ceil(rows / rpf) with the derived roll
    * rpf = max(RowsPerFile, ceil(total/MaxTotalFiles)) (one task per
    * day + maxRecordsPerFile roll). Integer `//` + `%` on non-negative
    * BIGINTs match JVM semantics, so the derived roll is the identical
    * integer in both engines.
    */
  val oracleCompactedIngest: String =
    s"""WITH rpf AS (
       |  SELECT greatest($RowsPerFile,
       |                  (count(*) + ${MaxTotalFiles - 1}) // $MaxTotalFiles) AS r
       |  FROM events)
       |SELECT CAST(ts::TIMESTAMP AS DATE) AS day,
       |       count(*) AS n_rows,
       |       sum(event_id)::BIGINT AS id_sum,
       |       count(DISTINCT event_id % $NumBatches) AS files_before,
       |       (count(*) + (SELECT r FROM rpf) - 1) // (SELECT r FROM rpf) AS files_after
       |FROM events
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
}
