package graft.streaming

import graft.LocalSession
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Per-query session derivation and the one leg runner for the
  * streaming legs.
  *
  * Streaming queries here want a handful of shuffle partitions (each
  * stateful partition carries a state store — at fixture scale 32
  * stores are pure overhead) and the nanos-as-long parquet read for
  * the raw `events` schema. Both are scoped to the one query by a child
  * session ([[graft.LocalSession.scoped]]).
  *
  * Every leg runs its query to completion the same way: [[legDir]]
  * gives it an empty scratch dir, and [[drain]] (a checkpointed sink
  * under that dir) or [[drainToMemory]] (a memory sink) starts the
  * query under `Trigger.AvailableNow` and waits for it to end. The leg
  * itself only builds the query and configures its sink.
  */
object StreamEnv {

  /** The leg's scratch dir for `(tag, dir)`: [[graft.ops.Staging.stagePath]]
    * on the scratch base, emptied on each call, so a leg's run starts
    * from no feed, sink or checkpoint of an earlier run in this process.
    */
  def legDir(spark: SparkSession, tag: String, dir: String): String = {
    val base = graft.ops.Staging.stagePath(tag, dir)
    val p = new Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  /** Run the configured `writer` to completion with its checkpoint at
    * `<base>/ckpt`: drain the input available now, then stop. The
    * checkpoint is never cleared here, so a second drain over the same
    * `base` resumes from the first; a query failure is rethrown.
    */
  def drain(writer: DataStreamWriter[_], base: String): Unit =
    writer.option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run the configured `writer` to completion into a memory sink
    * named `<tag>_<n>`, unique in this JVM, and return its table. No
    * checkpoint is set, so Spark keeps one in a temporary dir.
    */
  def drainToMemory(writer: DataStreamWriter[_], tag: String): DataFrame = {
    val name = s"${tag}_${sinkSeq.incrementAndGet()}"
    val q = writer.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.sparkSession.table(name)
  }

  def streamSession(spark: SparkSession): SparkSession = session(spark, 4)

  private def session(spark: SparkSession, parts: Int, confs: (String, String)*): SparkSession =
    LocalSession.scoped(spark, Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ confs: _*)

  /** Scale-adaptive shuffle/state partition count for a stream fed by
    * `<dir>/events.parquet`: one partition per ~4 MiB of compressed
    * source parquet (≈ 16-32 MiB of in-memory rows — a sane stateful-
    * shuffle slice), floored at 4 (the fixture-scale value, so gate-SF
    * plans and state layouts are unchanged) and capped at the session's
    * core count ([[graft.LocalSession.width]]). A FIXED 4 was the
    * round-9 shape: correct at sf0.1 (2 MiB source) but it serialized
    * the 100× fixture's 90 MiB of events into 4 state stores — s14's
    * session merge measured 20 s per trigger there. Stateful results
    * are partitioning-independent (all folds here are per-key and
    * commutative or explicitly sorted), so only wall time changes; the
    * oracle gate checks that per SF.
    */
  def sizedParts(spark: SparkSession, dir: String): Int =
    LocalSession.width(eventsBytes(spark, dir), 4L << 20, 4, spark.sparkContext.defaultParallelism)

  /** The bytes of `<dir>/events.parquet`'s data files
    * ([[graft.tables.Tables.dataFiles]]), listed on every call, so an
    * append is seen at once; 0 when there is no events table.
    */
  private[graft] def eventsBytes(spark: SparkSession, dir: String): Long =
    graft.tables.Tables.dataFiles(spark.sparkContext.hadoopConfiguration, s"$dir/events.parquet")
      .map(_.length).sum

  /** Width for a DENSE in-batch repartition (s13's shingle fold, s16's
    * n-gram explode): sized from the micro-batch's ROW count — the
    * compute there is per-row text work (hundreds of shingles/n-grams
    * per row), so rows, not compressed bytes, predict task weight.
    * ~256 rows per task, floored at 8 (round-10 measured best among
    * {2, 8, 32} for the fold's batch-scale shuffles at gate SF) and
    * capped at the core count. The round-10 shape — an unconditional
    * `defaultParallelism` — fanned every micro-batch into 32 tasks
    * regardless of batch size; at the 2 MiB gate SF that is a wave of
    * tiny tasks per trigger, which the driver's in-suite 32-core run
    * measured 2.6-2.8× slower (BENCH_r10: s13 13.9 s / s16 11.8 s,
    * rc=1) while the quiet solo runs looked fine. Sizing by batch rows
    * keeps the 100× widening (16k-row batches still open out to every
    * core) without the fixed core-count fan-out at small batches.
    */
  def denseBatchWidth(spark: SparkSession, batchRows: Long): Int =
    LocalSession.width(batchRows, 256L, 8, spark.sparkContext.defaultParallelism)

  /** [[streamSession]] with the partition count derived from the data
    * era's events table ([[sizedParts]]) — the events-fed stateful legs
    * use this so state parallelism follows input size.
    */
  def streamSessionFor(spark: SparkSession, dir: String): SparkSession =
    session(spark, sizedParts(spark, dir))

  /** [[streamSessionFor]] with the RocksDB state store (s05, s07, s20):
    * off-heap state, where the default provider holds every key on-heap.
    */
  def rocksDbSessionFor(spark: SparkSession, dir: String): SparkSession =
    session(spark, sizedParts(spark, dir), "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The physical schema of `<dir>/events.parquet` as the batch reader
    * sees it. `readStream` requires a declared schema; taking the
    * footer's (memoized by `Tables`) instead of hard-coding `ts: Long`
    * keeps the stream sources working across BOTH driver testdata
    * generations (raw-nanos INT64 vs timestamp[us] — see
    * graft.tables.Tables.events).
    */
  def eventsPhysicalSchema(ss: SparkSession,
                           dir: String): org.apache.spark.sql.types.StructType =
    graft.tables.Tables.eventsRaw(ss, dir).schema

  /** File-stream source over `<dir>/events.parquet` with `ts`
    * normalized to canonical microsecond TimestampType, accepting BOTH
    * table layouts: a single parquet file of that name (the driver
    * testdata — the source's basePath must be a directory, so stream
    * the parent glob-filtered to the file) or a directory of part
    * files (any `df.write.parquet` output, e.g. the Amplify stress
    * fixture — streamed directly).
    */
  def eventsStream(ss: SparkSession, dir: String): DataFrame = {
    val p = new Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val reader = ss.readStream.schema(eventsPhysicalSchema(ss, dir))
    val raw =
      if (fs.getFileStatus(p).isDirectory) reader.parquet(p.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.tables.Tables.normalizeTs(raw)
  }
}
