package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s23 — streaming FAILURE ALERTING (SURVEY §2 D6): the reference's
  * dags wire an `EmailOperator` to fire when the daily ingest task
  * fails (`airflow/dags/insert_conso_jour_region_in_bq.py:119-127` —
  * commented-out dead code upstream, implemented live here). The
  * Structured Streaming analog is a [[StreamingQueryListener]]: its
  * `onQueryTerminated` event carries the failure, the pipeline's
  * alert routine extracts the cause and appends it to a persistent
  * ALERT table (the email/pager sink's durable twin), and the ingest
  * is retried from the SAME checkpoint once the fault clears.
  *
  * The scenario is the operational one the reference guards against —
  * a transient downstream-warehouse outage: run 1 starts with the
  * warehouse marker absent, the sink throws on its first micro-batch
  * (before any commit), the stream dies, the listener captures the
  * termination with its exception and the alert row (cause token
  * parsed out of the wrapped exception chain) lands in the alert
  * table; the marker is restored and run 2 resumes from the
  * checkpoint, reprocessing the uncommitted batch and completing —
  * its clean termination is ALSO a listener event, recorded as the
  * recovery row (alert + all-clear, the paging pattern).
  *
  * Determinism for the oracle: the failure happens before any batch
  * commits, so the restarted run processes every batch exactly once
  * (per-batch-id overwrite keeps even a replayed batch idempotent —
  * the s04/s11 convention), and both listener events are awaited on
  * latches keyed by query run id before the result is assembled.
  *
  * Scale shape: the listener is driver-side O(1) per lifecycle event
  * (never per row); the alert table gains one row per incident, and
  * the retry re-reads nothing but the uncommitted batches — at
  * 100 TB/day the cost of an outage is the outage, not a re-ingest.
  */
object StreamAlert {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  val NumBatches = 4
  /** The cause token thrown by the sink and parsed back out of the
    * listener's wrapped exception chain.
    */
  val CauseToken = "warehouse_down"

  def failureAlert(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSession(spark)
    val base = StreamEnv.legDir(ss, "stream_alert", dir)
    val fs = FileSystem.get(ss.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$base/warehouse_up")

    // batch fixtures: documents split by doc_id % NumBatches, mtime-ordered
    val feed = graft.tables.Tables.documents(spark, dir)
      .select("doc_id", "text", "lang")
    FeedStage.stage(spark, base, feed,
      pmod(col("doc_id"), lit(NumBatches)), NumBatches, Seq(col("doc_id")))

    // the listener: termination events arrive async on the listener
    // bus — latched per run id so the alert routine reads them only
    // after delivery, never by sleeping
    val terminations = new ConcurrentLinkedQueue[Option[String]]()
    // one query runs at a time on this dedicated stream session, so a
    // single pre-start latch per run is race-free (the latch exists
    // BEFORE start() — a fast failure can't deliver its event first)
    @volatile var currentLatch: CountDownLatch = new CountDownLatch(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminations.add(e.exception)
        currentLatch.countDown()
      }
    }

    def runIngest(): Unit = {
      val latch = new CountDownLatch(1)
      currentLatch = latch
      val writer = ss.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // the transient downstream outage: refuse the batch while the
          // warehouse marker is down — BEFORE any write, so the batch
          // never commits and the retry replays it
          val up = FileSystem.get(batch.sparkSession.sparkContext.hadoopConfiguration)
            .exists(marker)
          if (!up) throw new IllegalStateException(s"sink unavailable: $CauseToken")
          batch.select("doc_id", "lang")
            .write.mode("overwrite").parquet(s"$base/out/batch_$id")
          ()
        }
      try StreamEnv.drain(writer, base)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      require(latch.await(60, TimeUnit.SECONDS),
        "listener never delivered the termination event")
    }

    ss.streams.addListener(listener)
    try {
      runIngest() // run 1: warehouse down → first micro-batch throws
      fs.create(marker).close() // fault cleared
      runIngest() // run 2: resumes from the checkpoint, completes
    } finally ss.streams.removeListener(listener)

    // the alert routine: one row per lifecycle event — failures carry
    // the cause token parsed from the wrapped exception chain, clean
    // terminations the all-clear — appended to the durable alert table
    val alertRows = terminations.toArray(Array.empty[Option[String]]).toSeq
      .map { exc =>
        exc match {
          case Some(msg) =>
            val cause = if (msg.contains(CauseToken)) CauseToken else "unknown"
            ("alert", cause)
          case None => ("recovered", "ok")
        }
      }
    import ss.implicits._
    alertRows.toDF("kind", "key")
      .write.mode("append").parquet(s"$base/alerts")

    ss.read.parquet(s"$base/alerts")
      .groupBy("kind", "key").agg(count(lit(1)).as("n"))
      .unionByName(ss.read.parquet(s"$base/out/batch_*")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .select(lit("processed").as("kind"), col("lang").as("key"), col("n")))
      .orderBy("kind", "key")
  }

  val oracleFailureAlert: String =
    s"""SELECT 'alert' AS kind, '$CauseToken' AS key, 1::BIGINT AS n
       |UNION ALL
       |SELECT 'recovered', 'ok', 1::BIGINT
       |UNION ALL
       |SELECT 'processed', lang, count(*) FROM documents GROUP BY lang
       |ORDER BY kind, key""".stripMargin
}
