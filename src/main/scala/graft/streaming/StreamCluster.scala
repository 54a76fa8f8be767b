package graft.streaming

import graft.LocalSession
import graft.llm.{Dedup, TextHash}
import graft.tables.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** s13 — STREAMING near-dup cluster maintenance: d32's incremental
  * connected-components fold run as the continuous pipeline it is
  * meant for. The converged corpus labeling ([[Dedup.clusterLabels]])
  * is the seed state; each micro-batch of incoming documents finds its
  * near-dup edges against the corpus index AND every previously
  * ingested batch (the batch's shingles/bands are APPENDED to a
  * growing side index after its fold, so later batches dedup against
  * earlier ones — the cross-batch dependency that makes this a real
  * stream, not N independent jobs), folds them in with
  * [[Dedup.incrementalComponents]] at batch cost, and writes the new
  * labeling version keyed by batch id.
  *
  * Exactly-once: every per-batch artifact (labels version, appended
  * shingles/bands) is written `overwrite` under the BATCH id, and each
  * fold reads only its predecessor version — a retried batch
  * deterministically rewrites its own outputs (the s04/s11/s12
  * convention).
  *
  * Kappa equivalence, oracle-enforced: the final labeling version must
  * hash-equal d32's one-shot fold AND the from-scratch closure over
  * the union graph — s13 reuses d32's oracle verbatim. A dropped
  * batch, a fold against the wrong label version, or a missing
  * cross-batch edge breaks the hash.
  *
  * Scale shape (100 TB): per trigger the work is batch-sized — the
  * corpus index and label state are read-only/versioned parquet, the
  * contracted component loop runs on the batch's edge graph, and the
  * only corpus-wide operation is the broadcast relabel map-side join
  * inside the fold. No state store: the labeling IS the state,
  * versioned in the warehouse.
  */
object StreamCluster {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Two triggers keep the per-batch fold overhead inside the bench
    * budget while still exercising the cross-batch edge path (batch 1
    * must see batch 0's docs through the appended index).
    */
  val NumBatches = 2

  /** Stage the bucketed gen-2 feed as an index — shared by
    * [[clusterMaintain]] and the bench prestage phase — and return its
    * location.
    */
  private[graft] def stageFeed(spark: SparkSession, dir: String): String =
    graft.ops.Staging.indexes(dir, "s13_feed")(_.files("s13_feed") { p =>
      Dedup.gen2Batch(spark, dir)
        .withColumn("bucket", pmod(col("doc_id"), lit(NumBatches)))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(p)
    }).head

  def clusterMaintain(spark: SparkSession, dir: String): DataFrame = {
    val ss = StreamEnv.streamSession(spark)
    // seed state + static corpus index: staged indexes, shared across processes
    val seedPath = Dedup.clusterLabelsPath(spark, dir)
    val Seq(ccShPath, ccBandsPath) = Dedup.ccIndexPaths(spark, dir)

    val base = StreamEnv.legDir(ss, "stream_cluster", dir)
    val fs = FileSystem.get(ss.sparkContext.hadoopConfiguration)

    // the gen-2 feed is era/build-deterministic: stage its NumBatches
    // bucket files ONCE per (data era, build) like every other index,
    // then per run only COPY them into the stream's input dir (the
    // input dir and checkpoint stay per-run; the 3 s derive+write of
    // the feed does not repeat)
    val feedIdx = stageFeed(spark, dir)
    fs.mkdirs(new Path(s"$base/in"))
    (0 until NumBatches).foreach { k =>
      val part = fs.globStatus(new Path(s"$feedIdx/bucket=$k/part-*.parquet"))(0).getPath
      val dest = new Path(s"$base/in/batch$k.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dest, false,
        ss.sparkContext.hadoopConfiguration)
      fs.setTimes(dest, 1700000000000L + k * 60000L, -1)
    }

    // dense-compute width from the feed's per-batch row mass (parquet
    // metadata count — no row scan), NOT unconditional core count: the
    // round-10 fan-out to 32 tasks per micro-batch at gate SF is what
    // the driver's in-suite bench measured 2.6× slower (see
    // StreamEnv.denseBatchWidth)
    val feedRows = ss.read.parquet(feedIdx).count()
    val denseW = StreamEnv.denseBatchWidth(spark, feedRows / NumBatches)

    // every micro-batch folds here, AQE off at a fixed width: 8 measured
    // best among {2, 8, 32} (wider is task-launch overhead on the
    // batch-scale joins; the shingle-array verify legs want some width)
    val fold = LocalSession.scoped(ss,
      "spark.sql.shuffle.partitions" -> "8", "spark.sql.adaptive.enabled" -> "false")

    def foldBatch(s2: SparkSession, batch: DataFrame, id: Long): Unit = {
      // lazy persist, not an eager checkpoint: the lineage is shallow
      // (one scan + md5 projection) and the cache fills on the fold's
      // first action instead of paying a dedicated materialization job;
      // explicit dense width (the d61/s26 rule), see denseW above
      val bSh = batch.repartition(denseW, col("doc_id"))
        // sorted to match the staged corpus arrays — batchEdges runs
        // the native sorted-intersect verify on every leg
        .select(col("doc_id"), sort_array(TextHash.hashedShingles(col("text"), 0)).as("hs"))
        .persist()
      // existing side = corpus index ∪ every EARLIER batch's appendix
      // (this batch's own appendix is written after the fold; on a
      // retry it may already exist, but self-rows only add (x, x)
      // candidate pairs, which the contraction drops)
      val appendices = (0L until id).map(k => s2.read.parquet(s"$base/app/batch_$k"))
      val exSh = (Seq(Tables.parquet(s2, ccShPath)) ++
        appendices.map(_.select("doc_id", "hs"))).reduce(_ unionByName _)
      val exBands = (Seq(Tables.parquet(s2, ccBandsPath)) ++
        appendices.map(Dedup.explodeBands)).reduce(_ unionByName _)
      val edges = Dedup.batchEdges(bSh, Dedup.bandsOf(bSh), exSh, exBands)
      val prev =
        if (id == 0) Tables.parquet(s2, seedPath)
        else s2.read.parquet(s"$base/labels/v${id - 1}")
      val folded = Dedup.incrementalComponents(prev, batch.select("doc_id"), edges)
      folded.toDF("doc_id", "label")
        .write.mode("overwrite").parquet(s"$base/labels/v$id")
      Dedup.bandedShingles(bSh)
        .write.mode("overwrite").parquet(s"$base/app/batch_$id")
    }

    StreamEnv.drain(ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldBatch(fold, SessionBridge.rebind(fold, batch), id)
      }, base)
    ss.read.parquet(s"$base/labels/v${NumBatches - 1}")
      .select(col("doc_id"), col("label"),
        when(col("doc_id") >= Dedup.G2CopyIdOffset, lit("batch"))
          .otherwise(lit("corpus")).as("src"))
      .orderBy("doc_id")
  }

  /** The micro-batching is invisible by construction: same oracle as
    * the one-shot d32 fold (from-scratch closure over the union).
    */
  val oracleClusterMaintain: String = Dedup.oracleIncrementalCc
}
