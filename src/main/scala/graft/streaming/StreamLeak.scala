package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType, StructField, StructType}

/** s26 — STREAMING eval-set protection: the continuous twin of d61's
  * batch decontamination. The TRAIN corpus arrives as ordered
  * micro-batches of embedding rows; the held-out (val/test) vectors
  * are the static side, staged to parquet once and re-read into every
  * trigger (broadcast only under [[graft.llm.Similarity.LeakBroadcastMaxRows]]
  * — never collected to the driver, whose state stays O(1) however
  * the corpus grows). Each batch scores its vectors against the full
  * held-out set and appends only the ALERT rows — (held-out id, split,
  * offending train id, cosine) pairs at/above [[graft.llm.Similarity.LeakTau]]
  * — under the batch id (`overwrite` per batch: the s04/s11/s15
  * idempotent-retry convention). The reported relation folds the alert
  * log to one row per leaked held-out vector.
  *
  * Kappa equivalence, oracle-enforced: the folded alert log must
  * hash-equal the batch-oblivious d61 report restricted to its
  * `leaked` rows — same nn score, same tie-broken nearest train
  * vector, same leak count. A dropped batch, a double-append, or a
  * drifted threshold breaks the hash.
  *
  * Scale shape (100 TB): per trigger the work is batch-sized — the
  * held-out set broadcasts below the d61 bound and joins as a
  * partition-pair cartesian above it, scores fold map-side, and only
  * rows that actually leak are ever written, so the alert log is
  * O(true leaks), not O(corpus). The final fold is one keyed agg over
  * that alert log.
  */
object StreamLeak {

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private val alertSchema = StructType(Seq(
    StructField("test_vec_id", LongType),
    StructField("split", StringType),
    StructField("train_id", LongType),
    StructField("score", DoubleType)))

  val NumBatches = 4

  def leakAlerts(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.VectorFunctions.cosineSimilarity
    import graft.llm.{Sampling, Similarity}
    val ss = StreamEnv.streamSession(spark)
    val base = StreamEnv.legDir(ss, "stream_leak", dir)
    val fs = FileSystem.get(ss.sparkContext.hadoopConfiguration)
    val emb = graft.tables.Tables.embeddings(spark, dir)
      .withColumn("split", Sampling.splitCol(col("vec_id")))
    // the feed: train vectors only, one file per micro-batch, mtime-ordered
    val train = emb.filter(col("split") === "train").select("vec_id", "embedding")
    FeedStage.stage(spark, base, train,
      pmod(col("vec_id"), lit(NumBatches)), NumBatches, Seq(col("vec_id")))

    // staged to parquet ONCE, never collected: under the d13 split
    // rule the held-out side is a fixed FRACTION of the corpus, so a
    // driver collect grows linearly with data (the round-7 audit's
    // one remaining scale-killer shape). Each trigger re-reads the
    // staged relation in its own session (a cross-session DataFrame
    // reference would not be legal) and broadcasts it only under the
    // d61 bound — above it the probe joins as a partition-pair
    // cartesian with both sides distributed, keeping per-task memory
    // O(bound) and driver state O(1) at any corpus size.
    val heldoutPath = s"$base/heldout"
    emb.filter(col("split") =!= "train")
      .select(col("vec_id").as("test_vec_id"), col("split"),
        col("embedding").as("te"))
      .write.parquet(heldoutPath)
    val nHeld = spark.read.parquet(heldoutPath).count()
    val broadcastHeldout = nHeld <= Similarity.LeakBroadcastMaxRows
    val heldChunks =
      ((nHeld + Similarity.LeakBroadcastMaxRows - 1)
        / Similarity.LeakBroadcastMaxRows).toInt.max(1)

    val alertDir = s"$base/alerts"
    StreamEnv.drain(ss.readStream.schema(vecSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        val held = s2.read.parquet(heldoutPath)
        val hdf =
          if (broadcastHeldout) broadcast(held)
          else held.repartition(heldChunks)
        // compute-dense probe: spread the one-file micro-batch across
        // the executors before the |heldout|-cosines-per-row scan (the
        // d61/d35 rule — bytes-small is not compute-small)
        batch.repartition(s2.sparkContext.defaultParallelism * 2)
          .crossJoin(hdf)
          .select(col("test_vec_id"), col("split"),
            col("vec_id").as("train_id"),
            round(cosineSimilarity(col("te"), col("embedding")), 6).as("score"))
          .filter(col("score") >= Similarity.LeakTau)
          .write.mode("overwrite").parquet(s"$alertDir/batch_$id")
        ()
      }, base)

    // a batch with no leaks still writes its (possibly part-less) dir;
    // an explicit schema makes empty dirs readable, and the zero-dir
    // corpus degenerates to an empty alert log (the s22 lesson)
    val hits = Option(fs.globStatus(new Path(s"$alertDir/batch_*")))
      .map(_.length).getOrElse(0)
    val alerts =
      if (hits == 0)
        ss.createDataFrame(ss.sparkContext.emptyRDD[Row], alertSchema)
      else ss.read.schema(alertSchema).parquet(s"$alertDir/batch_*")
    alerts
      .groupBy("test_vec_id", "split")
      .agg(max(struct(col("score"), (-col("train_id")).as("nid"))).as("nn"),
        count(lit(1)).as("n_leaks"))
      .select(col("test_vec_id"), col("split"),
        col("nn.score").as("nn_score"),
        (-col("nn.nid")).as("nn_train_id"),
        col("n_leaks"))
      .orderBy("test_vec_id")
  }

  /** Batch-oblivious replay: the d61 report restricted to leaked rows. */
  lazy val oracleLeakAlerts: String =
    s"""WITH d61 AS (
       |${graft.llm.Similarity.oracleXsplitLeakage}
       |)
       |SELECT test_vec_id, split, nn_score, nn_train_id, n_leaks
       |FROM d61 WHERE leaked ORDER BY test_vec_id""".stripMargin
}
