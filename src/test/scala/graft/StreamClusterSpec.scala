package graft

import graft.llm.Dedup
import graft.streaming.StreamCluster
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** s13 streaming cluster maintenance: kappa equivalence with the
  * one-shot d32 fold, and the versioned-state layout a retry would
  * resume from.
  */
class StreamClusterSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}

  test("streamed two-batch fold equals the one-shot d32 fold (kappa)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows(StreamCluster.clusterMaintain(spark, Sf)) ==
      rows(Dedup.incrementalCc(spark, Sf)))
  }

  test("dense in-batch width is row-sized: floor 8, ~256 rows/task, capped at cores") {
    import graft.streaming.StreamEnv
    val cores = spark.sparkContext.defaultParallelism
    assert(StreamEnv.denseBatchWidth(spark, 0L) == math.min(8, cores))    // empty → floor
    assert(StreamEnv.denseBatchWidth(spark, 1000L) == math.min(8, cores)) // gate SF → floor
    assert(StreamEnv.denseBatchWidth(spark, 4096L) == math.min(16, cores))
    assert(StreamEnv.denseBatchWidth(spark, 1000000L) == cores) // big batch → every core
  }

  test("state width is sized from the events bytes listed at the call, so an append is seen") {
    import graft.streaming.StreamEnv
    SparkTestBase.withTempDir("graft_sized") { root =>
      val dir = SparkTestBase.fixtureCopy(root, Set("events"))
      def width = LocalSession.width(StreamEnv.eventsBytes(spark, dir), 4L << 20, 4,
        spark.sparkContext.defaultParallelism)
      val before = StreamEnv.eventsBytes(spark, dir)
      val part = root.resolve("events.parquet/part-00000.parquet")
      assert(before == java.nio.file.Files.size(part))
      assert(StreamEnv.sizedParts(spark, dir) == width)
      java.nio.file.Files.copy(part, root.resolve("events.parquet/part-00001.parquet"))
      assert(StreamEnv.eventsBytes(spark, dir) == 2 * before)
      assert(StreamEnv.sizedParts(spark, dir) == width)
    }
  }

  test("label state is versioned per trigger with a per-batch appendix") {
    // the staged layout from the run above (same process + dir)
    val base = graft.ops.Staging.stagePath("stream_cluster", Sf)
    (0 until StreamCluster.NumBatches).foreach { k =>
      assert(new java.io.File(s"$base/labels/v$k/_SUCCESS").exists, s"labels v$k")
      assert(new java.io.File(s"$base/app/batch_$k/_SUCCESS").exists, s"appendix $k")
    }
    // v0 covers exactly corpus ∪ batch-0: the fold is per-trigger, not
    // a deferred end-of-stream recompute
    val v0 = spark.read.parquet(s"$base/labels/v0")
    val nCorpus = Dedup.corpus(spark, Sf).count()
    val b0 = Dedup.gen2Batch(spark, Sf)
      .filter(pmod(col("doc_id"), lit(StreamCluster.NumBatches)) === 0).count()
    assert(v0.count() == nCorpus + b0)
    assert(v0.select("doc_id").distinct().count() == nCorpus + b0)
  }
}
