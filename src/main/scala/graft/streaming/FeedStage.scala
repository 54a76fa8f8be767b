package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-pass staging of a stream feed: `df` becomes one parquet file per
  * slice under `<base>/in`, mod-times in slice order (the stageWeekly
  * convention — `maxFilesPerTrigger=1` replays slices as ordered
  * micro-batches).
  *
  * The legacy shape ran `nSlices` separate `filter(slice = k)
  * .coalesce(1).write` jobs — N full scans of the feed source plus N
  * serialized single-task writes, all inside the query's timed window.
  * This helper is the s24 pattern generalized: ONE scan, one keyed
  * repartition (each slice lands whole in one task, so each slice dir
  * holds exactly one part file), one write job. Feed files carry the
  * same rows per slice as the legacy loop; rows additionally sort by
  * `sortCols` within each slice so the file content is a deterministic
  * function of the data rather than of shuffle arrival order (the
  * legacy coalesce(1) order was scan-split order; every feed consumer
  * is order-independent within a micro-batch — per-row verdicts or
  * commutative folds — which the oracle gate checks per SF).
  *
  * `base` is the leg's scratch dir ([[StreamEnv.legDir]]), empty when
  * the feed is staged.
  */
object FeedStage {

  def stage(spark: SparkSession, base: String, df: DataFrame, slice: Column,
            nSlices: Int, sortCols: Seq[Column],
            name: Int => String = k => s"batch$k.parquet"): String = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    df.withColumn("__slice", slice.cast("int"))
      .repartition(col("__slice"))
      .sortWithinPartitions(col("__slice") +: sortCols: _*)
      .write.partitionBy("__slice").parquet(s"$base/tmp")
    fs.mkdirs(new Path(s"$base/in"))
    (0 until nSlices).foreach { k =>
      // an empty residue class writes no partition dir — skip it, which
      // is also what the legacy loop did (an empty filtered coalesce(1)
      // write leaves no part file; see the s22 comment it carried)
      val parts = Option(fs.globStatus(new Path(s"$base/tmp/__slice=$k/part-*.parquet")))
        .getOrElse(Array.empty)
      // one-file-per-slice is load-bearing (each slice IS one
      // micro-batch): a multi-part slice must fail loud, not silently
      // drop rows from the feed
      require(parts.length <= 1,
        s"feed slice $k under $base/tmp split into ${parts.length} part files")
      if (parts.nonEmpty) {
        val dest = new Path(s"$base/in/${name(k)}")
        fs.rename(parts(0).getPath, dest): Unit
        fs.setTimes(dest, 1700000000000L + k * 60000L, -1)
      }
    }
    // the partition dirs + _SUCCESS marker are staging debris once the
    // slices are renamed out — at 100x they are stale clutter next to
    // the live feed (and would mask a multi-part slice on inspection)
    fs.delete(new Path(s"$base/tmp"), true): Unit
    s"$base/in"
  }
}
