package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4 / the 100 TB checklist):
  * AQE's skew-join split handles most cases at runtime; explicit
  * salting is the fallback when one build-side key dominates so hard
  * that even split partitions overwhelm a task.
  */
object Skew {

  /** Salted equi-join: the large (skewed) side spreads each hot key
    * over `salts` shuffle partitions via a deterministic per-row salt;
    * the small side replicates each key `salts` times. Result is
    * row-identical to `large.join(small, key)` — only the shuffle
    * distribution changes.
    *
    * The salt derives from `saltSource` (any column, ideally unique per
    * row) — deterministic, so retries/speculative tasks stay stable.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 saltSource: Column, salts: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt", pmod(xxhash64(saltSource), lit(salts)).cast("int"))
    val saltedSmall = small.withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    saltedLarge.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** q27 — the salted join as an oracle-checked query: lineitem
    * (skewed fact: return-flag keys are few and huge) joins the 3-row
    * flag dimension salted 8 ways, then aggregates. The oracle is the
    * PLAIN join — salting must be result-invariant; only the shuffle
    * key distribution (8 salt sub-partitions per hot key) differs.
    * The small side is shuffled (not broadcast) deliberately: salting
    * only matters on a shuffle path, so the demo disables broadcast
    * via hint.
    */
  def saltedFlagRevenue(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.tables.Tables
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
    val flags = li.select(col("l_returnflag")).distinct()
      .withColumn("flag_label", concat(lit("flag_"), col("l_returnflag")))
      .hint("shuffle_hash") // keep the join on the shuffle path salting targets
    saltedJoin(li, flags, "l_returnflag", col("l_orderkey"), salts = 8)
      .groupBy("flag_label")
      .agg(count(lit(1)).as("n_items"),
           round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("flag_label")
  }

  val oracleSaltedFlagRevenue: String =
    """WITH flags AS (
      |  SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS flag_label
      |  FROM lineitem)
      |SELECT f.flag_label, count(*) AS n_items,
      |  round(sum(l.l_extendedprice), 2) AS revenue
      |FROM lineitem l JOIN flags f ON l.l_returnflag = f.l_returnflag
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q58 — AQE runtime skew-join split: the class-doc division of
    * labor ("AQE handles most cases at runtime; salting is the
    * fallback") demonstrated on the runtime half. The same
    * skewed-fact join as q27 runs UNSALTED as a sort-merge join in a
    * child session with `spark.sql.adaptive.skewJoin` thresholds
    * lowered to fixture scale (the default 256 MB partition threshold
    * never trips on test data); AQE detects the oversized reduce
    * partition at the stage boundary and splits it along mapper
    * boundaries into task-sized partial reads, replicating the
    * matching dim partition. Like q27, the mitigation must be
    * result-invariant — the oracle is the plain join — and PlanSpec
    * asserts the skew marker on the executed ADAPTIVE plan.
    *
    * At 100 TB the SAME query needs no conf tuning: production skew
    * trips the default thresholds, and AQE is the first line of
    * defense precisely because it needs no per-key knowledge —
    * salting remains the manual override when one key out-sizes even
    * a split task.
    */
  def aqeSkewJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.tables.Tables
    val ss = graft.LocalSession.scoped(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      // no broadcast: skew splitting only exists on the shuffle-join path
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    // 90 % of rows on key 0, the rest spread over ten cold keys
    // (9,19,…,99) so the cold mass occupies OTHER reduce partitions —
    // the detector compares the hot partition against the factor ×
    // median bar, so a query whose keys all share one partition (or
    // 3 even-ish keys like returnflag) never reads as skewed
    val hotKey = when(col("l_orderkey") % 10 < 9, lit(0L))
      .otherwise(col("l_orderkey") % 100).as("hot_key")
    val base = Tables.lineitem(ss, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    // AQE splits a skewed reduce partition along MAPPER boundaries —
    // the single-file gate fixture is one input split = one mapper,
    // leaving nothing to split along, so mappers are manufactured with
    // a spread shuffle. Width sized from the fact's bytes (the one
    // width rule: ~4 MiB per mapper, floor 8 = the gate-SF value, cap
    // cores) instead of the round-10 constant 8: more mappers give the
    // skewed reduce partition finer split boundaries AND more map-side
    // parallelism at stress scale, while the gate plan is unchanged by
    // construction.
    val bytes = Tables.dataFiles(ss.sparkContext.hadoopConfiguration, s"$dir/lineitem.parquet")
      .map(_.length).sum
    val width = graft.LocalSession.width(bytes, 4L << 20, 8, ss.sparkContext.defaultParallelism)
    val li = base.select(hotKey, col("l_extendedprice")).repartition(width)
    // the dim is materialized (localCheckpoint) so the join sees a
    // plain leaf on that side: OptimizeSkewedJoin only rewrites an SMJ
    // whose BOTH children are Sort(ShuffleQueryStage) — a distinct's
    // final aggregate sitting between sort and stage disqualifies the
    // join. (Production dims are materialized tables anyway.) Built
    // from the RAW scan, not the spread shuffle's output: the distinct
    // collapses map-side to the 11 key values, while the round-10
    // shape re-ran the whole spread shuffle once for this checkpoint
    // and again for the join (separate query executions never reuse
    // an exchange).
    val dim = base.select(hotKey).distinct()
      .withColumn("key_label", concat(lit("key_"), col("hot_key")))
      .localCheckpoint()
      .hint("merge")
    li.join(dim, Seq("hot_key"))
      .groupBy("key_label")
      .agg(count(lit(1)).as("n_items"),
           round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("key_label")
  }

  val oracleAqeSkewJoin: String =
    """WITH f AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0 ELSE l_orderkey % 100 END AS hot_key,
      |         l_extendedprice
      |  FROM lineitem),
      |dim AS (SELECT DISTINCT hot_key, 'key_' || hot_key AS key_label FROM f)
      |SELECT d.key_label, count(*) AS n_items,
      |  round(sum(f.l_extendedprice), 2) AS revenue
      |FROM f JOIN dim d ON f.hot_key = d.hot_key
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
}
