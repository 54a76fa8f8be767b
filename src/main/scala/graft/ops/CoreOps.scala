package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ComputeOnce

/** Core relational operators — the reference's scan/filter/project/agg/
  * union/sort surface (SURVEY.md §2.1, §2.2, §2.4, §2.6, §2.7, §2.8)
  * re-expressed set-oriented on the driver testdata tables.
  *
  * Parity conventions shared with the DuckDB oracles in
  * [[graft.SparkEntry.oracleSql]]:
  *  - every query ends in a deterministic ORDER BY (with tiebreakers
  *    wherever the leading keys are not unique);
  *  - means over ≤2-decimal money columns are computed as
  *    `round(sum(x), 2) / count(x)` ([[stableAvg]]): the true sum sits
  *    exactly on the cent grid, so both engines collapse their ~1e-12
  *    summation-order noise onto the *identical* double before any
  *    further arithmetic — a raw `round(avg(x), n)` can straddle a
  *    rounding half-boundary and flip between engines;
  *  - double-valued aggregates are rounded (HALF_UP `round` for plain
  *    decimals, HALF_EVEN `bround` where the reference's numpy/pandas
  *    `round` semantics matter — reference `api.py:127`,
  *    `airflow/dags/insert_conso_jour_region_in_bq.py:85`);
  *  - column aliases match the oracle SQL exactly.
  */
object CoreOps {

  /** Cross-engine-deterministic mean of a ≤2-decimal column: the summed
    * value is snapped to the cent grid before dividing, collapsing
    * engine-specific float-summation order noise. See class doc.
    */
  def stableAvg(c: Column): Column = round(sum(c), StableScale) / count(c)

  /** Decimal places of the grid [[stableAvg]] snaps its sum to. */
  private val StableScale = 2
  private val GridUnits = math.pow(10, StableScale)

  /** One grid value as an exact integer count of grid units (cents):
    * sums of these re-aggregate associatively, so per-file partials
    * merge exactly (`ZOrder.statsIndex`, `PricingService`'s M).
    */
  def gridUnits(c: Column): Column = floor(c * lit(GridUnits) + lit(0.5)).cast("long")

  /** [[stableAvg]] folded in plain Scala from exact partials: `units`
    * grid units over `n` values. On a ≤2-decimal column `units / 100`
    * is the correctly rounded double of the exact sum, which is what
    * `round(sum, 2)` yields, so the result is bit-equal to the Column
    * form.
    */
  def stableAvg(units: Long, n: Long): Double = units.toDouble / GridUnits / n.toDouble

  /** `df` in a global presentation sort on `cols`, its rows computed
    * once (the t10 pre-sort rule). The sort's range exchange samples
    * its child in a job of its own to pick the partition bounds, then
    * runs the child again to shuffle it, so an unguarded map-heavy
    * child (regex, hash or fold per row) does all its work twice. A
    * [[ComputeOnce]] node under the sort makes the sampling job compute
    * and keep the rows, and the shuffle reads them back. It is a plan
    * operator, so no job runs while the query is built, even with
    * exchanges below it, and the plan shows the child's operators. Not
    * for cheap children: re-scanning pruned columns can beat writing
    * and reading the checkpoint (q08).
    *
    * Adding the node's planner strategy to `df`'s session (once, on
    * first use) is the one change this code makes to a session it did
    * not create; it plans only the nodes this helper inserts, so other
    * sorts keep their plans.
    */
  def sortedOnce(df: DataFrame, cols: String*): DataFrame =
    ComputeOnce(df).orderBy(cols.map(col): _*)

  /** q01 — pruned scan + disjunctive predicate (S1/P1/P4).
    * Mirrors the reference's source pushdown (`select` 4 cols, OR-of-
    * equality + conjunction where, reference
    * `0_insert_conso_an_ville_in_bq.py:24-25`). Catalyst pushes both the
    * filter and the projection into the parquet scan.
    */
  def prunedScan(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "R") && col("l_linestatus") === "F")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
      "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** q02 — hash group-by + mean over 3 keys (A1: the commune-year dedup
    * aggregate, reference `0_insert_conso_an_ville_in_bq.py:50-52`).
    * Partial aggregation (map-side combine) before the shuffle is free in
    * Spark — the 100 TB path shuffles only one partial row per group/task.
    */
  def groupMean(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")).as("ship_year"))
      .agg(stableAvg(col("l_quantity")).as("avg_qty"),
           round(sum("l_extendedprice"), 2).as("sum_price"),
           count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus", "ship_year")

  /** q03 — daily mean + banker's rounding + derived-column rename
    * (A2/P3/F1: the DAG's intra-day collapse, reference
    * `airflow/dags/insert_conso_jour_region_in_bq.py:80-86`). `bround`
    * matches pandas `Series.round` HALF_EVEN exactly.
    */
  def dailyMean(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(stableAvg(col("value")).as("daily_mwh"))
      .orderBy("event_type", "d")

  /** q04 — trailing 30-day slice + grand mean (P6/A3: the API's
    * region-mean query, reference `api.py:41-61`). The anchor is
    * max(ts) (not wall-clock `current_date` — fixing the reference's
    * import-time-freshness wart, SURVEY.md §2.8 F4) and rides along as a
    * broadcast scalar instead of a driver-side collect.
    */
  def trailingMean(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val anchor = e.agg(max(col("ts")).as("mx"))
    e.crossJoin(broadcast(anchor))
      .filter(col("ts") >= col("mx") - expr("INTERVAL 30 DAYS"))
      .agg(stableAvg(col("value")).as("avg30"), count(lit(1)).as("n_rows"))
  }

  /** q08 — union all of two disjoint slices (U1, reference
    * `0_insert_conso_an_ville_in_bq.py:101`): historical ∪ forecast
    * becomes returnflag-A ∪ returnflag-N with a provenance tag.
    */
  def unionAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val hist = li.filter(col("l_returnflag") === "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), lit("hist").as("src"))
    val fcst = li.filter(col("l_returnflag") === "N")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), lit("fcst").as("src"))
    // NOT [[sortedOnce]] (priced both ways, round 11): materializing
    // the ~45M-row union costs 0.60x at 100x — re-scanning pruned
    // parquet columns in the sampling pass is cheaper than
    // writing+reading the row-format checkpoint at this row count.
    hist.unionByName(fcst).orderBy("l_orderkey", "l_linenumber", "src", "l_quantity")
  }

  /** q09 — global sort + limit (O1/O2, reference `api.py:86`). Spark
    * plans this as TakeOrderedAndProject — a per-partition top-k then a
    * driver-side merge of k·partitions rows, never a full global sort.
    */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)

  /** q10 — scalar-function surface (F1/F2/F3/F5, SURVEY.md §2.8):
    * year extract, date subtraction, date formatting, HALF_EVEN round,
    * clamp via least/greatest — all codegen'd builtins, no UDFs.
    */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    // sort FIRST on the three narrow base columns, derive after: the
    // range exchange samples its child (a second full pass), so with
    // the project below the sort every scalar function ran TWICE and
    // the shuffle carried the wide derived row (formatted string +
    // date) instead of 24 B of base columns. Project above the sort is
    // order-preserving — same rows, same o_orderkey order.
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy("o_orderkey")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        to_date(col("o_orderdate") - expr("INTERVAL 30 DAYS")).as("day_minus_30"),
        bround(col("o_totalprice"), 0).as("price_int"),
        round(least(lit(150000.0), greatest(lit(50000.0), col("o_totalprice"))), 2).as("price_clamped"))

  /** q11 — multi-way join + aggregation (the set-oriented join surface
    * the reference lacks, SURVEY.md §2.3): lineitem ⋈ orders ⋈ customer
    * ⋈ nation, revenue per nation. `nation` (25 rows) is explicitly
    * broadcast; orders→lineitem is a shuffled hash join on the fact keys
    * — at 100 TB the dimensions stay broadcast and only the two fact
    * tables shuffle, co-partitioned on the join key.
    */
  def joinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** q14 — request validation (P9/F10, reference `api.py:24-33`
    * `check_fields`): parse JSON request payloads against a declared
    * schema; a missing required field surfaces as a NULL → invalid,
    * the set-oriented form of the reference's 400 response. Payloads
    * are synthesized deterministically (every 7th request drops a
    * field).
    */
  def validateRequests(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val reqSchema = StructType(Seq(
      StructField("nb_personne", IntegerType), StructField("nb_m2", IntegerType)))
    val payload = when(pmod(col("c_custkey"), lit(7)) === 0,
        concat(lit("{\"nb_m2\": "), (lit(20) + pmod(col("c_custkey"), lit(180))).cast("string"), lit("}")))
      .otherwise(concat(
        lit("{\"nb_personne\": "), (pmod(col("c_custkey"), lit(4)) + lit(1)).cast("string"),
        lit(", \"nb_m2\": "), (lit(20) + pmod(col("c_custkey"), lit(180))).cast("string"), lit("}")))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), from_json(payload, reqSchema).as("r"))
      .select(col("c_custkey"),
        col("r.nb_personne").as("nb_personne"), col("r.nb_m2").as("nb_m2"),
        (col("r.nb_personne").isNotNull && col("r.nb_m2").isNotNull).as("is_valid"))
      .orderBy("c_custkey")
  }

  /** q15 — the SQL-text surface (S6, reference `api.py:47-58` runs SQL
    * strings against the warehouse): the same engine consumed through
    * `spark.sql` over registered temp views, with typed parameter
    * binding (`lit`-style args) instead of the reference's f-string
    * splicing (wart F8).
    */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_mktsegment,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       round(sum(o_totalprice), 2) AS total,
        |       count(*) AS n_orders
        |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
        |WHERE o_orderstatus != :status
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
      Map("status" -> "X"))
  }

  /** q16 — statistics surface beyond the reference (distinct counts and
    * exact interpolated percentiles — the reference has neither):
    * per returnflag, distinct part count, quartiles of extendedprice,
    * sample stddev. Quartiles come from the bounded two-pass exact
    * percentile ([[Percentiles.boundedPercentiles]]) — same values as
    * the built-in `percentile` (and DuckDB `quantile_cont`) without its
    * unbounded per-group in-memory buffer; midpoints of 2-decimal data
    * terminate within 4 decimals, so round(…,4) is boundary-safe.
    */
  def statsSurface(spark: SparkSession, dir: String): DataFrame =
    Percentiles.boundedPercentiles(
      Tables.lineitem(spark, dir), "l_returnflag", "l_extendedprice",
      Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)),
      extraAggs = Seq(
        countDistinct("l_partkey").as("n_parts"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd")))
      .select(col("l_returnflag"), col("n_parts"),
        round(col("p25"), 4).as("p25"),
        round(col("p50"), 4).as("p50"),
        round(col("p75"), 4).as("p75"),
        col("sd"))
      .orderBy("l_returnflag")

  /** q17 — rollup (hierarchical subtotals; beyond the reference's flat
    * group-bys): revenue by (nation, year) with per-nation and grand
    * totals. `grouping_id` disambiguates subtotal rows; ordering pins
    * NULL placement explicitly since Spark defaults NULLS FIRST and
    * DuckDB NULLS LAST.
    */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n_orders"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("n_name").asc_nulls_first, col("yr").asc_nulls_first)
  }

  /** q23 — cube (all grouping-set combinations of nation × order
    * status; completes the grouping-sets family next to q17's rollup).
    */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .cube(col("n_name"), col("o_orderstatus"))
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n_orders"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("n_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  /** q34 — explicit GROUPING SETS: nation-only and year-only marginals
    * plus the grand total, WITHOUT the (nation, year) pair — the
    * non-hierarchical shape neither `rollup` nor `cube` can express
    * (Spark 4's `Dataset.groupingSets`). Plans as a single Expand +
    * one hash aggregate: each input row fans out once per set, so the
    * shuffle carries |sets| × rows pre-combined partials, not one
    * pass per marginal.
    */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("yr", year(col("o_orderdate")))
      .groupingSets(Seq(Seq(col("n_name")), Seq(col("yr")), Seq.empty),
        col("n_name"), col("yr"))
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n_orders"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("n_name").asc_nulls_first, col("yr").asc_nulls_first)
  }

  /** q18 — semi/anti join (EXISTS / NOT EXISTS): customers with at
    * least one high-value order, tagged; anti side = never ordered
    * above the threshold. Left-semi/anti shuffle only the key column —
    * the probe side never materializes payload for non-matches.
    */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 200000.0)
      .select("o_custkey")
    val semi = c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_big_order").as("segment"))
    val anti = c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_big_order").as("segment"))
    semi.unionByName(anti).orderBy("c_custkey")
  }

  /** q19 — pivot (wide daily matrix, one column per event type; the
    * reference's BI-facing layouts pivot manually in pandas). A fixed
    * value list keeps the output schema static — at scale a dynamic
    * pivot would force an extra distinct-values job. Oracle uses
    * FILTER-ed conditional aggregates, the portable spelling.
    */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .pivot("event_type", types)
      .agg(round(sum("value"), 2))
      .na.fill(0.0, types)
      .orderBy("d")
  }

  /** q20 — set operations (INTERSECT / EXCEPT; absent in the reference,
    * SURVEY.md §2.7): customers appearing in both an urgent-order set
    * and a high-value set, and urgent-only customers, tagged.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val big = o.filter(col("o_totalprice") > 150000.0).select("o_custkey")
    val both = urgent.intersect(big).select(col("o_custkey"), lit("urgent_and_big").as("tag"))
    val only = urgent.except(big).select(col("o_custkey"), lit("urgent_only").as("tag"))
    both.unionByName(only).orderBy("o_custkey", "tag")
  }

  /** q21 — correlated scalar subquery (exercises Catalyst's
    * RewriteCorrelatedScalarSubquery / decorrelation, SURVEY.md §4):
    * orders beating their own customer's average order value. The
    * optimizer rewrites the per-row subquery into an aggregate + join —
    * the set-oriented plan this engine is built on.
    */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_v o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT round(sum(o_totalprice), 2) / count(*) FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** q22 — ranking-function surface (row_number / rank / dense_rank /
    * ntile; absent in the reference, SURVEY.md §2.5): order ranks per
    * customer by price. row_number's tie-break is pinned by a unique
    * key so both engines agree.
    */
  def rankingWindows(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"))
      .filter(col("rn") <= 5)
      .orderBy("o_custkey", "rn")
  }

  /** q29 — distribution profiling: fixed-width histogram of event
    * values per type. Bucketing is `floor(value / width)` — two IEEE
    * ops, bit-identical across engines — and every output column is an
    * integer count or an exact min/max, so the histogram hash-matches
    * with no rounding. One partial+final hash aggregate; at 100 TB the
    * shuffle carries ≤ types × buckets rows.
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), floor(col("value") / lit(50.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
      .orderBy("event_type", "bucket")

  val oracleHistogram: String =
    """SELECT event_type, floor(value / 50.0)::BIGINT AS bucket,
      |       count(*) AS n, min(value) AS lo, max(value) AS hi
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, bucket""".stripMargin

  /** q30 — exact interpolated percentiles (p50/p90/p99) per event
    * type via the bounded two-pass plan
    * ([[Percentiles.boundedPercentiles]]): interpolation replicates
    * the `percentile`/`quantile_cont` math (`rank = p·(n−1)`, linear
    * between the two adjacent sorted values) bit-for-bit, gate-verified
    * at all three SFs, while every aggregate stays a spillable bounded
    * hash agg — no per-group value buffer, so the plan survives
    * unbounded group cardinality at 100 TB. q56 is the sketch twin
    * (approx_percentile with an oracle-checked error bound).
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Percentiles.boundedPercentiles(
      Tables.events(spark, dir), "event_type", "value",
      Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)),
      extraAggs = Seq(count(lit(1)).as("n")))
      .select(col("event_type"), col("p50"), col("p90"), col("p99"), col("n"))
      .orderBy("event_type")

  val oracleQuantiles: String =
    """SELECT event_type,
      |       quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90,
      |       quantile_cont(value, 0.99) AS p99,
      |       count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q56 — approx_percentile twin of q30 with an ''oracle-checkable''
    * error bound (the d16 sketch pattern, hardened): rather than
    * emitting the sketch values (engine-specific, no DuckDB parity),
    * the query emits per-group booleans asserting the Greenwald–Khanna
    * guarantee — the true rank of each returned value is within
    * `n/accuracy` (+1 for rank-interval discretization) of the target
    * rank `p·(n−1)`. The oracle is then the constant-`true` table, so
    * the driver's hash compare becomes a hard gate on the bound: any
    * out-of-tolerance sketch answer flips a boolean and reds the row.
    * At 100 TB this is the percentile path to use when group
    * cardinality is unbounded: fixed-size sketch per group, one pass.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val ev = Tables.events(spark, dir)
    val sk = ev.groupBy("event_type")
      .agg(
        expr(s"approx_percentile(value, array(0.5D, 0.9D, 0.99D), $acc)").as("ap"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        posexplode(col("ap")).as(Seq("pos", "apv")))
      .withColumn("p", element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos") + 1))
    val ranks = ev
      .join(broadcast(sk.withColumnRenamed("event_type", "et2")),
        col("event_type") === col("et2"))
      .groupBy("event_type", "pos", "p", "apv", "n")
      .agg(
        sum(when(col("value") < col("apv"), 1L).otherwise(0L)).as("below"),
        sum(when(col("value") <= col("apv"), 1L).otherwise(0L)).as("at_or_below"))
    val checked = ranks
      .withColumn("target", col("p") * (col("n") - 1).cast("double"))
      .withColumn("err", greatest(lit(0.0),
        col("below").cast("double") - col("target"),
        col("target") - (col("at_or_below") - 1).cast("double")))
      .withColumn("ok", col("err") <= col("n").cast("double") / acc + 1.0)
    checked.groupBy("event_type")
      .agg(
        max("n").as("n"),
        max(when(col("pos") === 0, col("ok"))).as("ok_p50"),
        max(when(col("pos") === 1, col("ok"))).as("ok_p90"),
        max(when(col("pos") === 2, col("ok"))).as("ok_p99"))
      .orderBy("event_type")
  }

  val oracleApproxQuantiles: String =
    """SELECT event_type, count(*) AS n,
      |       true AS ok_p50, true AS ok_p90, true AS ok_p99
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val DepthBuckets = 10

  /** q64 — equi-depth histogram: per event type, [[DepthBuckets]]
    * buckets holding ~equal ROW COUNTS (the histogram an optimizer or
    * a monitoring system wants when the distribution is skewed — q29's
    * fixed-width buckets put 90 % of a heavy-tailed column in one
    * bar). Boundaries are the exact k/10 quantiles from the bounded
    * two-pass percentile plan ([[Percentiles.boundedPercentiles]] —
    * spillable hash aggs, no per-group value buffer); each row's
    * bucket is then `Σ (value > boundary_k)` — a codegen'd sum of nine
    * comparisons against the group's broadcast boundary row, never a
    * per-row array scan — and one final count/min/max aggregate per
    * (group, bucket). Three linear passes at 100 TB, all spillable.
    */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val ps = (1 until DepthBuckets).map(k => (s"q$k", k / 10.0))
    val bounds = Percentiles.boundedPercentiles(
      Tables.events(spark, dir), "event_type", "value", ps)
    val bucket = (1 until DepthBuckets)
      .map(k => (col("value") > col(s"q$k")).cast("long")).reduce(_ + _)
    Tables.events(spark, dir)
      .join(broadcast(bounds), Seq("event_type"))
      .withColumn("bucket", bucket)
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
      .orderBy("event_type", "bucket")
  }

  val oracleEquidepthHist: String = {
    val qs = (1 to 9).map(k => s"quantile_cont(value, 0.$k) AS q$k").mkString(", ")
    val bucket = (1 to 9).map(k => s"(e.value > b.q$k)::BIGINT").mkString(" + ")
    s"""WITH b AS (SELECT event_type, $qs FROM events GROUP BY event_type)
       |SELECT e.event_type, ($bucket) AS bucket,
       |       count(*) AS n, min(e.value) AS lo, max(e.value) AS hi
       |FROM events e JOIN b USING (event_type)
       |GROUP BY 1, 2
       |ORDER BY e.event_type, bucket""".stripMargin
  }

  /** Robust-z cut for q60: 3σ equivalent via the Gaussian consistency
    * constant (3 × 1.4826). A plain decimal literal parses to the same
    * IEEE double in Spark and DuckDB, so the strict `>` comparison has
    * exact cross-engine parity.
    */
  val RobustZCut = 4.4478

  /** q60 — robust outlier detection (median/MAD, the resistant
    * alternative to q16's mean/stddev): per event type, the median,
    * the median absolute deviation, and the count of values beyond
    * [[RobustZCut]]·MAD. Both medians run the bounded two-pass exact
    * percentile ([[Percentiles.boundedPercentiles]]) — the q16/q30
    * plan shape: spillable hash aggs + boundary-bucket windows only,
    * no per-group value buffer, so the chain (two percentile passes +
    * one flagging agg) stays OOM-safe at unbounded group cardinality.
    * The per-group medians re-enter as broadcast joins (group-count
    * sized, the Lloyd-centroid pattern). `ad = |value − med|` and the
    * cut `ad > 4.4478·mad` are double ops on bit-identical inputs in
    * both engines, so no rounding is needed anywhere.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("double").as("value"))
    val med = Percentiles.boundedPercentiles(
      ev, "event_type", "value", Seq(("med", 0.5)))
      .select("event_type", "med")
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = Percentiles.boundedPercentiles(
      dev, "event_type", "ad", Seq(("mad", 0.5)))
      .select("event_type", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        min("med").as("med"), // per-group constant; min = the value
        min("mad").as("mad"),
        count(when(col("ad") > lit(RobustZCut) * col("mad"), lit(1))).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** q61 — pipeline observability via `Dataset.observe` (Catalyst's
    * `CollectMetrics` node): data-quality counters ride THE SAME
    * physical pass as a production aggregation — zero extra scans, no
    * second job — and surface through the `Observation` handle when
    * the action completes (accumulator-backed, exactly-once per
    * successful action). This is the engine surface the reference's
    * Airflow DAG lacks entirely: its load steps re-query the warehouse
    * to validate row counts. The observed metrics here are all
    * order-independent (counts, min, max, an integer floor-cents sum)
    * so the result is deterministic under ANY partitioning — the same
    * discipline as stableAvg.
    *
    * The query runs the q03 daily-mean aggregation as the carrier
    * (eager, the boundedPercentiles pattern) and RETURNS the observed
    * metrics as a one-row relation; the oracle recomputes them
    * directly, so the gate proves the ride-along counters equal a
    * dedicated audit query's.
    */
  def observeMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation(s"q61_${System.nanoTime()}")
    val ev = Tables.events(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        count(when(col("value") < 0, lit(1))).as("n_neg"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
    // the carrier: a real aggregation consumes the observed scan. The
    // action must go through the Dataset API (`collect`): metrics are
    // delivered by a QueryExecutionListener that only fires on Dataset
    // actions — a raw `queryExecution.toRdd.count()` bypasses it and
    // `obs.get` blocks forever
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .collect(): Unit
    val m = obs.get
    // min/max/sum observe as NULL on an empty scan (counts stay 0) —
    // carry the nulls through instead of unboxing, matching the
    // oracle's aggregate-over-empty behavior
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("n_neg", LongType, nullable = false),
      StructField("vmin", DoubleType), StructField("vmax", DoubleType),
      StructField("cents", LongType)))
    val row = Row(m("n_rows").asInstanceOf[Long], m("n_neg").asInstanceOf[Long],
      m("vmin").asInstanceOf[java.lang.Double], m("vmax").asInstanceOf[java.lang.Double],
      m("cents").asInstanceOf[java.lang.Long])
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
  }

  val oracleObserveMetrics: String =
    """SELECT count(*) AS n_rows,
      |       count(CASE WHEN value < 0 THEN 1 END) AS n_neg,
      |       min(value) AS vmin,
      |       max(value) AS vmax,
      |       sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS cents
      |FROM events""".stripMargin

  val oracleMadOutliers: String =
    s"""WITH med AS (
       |  SELECT event_type, quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY 1),
       |dev AS (
       |  SELECT e.event_type, med, abs(e.value - med) AS ad
       |  FROM events e JOIN med USING (event_type)),
       |mad AS (
       |  SELECT event_type, quantile_cont(ad, 0.5) AS mad
       |  FROM dev GROUP BY 1)
       |SELECT d.event_type, min(d.med) AS med, min(m.mad) AS mad,
       |       count(CASE WHEN d.ad > $RobustZCut * m.mad THEN 1 END) AS n_outliers,
       |       count(*) AS n
       |FROM dev d JOIN mad m USING (event_type)
       |GROUP BY d.event_type
       |ORDER BY d.event_type""".stripMargin

  /** q12 — JSON decode (F9, reference `api.py:104` request parsing):
    * `from_json` with a declared schema (never inferred), then use the
    * extracted field relationally.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val propsSchema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, dir)
      .withColumn("p", from_json(col("props"), propsSchema))
      .select(col("event_type"), (col("p.k") % 10).as("k_bucket"))
      .groupBy("event_type", "k_bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "k_bucket")
  }

  /** q39 — MULTISET set operations (`intersectAll`/`exceptAll`,
    * §2.7's bag semantics leg — q20 covers the distinct-set forms):
    * customer keys of urgent orders vs big orders, multiplicities
    * preserved. Spark plans these as aggregate+generate over a
    * count-tagged union — still one keyed shuffle, no distinct
    * pre-pass.
    */
  def multisetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val big = orders.filter(col("o_totalprice") > 150000.0)
      .select("o_custkey")
    urgent.intersectAll(big).withColumn("tag", lit("urgent_and_big_all"))
      .unionAll(urgent.exceptAll(big).withColumn("tag", lit("urgent_only_all")))
      .orderBy("o_custkey", "tag")
  }

  val oracleMultisetOps: String =
    """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
      |SELECT o_custkey, 'urgent_and_big_all' AS tag
      |FROM (SELECT o_custkey FROM urgent INTERSECT ALL SELECT o_custkey FROM big)
      |UNION ALL
      |SELECT o_custkey, 'urgent_only_all' AS tag
      |FROM (SELECT o_custkey FROM urgent EXCEPT ALL SELECT o_custkey FROM big)
      |ORDER BY o_custkey, tag""".stripMargin

  /** q40 — unpivot (melt): the wide per-day event matrix (q19's shape)
    * back to long (d, metric, total) rows. `Dataset.unpivot` is a
    * single Expand over the wide relation — map-side, no shuffle
    * beyond the wide aggregation itself. The wide side coalesces
    * nulls to 0 first, so Spark's keep-null melt and DuckDB's
    * drop-null UNPIVOT agree row-for-row.
    */
  def unpivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val typeCols = types.map(t =>
      coalesce(round(sum(when(col("event_type") === t, col("value"))), 2), lit(0.0)).as(t))
    val wide = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(typeCols.head, typeCols.tail: _*)
    wide.unpivot(Array(col("d")), types.map(col).toArray, "metric", "total")
      .orderBy("d", "metric")
  }

  /** q41 — statistical mode + DISCRETE quantiles per group. Neither
    * engine's native `mode()` defines tie order, so the mode is spelled
    * as count-desc/value-asc row_number over the pre-aggregated value
    * histogram — deterministic in both engines. percentile_disc(q) =
    * smallest value whose cumulative count reaches q·total, tested in
    * INTEGER arithmetic (`running·k ≥ total·m`), no float thresholds.
    * Cost: one histogram aggregate (the only shuffle of the raw
    * relation — value domains are small after grouping), then windows
    * over the tiny histogram.
    */
  def modeDisc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("c"))
    val wMode = Window.partitionBy("l_returnflag")
      .orderBy(col("c").desc, col("l_quantity").asc)
    val mode = counts
      .withColumn("rn", row_number().over(wMode)).filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("c").as("mode_n"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("l_returnflag")
    val disc = counts
      .withColumn("running", sum("c").over(wCum))
      .withColumn("total", sum("c").over(wTot))
      .groupBy("l_returnflag")
      .agg(
        min(when(col("running") * 2 >= col("total"), col("l_quantity"))).as("p50_disc"),
        min(when(col("running") * 10 >= col("total") * 9, col("l_quantity"))).as("p90_disc"))
    mode.join(disc, "l_returnflag").orderBy("l_returnflag")
  }

  val oracleModeDisc: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_quantity, count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_n,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY c DESC, l_quantity) AS rn
      |  FROM c),
      |r AS (
      |  SELECT l_returnflag, l_quantity, c,
      |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS running,
      |         sum(c) OVER (PARTITION BY l_returnflag) AS total
      |  FROM c),
      |d AS (
      |  SELECT l_returnflag,
      |         min(CASE WHEN running * 2 >= total THEN l_quantity END) AS p50_disc,
      |         min(CASE WHEN running * 10 >= total * 9 THEN l_quantity END) AS p90_disc
      |  FROM r GROUP BY 1)
      |SELECT m.l_returnflag, mode_qty, mode_n, p50_disc, p90_disc
      |FROM m JOIN d USING (l_returnflag)
      |WHERE rn = 1
      |ORDER BY 1""".stripMargin

  /** q46 — data-quality profiling: per-column null and distinct counts
    * over lineitem in ONE aggregate pass, stacked to long (column,
    * n_rows, n_null, n_distinct) rows — the audit a pipeline runs
    * before trusting a new extract. Multiple exact distincts plan as a
    * single Expand + aggregate (one shuffle, k× map output for k
    * columns) — the priciest fact-table pass in the suite (72 s at the
    * 100× stress fixture), and a pure deterministic function of the
    * corpus, i.e. an INDEX artifact staged via [[Staging.index]] like
    * lang_scores/ivf_assign: every audit read after the first is a
    * metadata-sized scan. At 100 TB you'd
    * additionally swap `count_distinct` for the d16 KMV estimate
    * column by column — the plan shape is identical; exact counts are
    * kept here because the extract audit is the one place the exact
    * number is the point.
    */
  private val ProfileCols =
    Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate")

  private[graft] def profileIndex(spark: SparkSession, dir: String): DataFrame = {
    val loc = Staging.index(dir, "profile") {
      // one aggregate per column, unioned — NOT five count_distincts in
      // one agg: multiple exact distinct aggregates plan as an Expand
      // that multiplies every fact row by (n_distinct_aggs + 1) before
      // the shuffle (6x row mass here — 74 s of the 184 s cold 100x
      // staging). Per column the two-level hash agg collapses to
      // distinct values map-side and each scan prunes to that one
      // parquet column, so the five legs together read about one
      // table's worth of bytes and shuffle only distinct values.
      val legs = ProfileCols.map { c =>
        Tables.lineitem(spark, dir)
          .select(col(c).as("v"))
          .groupBy("v").agg(count(lit(1)).as("cnt"))
          .agg(sum("cnt").as("n_rows"),
            coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
            // grouped rows = one per distinct value; count(v) skips the
            // null group, matching count_distinct semantics
            count(col("v")).as("n_distinct"))
          .select(lit(c).as("column"), col("n_rows"), col("n_null"), col("n_distinct"))
      }
      legs.reduce(_ unionByName _)
    }
    Tables.parquet(spark, loc)
  }

  def profile(spark: SparkSession, dir: String): DataFrame =
    profileIndex(spark, dir).orderBy("column")

  /** q49 — recursive CTE (the Spark 4 `WITH RECURSIVE` surface; DuckDB
    * states the identical recursion): hierarchy traversal over a
    * deterministic binary tree on the dense part keys (parent(k) =
    * k div 2, root = 1), emitting each part's depth, ancestor-chain
    * length, and the retail-price total along its chain.
    *
    * Scale shape: each recursion round is one keyed self-reference of
    * the previous frontier — rows shrink geometrically and the depth
    * bound is log₂(maxkey) (~11 here), so the plan is O(log n) keyed
    * stages, never a driver loop; the ancestor→part join is a plain
    * equi-join on the part key.
    */
  def recursiveHierarchy(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("part_v")
    spark.sql(
      """WITH RECURSIVE anc(key, anc_key, depth) AS (
        |  SELECT p_partkey, p_partkey, 0 FROM part_v
        |  UNION ALL
        |  SELECT key, anc_key DIV 2, depth + 1 FROM anc WHERE anc_key > 1
        |)
        |SELECT a.key AS p_partkey,
        |       max(a.depth) AS depth,
        |       count(*) AS chain_len,
        |       round(sum(p.p_retailprice), 2) AS chain_price
        |FROM anc a JOIN part_v p ON a.anc_key = p.p_partkey
        |GROUP BY a.key
        |ORDER BY p_partkey""".stripMargin)
  }

  /** q50 — correlated LATERAL subquery (top-k rows PER outer row): for
    * each nation, its top-3 customers by account balance, written the
    * way an analyst writes it — an ORDER BY … LIMIT subquery that
    * references the outer row. Catalyst decorrelates the lateral into a
    * window rank over an equi-join (`DecorrelateInnerQuery`), so the
    * plan is the same one-shuffle shape as a hand-written
    * `row_number() OVER (PARTITION BY …)` — no nested loop, no
    * per-outer-row re-execution. Ties on balance break on the unique
    * customer name, keeping the pick deterministic in both engines.
    */
  def lateralTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("nation_v")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation_v n,
        |LATERAL (SELECT c_name, c_acctbal
        |         FROM customer_v c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name
        |         LIMIT 3) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
  }

  /** q53 — FULL OUTER reconciliation (the two-systems audit): per
    * (user, day), purchase activity from one "system" against error
    * activity from the other, keeping rows that exist on either side
    * and tagging each as both / purchase_only / error_only — the daily
    * ledger-vs-ledger comparison every warehouse runs.
    *
    * Scale shape: a full outer join can never broadcast (both sides
    * must surface unmatched rows), so the plan question is whether it
    * adds exchanges. Here it doesn't: each leg is already a partial →
    * final aggregate SHUFFLED ON THE JOIN KEY (user_id, day), so the
    * sort-merge full outer reuses both legs' partitioning —
    * plan-asserted as exactly two hash exchanges (one per leg), join
    * exchange-free. Counts are BIGINTs; `coalesce(.., 0)` pins the
    * absent side, and the match tag is derived from pre-coalesce
    * nullness.
    */
  def outerReconcile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    def leg(t: String, n: String): DataFrame =
      ev.filter(col("event_type") === t)
        .groupBy("user_id", "day").agg(count(lit(1)).as(n))
    leg("purchase", "n_purchase")
      .join(leg("error", "n_error"), Seq("user_id", "day"), "full_outer")
      .select(col("user_id"), col("day"),
        when(col("n_purchase").isNotNull && col("n_error").isNotNull, lit("both"))
          .when(col("n_purchase").isNotNull, lit("purchase_only"))
          .otherwise(lit("error_only")).as("status"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("n_error"), lit(0L)).as("n_error"))
      .orderBy("user_id", "day")
  }

  val oracleOuterReconcile: String =
    """WITH p AS (
      |  SELECT user_id, (ts::TIMESTAMP)::DATE AS day, count(*) AS n_purchase
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |e AS (
      |  SELECT user_id, (ts::TIMESTAMP)::DATE AS day, count(*) AS n_error
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT coalesce(p.user_id, e.user_id) AS user_id,
      |       coalesce(p.day, e.day) AS day,
      |       CASE WHEN p.user_id IS NOT NULL AND e.user_id IS NOT NULL THEN 'both'
      |            WHEN p.user_id IS NOT NULL THEN 'purchase_only'
      |            ELSE 'error_only' END AS status,
      |       coalesce(n_purchase, 0) AS n_purchase,
      |       coalesce(n_error, 0) AS n_error
      |FROM p FULL OUTER JOIN e ON p.user_id = e.user_id AND p.day = e.day
      |ORDER BY user_id, day""".stripMargin

  val oracleLateralTopPerGroup: String =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_name, c_acctbal
      |         FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_name
      |         LIMIT 3) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin

  val oracleRecursiveHierarchy: String =
    """WITH RECURSIVE anc(key, anc_key, depth) AS (
      |  SELECT p_partkey, p_partkey, 0 FROM part
      |  UNION ALL
      |  SELECT key, anc_key // 2, depth + 1 FROM anc WHERE anc_key > 1
      |)
      |SELECT a.key AS p_partkey,
      |  max(a.depth)::INT AS depth,
      |  count(*) AS chain_len,
      |  round(sum(p.p_retailprice), 2) AS chain_price
      |FROM anc a JOIN part p ON a.anc_key = p.p_partkey
      |GROUP BY a.key
      |ORDER BY p_partkey""".stripMargin

  val oracleProfile: String = {
    val metrics = ProfileCols.map(c =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_$c, " +
      s"count(DISTINCT $c) AS dist_$c").mkString(",\n         ")
    val legs = ProfileCols.map(c =>
      s"""SELECT '$c' AS "column", n_rows, null_$c AS n_null, dist_$c AS n_distinct FROM a""")
      .mkString("\n|UNION ALL ")
    s"""WITH a AS (
       |  SELECT count(*) AS n_rows,
       |         $metrics
       |  FROM lineitem)
       |$legs
       |ORDER BY "column"""".stripMargin
  }

  val oracleUnpivotDaily: String =
    """WITH wide AS (
      |  SELECT (ts::TIMESTAMP)::DATE AS d,
      |    coalesce(round(sum(value) FILTER (event_type = 'click'), 2), 0.0)    AS click,
      |    coalesce(round(sum(value) FILTER (event_type = 'error'), 2), 0.0)    AS error,
      |    coalesce(round(sum(value) FILTER (event_type = 'purchase'), 2), 0.0) AS purchase,
      |    coalesce(round(sum(value) FILTER (event_type = 'signup'), 2), 0.0)   AS signup,
      |    coalesce(round(sum(value) FILTER (event_type = 'view'), 2), 0.0)     AS view
      |  FROM events
      |  GROUP BY 1)
      |SELECT d, metric, total
      |FROM wide UNPIVOT (total FOR metric IN (click, error, purchase, signup, view))
      |ORDER BY d, metric""".stripMargin
}
