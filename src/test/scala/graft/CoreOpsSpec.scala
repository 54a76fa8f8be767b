package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.{CoreOps, Pricing}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ComputeOnceStrategy, SessionBridge}
import org.scalatest.funsuite.AnyFunSuite

class CoreOpsSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has rows and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    // oracle coverage is TOTAL: every query — including the d16/d16b
    // sketch pair, whose KMV estimates derive from the portable hash so
    // estimate AND 15%-bound boolean hash-match — checks against DuckDB
    assert(qs.keySet -- SparkEntry.oracleSql.keySet == Set.empty[String])
  }

  test("sortedOnce builds the plan without a job and computes each row once") {
    val n = 20000L
    val sc = spark.sparkContext
    // the counting UDF straight over a scan, and above a groupBy
    // exchange (AQE on), whose reduce side the sort's sampling job and
    // its shuffle would otherwise both run
    val aqe = LocalSession.scoped(spark, "spark.sql.adaptive.enabled" -> "true")
    val inputs = Seq[(String, UserDefinedFunction => DataFrame)](
      "scan" -> (c => spark.range(0, n, 1, 8).select(c(lit(n) - col("id")).as("k"))),
      "groupBy" -> (c => aqe.range(0, n, 1, 8).groupBy((col("id") % n).as("id")).count()
        .select(c(lit(n) - col("id")).as("k"))))
    inputs.foreach { case (input, frame) =>
      val evals = sc.longAccumulator(s"sortedOnce child rows, $input")
      val counted = udf { (x: Long) => evals.add(1); x }
      val jobs = new AtomicInteger
      val fenceTag = "sorted-once-fence"
      val fence = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.job.tags", "").contains(fenceTag)))
            fence.countDown()
          else jobs.incrementAndGet(): Unit
      }
      sc.addSparkListener(listener)
      val sorted = try {
        val df = CoreOps.sortedOnce(frame(counted), "k")
        // a last job: once the listener sees it, it has seen every earlier one
        sc.addJobTag(fenceTag)
        try sc.parallelize(Seq(0), 1).foreach(_ => ())
        finally sc.removeJobTag(fenceTag)
        assert(fence.await(60, TimeUnit.SECONDS), "the listener bus did not drain")
        df
      } finally sc.removeSparkListener(listener)
      assert(jobs.get == 0, s"$input: building the guarded sort ran ${jobs.get} jobs")
      assert(evals.value == 0L, input)
      val ks = sorted.collect().map(_.getLong(0))
      assert(ks.toSeq == (1L to n), input)
      assert(evals.value == n, s"$input: the sort's child was not computed exactly once per row")
      val plan = sorted.queryExecution.executedPlan.toString
      assert(plan.contains("ComputeOnce") && !plan.contains("ExistingRDD"), s"$input:\n$plan")
    }
  }

  test("sortedOnce on a new session's threads adds its strategy once") {
    val fresh = spark.newSession()
    // a guarded plan on a session without the strategy fails to plan
    val guarded = SessionBridge.rebind(fresh, CoreOps.sortedOnce(spark.range(3).toDF("k"), "k"))
    val err = intercept[Throwable](guarded.collect())
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("No plan for ComputeOnce")), err)
    val frame = fresh.range(0, 1000, 1, 4).select((lit(1000L) - col("id")).as("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results = try {
      val start = new CountDownLatch(1)
      val futures = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        CoreOps.sortedOnce(frame, "k").collect().map(_.getLong(0)).toSeq
      }))
      start.countDown()
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    results.foreach(ks => assert(ks == (1L to 1000L)))
    val strategies = fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraStrategies
    assert(strategies.count(_ == ComputeOnceStrategy) == 1, strategies)
  }

  test("q49: recursive CTE walks each key to the root in exactly floor(log2(key)) steps") {
    val rows = CoreOps.recursiveHierarchy(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val key = r.getLong(0)
      val depth = r.getInt(1)
      val chainLen = r.getLong(2)
      val expected =
        if (key <= 1) 0 else (63 - java.lang.Long.numberOfLeadingZeros(key)).toInt
      assert(depth == expected, s"key $key depth $depth != $expected")
      assert(chainLen == depth + 1L, s"key $key chain $chainLen")
    }
  }

  test("q50: lateral top-3 equals the window-rank formulation") {
    val lateral = CoreOps.lateralTopPerGroup(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val n = graft.tables.Tables.nation(spark, Sf)
    val c = graft.tables.Tables.customer(spark, Sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_nationkey").orderBy(col("c_acctbal").desc, col("c_name"))
    val expected = n.join(c, n("n_nationkey") === c("c_nationkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("n_name", "c_name", "c_acctbal")
      .orderBy(col("n_name"), col("c_acctbal").desc, col("c_name"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(lateral.nonEmpty)
    assert(lateral.toSeq == expected.toSeq)
  }

  test("t15: the integer logit agrees with a driver-side recount and gates keep") {
    val docs = graft.tables.Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = graft.llm.TextStats.qualityLogit(spark, Sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val toks = "[a-z0-9]+".r.findAllIn(docs(r.getLong(0)).toLowerCase).toSeq
      val nWords = toks.length
      val nStop = toks.count(graft.llm.TextStats.Stopwords.contains)
      val alnum = toks.map(_.length).sum
      val stopPm = if (nWords > 0) nStop * 1000 / nWords else 0
      val mtlX10 = if (nWords > 0) alnum * 10 / nWords else 0
      val logit = -3000L + 10L * stopPm + 4L * math.min(nWords, 500) + 10L * mtlX10
      assert(r.getInt(1) == nWords && r.getInt(2) == nStop && r.getInt(3) == alnum)
      assert(r.getInt(4) == stopPm && r.getInt(5) == mtlX10)
      assert(r.getLong(6) == logit, s"doc ${r.getLong(0)} logit")
      assert(r.getBoolean(7) == (logit > 0))
    }
    // the boundary actually separates: both classes occur in the fixture
    val kept = rows.count(_.getBoolean(7))
    assert(kept > 0 && kept < rows.length, s"degenerate classifier: $kept/${rows.length}")
  }

  test("q51 gap-fill: runs are dense, carried values match the last observation") {
    val rows = ops.WindowOps.gapFill(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, series) =>
      val days = series.map(_._2).sortBy(_.toEpochDay)
      // every day between first and last purchase is present exactly once
      assert(days.distinct.length == days.length)
      assert(days.last.toEpochDay - days.head.toEpochDay + 1 == days.length)
      // endpoints are observations, and a gap day carries its
      // predecessor's value
      val byDay = series.map(s => s._2 -> s).toMap
      assert(!byDay(days.head)._4 && !byDay(days.last)._4)
      series.foreach { case (_, d, v, gap) =>
        if (gap) assert(v == byDay(d.minusDays(1))._3, s"gap $d broke the carry")
      }
    }
    // the fixture actually exercises filling
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("q53 full-outer reconcile: statuses match nullness and all three classes occur") {
    val rows = ops.CoreOps.outerReconcile(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // key uniqueness: one row per (user, day) from either side
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    rows.foreach { case (_, _, status, np, ne) =>
      status match {
        case "both"          => assert(np > 0 && ne > 0)
        case "purchase_only" => assert(np > 0 && ne == 0)
        case "error_only"    => assert(np == 0 && ne > 0)
        case other           => fail(s"unknown status $other")
      }
    }
    val classes = rows.map(_._3).toSet
    assert(classes == Set("both", "purchase_only", "error_only"),
      s"fixture must exercise every match class, got $classes")
  }

  test("q34 grouping sets: only the declared marginals, and they reconcile") {
    val rows = CoreOps.groupingSetsRevenue(spark, Sf).collect()
    val gids = rows.map(_.getInt(4)).toSet
    assert(gids == Set(1, 2, 3), s"unexpected grouping ids: $gids") // never gid=0 (the pair)
    val byGid = rows.groupBy(_.getInt(4))
    val grand = byGid(3).map(_.getLong(3)).sum
    assert(byGid(1).map(_.getLong(3)).sum == grand) // yr marginal sums to grand total
    assert(byGid(2).map(_.getLong(3)).sum == grand) // nation marginal too
  }

  test("t10 repetition: in-row metrics agree with a driver-side recount") {
    val docs = graft.tables.Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.llm.TextStats.repetition(spark, Sf).collect().foreach { r =>
      val ws = docs(r.getLong(0)).split(" ", -1)
      assert(r.getInt(1) == ws.length)
      assert(r.getInt(2) == ws.length - 2) // n_trigrams
      val tris = ws.sliding(3).map(_.mkString(" ")).toSeq
      assert(r.getInt(3) == tris.distinct.length)
      assert(r.getInt(4) == ws.groupBy(identity).values.map(_.length).max)
      val keepExpected =
        r.getDouble(5) <= 0.02 && r.getDouble(6) <= 0.15
      assert(r.getInt(7) == (if (keepExpected) 1 else 0))
    }
  }

  test("q35 bloom pre-filter changes no results and passes every true match") {
    import spark.implicits._
    // the filtered result must equal the plain (no-bloom) join exactly
    val expected = graft.tables.Tables.lineitem(spark, Sf)
      .join(graft.tables.Tables.orders(spark, Sf)
          .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 280000.0),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val got = graft.ops.RuntimeFilter.bloomJoinRevenue(spark, Sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == expected)
    // and the expression itself: zero false negatives on a known key set
    val keys = Seq(1L, 42L, 9999L).toDF("k")
    val bloom = keys.stat.bloomFilter("k", 3, 0.01)
    val probe = Seq(1L, 42L, 9999L, 7L).toDF("k")
      .select(col("k"), graft.expr.BloomExpressions.mightContain(bloom, col("k")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(probe(1L) && probe(42L) && probe(9999L)) // membership is never missed
  }

  test("as-of join: inclusive at equal ts, latest-prior ref wins, no-ref probes null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val probe = Seq(
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 1L, 1.0),
      (11L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, 2.0), // equal-ts with ref 101
      (12L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 2L, 3.0)  // before any ref
    ).toDF("event_id", "ts", "user_id", "value").withColumn("ord", col("event_id"))
    val ref = Seq(
      (100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L, 10.0),
      (101L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, 20.0),
      (102L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, 30.0), // same ts, higher id wins
      (103L, java.sql.Timestamp.valueOf("2024-01-01 00:00:09"), 2L, 40.0)
    ).toDF("ref_event_id", "ts", "user_id", "ref_value")
      .select(col("user_id"), col("ts"), col("ref_event_id").as("ord"),
        col("ref_event_id"), col("ref_value"))
    val out = graft.ops.AsOfJoin.asOf(probe, ref, "user_id", "ts", "ord",
        Seq("ref_event_id", "ref_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("ref_event_id")))).toMap
    assert(out(10L).contains(102L)) // latest prior (ties at 00:02 → max id)
    assert(out(11L).contains(102L)) // inclusive: ref at the same instant matches
    assert(out(12L).isEmpty)        // ref exists only in the future
  }

  test("golden price example from the pricing notice") {
    // reference `docs/Notice technique.htm` worked example: yearly
    // consumption x = 8200 kWh, alpha=1.1, M=0.012
    // → (0.1558 + 1.1*0.012)*8200/12 + 6 ≈ 121.5 €/month
    import spark.implicits._
    val price = Seq(8200.0).toDF("x")
      .select(Pricing.monthlyPrice(lit(1.1), lit(0.012), col("x")).as("price"))
      .head().getDouble(0)
    assert(math.abs(price - 121.5) < 0.06, s"got $price")
  }

  test("household consumption estimate matches the reference formula") {
    // reference api.py:111-115: 110·m² + 800·p + 200·p + 1100
    import spark.implicits._
    val x = Seq((50, 2)).toDF("nb_m2", "nb_personne")
      .select(Pricing.consoFoyer(col("nb_m2"), col("nb_personne")).as("x"))
      .head().getDouble(0)
    assert(x == 110.0 * 50 + 800.0 * 2 + 200.0 * 2 + 1100.0)
  }

  test("clamp matches reference min/max chains at the edges") {
    import spark.implicits._
    val rows = Seq(0.5, 1.0, 1.15, 1.3, 2.0).toDF("x")
      .select(Pricing.clamp(col("x"), 1.0, 1.3).as("c")).as[Double].collect()
    assert(rows.toSeq == Seq(1.0, 1.0, 1.15, 1.3, 1.3))
  }

  test("union-all preserves multiplicity (no dedup)") {
    val li = graft.tables.Tables.lineitem(spark, Sf)
    val expected = li.filter(col("l_returnflag").isin("A", "N")).count()
    assert(CoreOps.unionAll(spark, Sf).count() == expected)
  }

  test("trailing mean uses a data-derived anchor, not wall-clock") {
    // reference bug F4: current_date() captured at import time; ours
    // anchors on max(ts), so the result is stable across runs/days
    val r1 = CoreOps.trailingMean(spark, Sf).head()
    val r2 = CoreOps.trailingMean(spark, Sf).head()
    assert(r1 == r2)
  }

  test("q61 observed metrics equal a dedicated audit aggregation") {
    val got = ops.CoreOps.observeMetrics(spark, Sf).head()
    val want = graft.tables.Tables.events(spark, Sf)
      .agg(count(lit(1)), count(when(col("value") < 0, lit(1))),
        min("value"), max("value"),
        sum(floor(col("value") * 100).cast("long")))
      .head()
    assert(got.getLong(0) == want.getLong(0) && got.getLong(1) == want.getLong(1))
    assert(got.getDouble(2) == want.getDouble(2) && got.getDouble(3) == want.getDouble(3))
    assert(got.getLong(4) == want.getLong(4))
    assert(got.getLong(0) > 0)
  }

  test("yoy alpha stays inside [1.0, 1.3] and is null only for last year") {
    val rows = ops.WindowOps.yoyAlpha(spark, Sf).collect()
    val byPriority = rows.groupBy(_.getString(0))
    byPriority.values.foreach { grp =>
      val sorted = grp.sortBy(_.getInt(1))
      sorted.dropRight(1).foreach { r =>
        val a = r.getDouble(3)
        assert(a >= 1.0 && a <= 1.3, s"alpha out of range: $r")
      }
      assert(sorted.last.isNullAt(3), "final year must have null alpha")
    }
  }
}
