package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class QueryTraceSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}

  private def exec(df: DataFrame): Unit = df.queryExecution.toRdd.count(): Unit

  /** Counts every job started while it is registered, and the jobs per
    * job description — an attribution independent of the trace's tags.
    */
  private final class JobCounter extends SparkListener {
    val all = new AtomicInteger
    val byDescription = TrieMap.empty[String, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      all.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .foreach(d => byDescription(d) = byDescription.getOrElse(d, 0) + 1)
    }
  }

  /** Trace the named queries (all at once, one thread each, when
    * `parallel`); each thread labels its jobs with the query name as
    * the job description. Returns the summaries by name and the
    * counter, which has seen every job the window started plus the
    * trace's one fence job.
    */
  private def traced(names: Seq[String], parallel: Boolean = false)
      : (Map[String, QueryTrace.Summary], JobCounter) = {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val trace = QueryTrace.register(spark)
    def one(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try trace.run(name)(SparkEntry.queries(name)(spark, Sf))(exec)
      finally spark.sparkContext.setJobDescription(null)
    }
    try {
      if (parallel) {
        val threads = names.map(n => new Thread(() => one(n)))
        threads.foreach(_.start())
        threads.foreach(_.join())
      } else names.foreach(one)
      trace.flush()
      (trace.summaries.map(s => s.name -> s).toMap, counter)
    } finally {
      trace.close()
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  private def jobs(s: QueryTrace.Summary): Int =
    s.jobs(QueryTrace.Construct) + s.jobs(QueryTrace.Execute)

  test("a batch query and a map-only pre-sort query each get their own jobs, stages and tasks") {
    val names = Seq("q13_price", "d04_simhash", "t16_dup_spans")
    val (sums, counter) = traced(names)
    for (name <- names) {
      val s = sums(name)
      assert(s.jobs(QueryTrace.Execute) > 0, name)
      assert(jobs(s) == counter.byDescription(name), name)
      assert(s.stages > 0 && s.totals("tasks") >= s.stages, name)
      assert(s.topStages.nonEmpty && s.topStages.forall(_.name.nonEmpty), name)
      assert(s.totals("executor_run_s") >= 0 && s.totals("task_skew") >= 1.0, name)
      assert(s.planningMs.keySet == Set("analysis", "optimization", "planning"), name)
      assert(s.secs.keySet == Set(QueryTrace.Construct, QueryTrace.Execute), name)
      assert(s.stream.isEmpty, name)
    }
    // construct + execute jobs are all the window's jobs (but the fence)
    assert(sums.values.map(jobs).sum == counter.all.get - 1)
    // the pre-sort guard builds the plan without running it, also over
    // the exchanges below t16's guard
    for (name <- Seq("d04_simhash", "t16_dup_spans"))
      assert(sums(name).jobs(QueryTrace.Construct) == 0, name)
  }

  test("a streaming leg in a child session gets its trigger count and phase sums") {
    val (sums, counter) = traced(Seq("s01_stream_daily"))
    val s = sums("s01_stream_daily")
    val t = s.stream.getOrElse(fail("no streaming progress attributed"))
    assert(t.triggers > 0 && t.p95Ms <= t.maxMs)
    assert(t.phaseSumsMs.keySet.contains("addBatch"))
    assert(t.phaseSumsMs("triggerExecution") >= t.phaseSumsMs("addBatch"))
    assert(s.jobs(QueryTrace.Construct) > 0) // the micro-batches drain while the DataFrame is built
    assert(jobs(s) == counter.all.get - 1)
    val js = QueryTrace.json(s)
    for (k <- Seq("construct_s", "execute_s", "construct_jobs", "execute_jobs", "stages", "tasks",
        "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "task_skew", "planning_ms", "top_stages", "job_sites", "stream",
        "triggers", "trigger_p95_ms", "trigger_max_ms", "phase_sums_ms"))
      assert(js.contains("\"" + k + "\":"), k)
  }

  test("two queries run at the same time on two threads are each attributed only their own jobs") {
    val names = Seq("q13_price", "d04_simhash")
    val (sums, counter) = traced(names, parallel = true)
    for (name <- names) {
      assert(jobs(sums(name)) == counter.byDescription(name), name)
      assert(sums(name).totals("tasks") > 0, name)
    }
    assert(names.map(n => jobs(sums(n))).sum == counter.all.get - 1)
  }

  /** Trace `runs` (name, exec) in order; the plan each one ran. */
  private def plans(runs: (String, DataFrame => Unit)*): Seq[QueryTrace.Plan] = {
    val trace = QueryTrace.register(spark)
    try {
      runs.foreach { case (name, ex) => trace.run(name)(SparkEntry.queries(name)(spark, Sf))(ex) }
      trace.summaries.map(s => s.plan.getOrElse(fail(s"no plan read for ${s.name}")))
    } finally trace.close()
  }

  test("the plan a query ran is counted over its nodes, and its digest is stable") {
    val Seq(a, b, other) = plans("q11_join_revenue" -> exec, "q11_join_revenue" -> exec, "q02_group_mean" -> exec)
    assert(a.broadcasts >= 1 && a.joins.contains("BroadcastHashJoin") && a.codegenSpans >= 1 && a.pushedFilters, a)
    // each shuffle once, as its query stage: the tree string prints its
    // exchange again under the initial plan
    assert(a.shuffles >= 1 && a.shuffles + a.reused == "ShuffleQueryStage".r.findAllIn(a.text).size, a.text)
    assert("Exchange (hash|range)partitioning".r.findAllIn(a.text).size == 2 * a.shuffles, a.text)
    assert(a.text.startsWith("AdaptiveSparkPlan isFinalPlan=true"), a.text)
    assert(a.digest == b.digest && a.text == b.text)
    assert(a.digest != other.digest)
  }

  test("a persisted exec's plan is the cached plan that built the cache") {
    SparkTestBase.withTempDir("graft_trace") { dir =>
      val Seq(p) = plans("q11_join_revenue" -> { (df: DataFrame) =>
        df.persist()
        df.count()
        df.coalesce(1).write.parquet(dir.resolve("out").toString)
      })
      spark.catalog.clearCache()
      assert(p.text.startsWith("AdaptiveSparkPlan isFinalPlan=true"), p.text)
      assert(p.shuffles >= 1 && p.broadcasts >= 1 && p.joins.contains("BroadcastHashJoin"), p)
      assert(!p.text.contains("InMemoryRelation"), p.text)
    }
  }

  test("a cached relation's plan is printed once however often the plan scans it") {
    val cached = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().cache()
    try {
      val df = cached.union(cached.filter("k > 2")).union(cached.filter("k < 5"))
      exec(df)
      val p = QueryTrace.Plan.of(df)
      val lines = p.text.linesIterator.toIndexedSeq
      // three scans, in the final and in the initial plan: six
      // relation lines, one with the cached plan under it
      val refs = lines.flatMap(l => """\(plan as at line (\d+)\)$""".r.findFirstMatchIn(l).map(_.group(1).toInt))
      assert(lines.count(_.contains("InMemoryRelation")) == 6 && refs.size == 5, p.text)
      assert(refs.distinct.size == 1 && lines(refs.head - 1).contains("InMemoryRelation"), p.text)
      assert(lines.count(_.contains("Range (0, 1000")) == 2, p.text) // its final and initial plan
      // the counts are of plan nodes, where a cached relation is one
      // scan, not of printed lines
      assert(p.shuffles == 0 && p.codegenSpans >= 1, p)
      assert(p == QueryTrace.Plan.of(df))
    } finally cached.unpersist()
  }

  test("a long array literal prints as its value count and a hash, and two literals digest apart") {
    import org.apache.spark.sql.functions.{array_contains, col, typedLit}
    def plan(from: Int): QueryTrace.Plan = {
      val codebook = typedLit((from until from + 400).map(_.toDouble))
      val df = spark.range(0, 10, 1, 1).select(array_contains(codebook, col("id").cast("double")).as("hit"))
      exec(df)
      QueryTrace.Plan.of(df)
    }
    val (a, b) = (plan(0), plan(1))
    assert(a.text.contains("[400 values sha ") && !a.text.contains("0.0,1.0,2.0"), a.text)
    assert(a.text.length < 2000, a.text)
    assert(a.digest != b.digest)
    assert(plan(0) == a)
  }
}
