package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.{FileSourceScanLike, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query execution trace on Spark's listener bus.
  *
  * [[run]] executes one declared query in two phases — `construct`
  * (the query function builds the DataFrame, which may already run
  * jobs: staged-index builds, eager checkpoints, drained streaming
  * legs) and `execute` (the caller's action on the result). Each phase
  * tags its thread's jobs with a unique `SparkContext.addJobTag` tag,
  * and the listener attributes every job, stage and task to its query
  * from the tag in the job's properties, never from wall-clock
  * windows: two queries on two threads are attributed only their own
  * jobs. Threads started inside a phase inherit the tag, so a
  * streaming leg's micro-batch jobs in a child session are the
  * query's too; those jobs also carry `sql.streaming.queryId`, which
  * links the stream's progress events (posted on the shared bus by
  * every session) to the query.
  *
  * Stages and jobs are named by call site: the engine frame that ran
  * the SQL action (`Dataset.localCheckpoint`, a write, a collect) when
  * the job belongs to one — AQE runs query stages on a pool thread
  * whose own Spark call site names no engine code — else Spark's
  * stage name.
  *
  * When `exec` returns, the physical plan it ran is read once into
  * [[Plan]] facts, counted over plan nodes, and a digest of its
  * normalized tree string: `df`'s own AQE-final plan, or, when `exec`
  * persisted `df`, the cached relation's plan that built the cache.
  * `exec` must therefore run `df.queryExecution` itself (as
  * `toRdd.count` does) or persist `df` and leave it cached.
  *
  * Listener delivery is asynchronous: call [[flush]] before reading
  * [[summaries]].
  */
final class QueryTrace private (sc: SparkContext) extends SparkListener {
  import QueryTrace._

  private val nextId = new AtomicLong()
  private val recs = new ConcurrentLinkedQueue[Rec]()
  // job tag -> (query, phase); stage id -> owner; running SQL
  // execution id -> call site; streaming query id -> query;
  // fence tag -> latch
  private val byTag = new ConcurrentHashMap[String, (Rec, String)]()
  private val byStage = new ConcurrentHashMap[Int, Owner]()
  private val sqlSites = new ConcurrentHashMap[String, String]()
  private val byStream = new ConcurrentHashMap[String, Rec]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()

  /** Run one query: `build` constructs its DataFrame, `exec` executes
    * it, then the plan it ran is read. Exceptions propagate; the phases
    * that ran stay traced. Returns the seconds the plan read took, for
    * a timer around `run` to leave out.
    */
  def run(name: String)(build: => DataFrame)(exec: DataFrame => Unit): Double = {
    val rec = new Rec(name)
    recs.add(rec)
    val df = phase(rec, Construct)(build)
    try {
      phase(rec, Execute)(exec(df))
      val t0 = System.nanoTime()
      val plan = Plan.of(df)
      rec.synchronized(rec.plan = Some(plan))
      (System.nanoTime() - t0) / 1e9
    } finally rec.synchronized {
      rec.planningMs = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }
  }

  private def phase[T](rec: Rec, ph: String)(f: => T): T = {
    val tag = s"graft-trace-${nextId.incrementAndGet()}"
    byTag.put(tag, (rec, ph))
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try f
    finally {
      sc.removeJobTag(tag)
      rec.synchronized(rec.secs(ph) = (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Wait until the listener has seen every event posted so far: run
    * one tiny fenced job and wait for its start event, which the bus
    * delivers after everything the finished queries posted.
    */
  def flush(): Unit = {
    val tag = s"graft-trace-fence-${nextId.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    fences.put(tag, latch)
    sc.addJobTag(tag)
    try sc.parallelize(Seq(0), 1).foreach(_ => ())
    finally sc.removeJobTag(tag)
    latch.await(60, TimeUnit.SECONDS): Unit
    fences.remove(tag): Unit
  }

  /** One summary per traced query, in run order. */
  def summaries: Seq[Summary] = recs.asScala.toSeq.map(_.summary)

  /** The trace section of a record: every query's [[QueryTrace.json]] by name. */
  def section: String = {
    flush()
    obj(summaries.map(s => s.name -> QueryTrace.json(s)))
  }

  /** Detach from the listener bus. */
  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ts = Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsKey)))
      .map(_.split(",").toSeq).getOrElse(Nil)
    ts.flatMap(t => Option(fences.get(t))).foreach(_.countDown())
    ts.iterator.map(byTag.get).find(_ != null).foreach { case (rec, ph) =>
      val sqlSite = Option(e.properties.getProperty(SqlExecutionIdKey)).flatMap(id => Option(sqlSites.get(id)))
      e.stageInfos.foreach(s => byStage.putIfAbsent(s.stageId, Owner(rec, ph, sqlSite.getOrElse(s.name))))
      Option(e.properties.getProperty(StreamQueryIdKey)).foreach(byStream.put(_, rec))
      val site = sqlSite.getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      rec.synchronized {
        rec.jobs(ph) += 1
        rec.siteJobs(site) += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { case Owner(rec, _, _) =>
      rec.synchronized {
        rec.totals("tasks") += 1
        rec.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          Seq("executor_run_s" -> m.executorRunTime / 1e3, "executor_cpu_s" -> m.executorCpuTime / 1e9,
            "gc_s" -> m.jvmGCTime / 1e3, "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
            "input_bytes" -> m.inputMetrics.bytesRead.toDouble
          ).foreach { case (k, v) => rec.totals(k) += v }
          rec.stageRunMs(e.stageId) += m.executorRunTime
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(byStage.get(s.stageId)).foreach { case Owner(rec, ph, site) =>
      rec.synchronized {
        val d = rec.taskMs.remove(s.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        if (d.nonEmpty) {
          rec.stages += StageRow(s.stageId, site, ph, d.size,
            rec.stageRunMs.remove(s.stageId).getOrElse(0L) / 1e3)
          val med = d(d.size / 2)
          if (med > 0) rec.totals("task_skew") = math.max(rec.totals("task_skew"), d.last.toDouble / med)
        }
      }
    }
  }

  // streaming progress reaches the shared bus from every session,
  // including the per-query child sessions the streaming legs create
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      // the call site's long form: the last Spark frame, then the caller's
      x.details.linesIterator.find(l => !PlatformFrame.matches(l))
        .foreach(sqlSites.put(x.executionId.toString, _))
    case x: SparkListenerSQLExecutionEnd => sqlSites.remove(x.executionId.toString): Unit
    case p: StreamingQueryListener.QueryProgressEvent =>
      Option(byStream.get(p.progress.id.toString)).foreach { rec =>
        val d = p.progress.durationMs.asScala
        rec.synchronized {
          rec.triggerMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
          d.foreach { case (k, v) => rec.streamPhaseMs(k) += v.longValue }
        }
      }
    case _ => ()
  }
}

object QueryTrace {
  val Construct = "construct"
  val Execute = "execute"
  // the job properties Spark sets from `addJobTag` (comma-separated),
  // from a running stream (its query id) and from a SQL action
  private val JobTagsKey = "spark.job.tags"
  private val StreamQueryIdKey = "sql.streaming.queryId"
  private val SqlExecutionIdKey = "spark.sql.execution.id"
  private val PlatformFrame = """<unknown>|(org\.apache\.spark|scala|java|jdk)\..*""".r
  private val TopN = 5
  private val TotalKeys = Seq("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "task_skew")

  /** A trace registered on `spark`'s listener bus. */
  def register(spark: org.apache.spark.sql.SparkSession): QueryTrace = {
    val t = new QueryTrace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  private final case class Owner(rec: Rec, phase: String, site: String)

  final case class StageRow(stage: Int, name: String, phase: String, tasks: Int, runS: Double)

  final case class Stream(triggers: Int, p95Ms: Long, maxMs: Long, phaseSumsMs: Map[String, Long])

  /** Facts of the physical plan a query ran, counted over its nodes
    * through AQE's query stages and subqueries, so each exchange counts
    * once (a cached relation's own plan is one scan here). `text` is the
    * tree string with the ids that differ between runs of one plan
    * normalized: expression, lambda, codegen-stage, plan and query-stage
    * ids (AQE numbers stages as they finish), JVM object and lambda
    * class identities, and per-run scratch locations
    * ([[graft.ops.Staging.stagePath]], to the end of the path Spark may
    * abbreviate); so is the build key of staged-index locations, so that
    * two builds that run one plan have one `digest`, a hash of `text`.
    * An array literal longer than [[LongLiteral]] characters (a PQ
    * codebook prints every value) is cut to its value count and a hash
    * of its text, so two different literals still digest differently.
    * A tree string prints a cached relation's whole plan under every
    * scan of it; `text` keeps the first copy of each distinct block and
    * cuts every later one to its `InMemoryRelation` line and the line
    * number of the first.
    */
  final case class Plan(shuffles: Int, broadcasts: Int, reused: Int, joins: Seq[String],
      pushedFilters: Boolean, codegenSpans: Int, digest: String, text: String)

  object Plan extends AdaptiveSparkPlanHelper {
    private val Ids = Seq(
      "#\\d+" -> "#x", "(lambda \\w+)_\\d+" -> "$1_x", "\\*\\(\\d+\\)" -> "*(x)", "plan_id=\\d+" -> "plan_id=x",
      "QueryStage \\d+" -> "QueryStage x", "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda", "@[0-9a-f]+\\b" -> "@x",
      "_[0-9a-f]{16}_p\\d+[^,\\s]*" -> "_<run>", "(_e[0-9a-f]{16})_b[0-9a-f]+" -> "$1_b<build>")

    private val LongLiteral = 200
    private val ArrayLiteral = s"\\[[\\[\\]0-9eE.,+-]{$LongLiteral,}\\]".r

    private def sha256(t: String): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(t.getBytes("UTF-8"))

    private def shortLiterals(tree: String): String =
      ArrayLiteral.replaceAllIn(tree, m =>
        s"[${m.matched.count(_ == ',') + 1} values sha ${sha256(m.matched).take(4).map("%02x".format(_)).mkString}]")

    // a tree line's prefix: the ancestors' `:` markers and the indent
    private val Prefix = """^(?: |:(?!- ))*""".r

    /** `tree` with each repeated cached-relation block, an
      * `InMemoryRelation` line and the deeper lines under it, cut to
      * that line and a reference to the line of its first copy.
      */
    private def cachedOnce(tree: String): String = {
      val lines = tree.split("\n", -1)
      def indent(l: String) = Prefix.findPrefixMatchOf(l).fold(0)(_.end)
      val out = mutable.ArrayBuffer.empty[String]
      val first = mutable.Map.empty[String, Int]
      var i = 0
      while (i < lines.length) {
        val l = lines(i)
        val c = indent(l)
        if (l.startsWith("InMemoryRelation ", c + 3)) {
          var end = i + 1
          while (end < lines.length && indent(lines(end)) > c) end += 1
          val block = (l +: lines.slice(i + 1, end)).map(_.drop(c)).mkString("\n")
          first.get(block) match {
            case Some(at) =>
              out += s"$l (plan as at line $at)"
              i = end
            case None =>
              first(block) = out.size + 1
              out += l
              i += 1
          }
        } else {
          out += l
          i += 1
        }
      }
      out.mkString("\n")
    }

    /** The plan `df`'s exec ran: the cached relation's plan when `df`
      * is persisted, else `df`'s own executed plan.
      */
    def of(df: DataFrame): Plan = {
      val ds = df.asInstanceOf[classic.Dataset[_]]
      val p = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(_.cachedRepresentation.cacheBuilder.cachedPlan).getOrElse(ds.queryExecution.executedPlan)
      val nodes = collectWithSubqueries(p) { case n => n }
      val text = cachedOnce(shortLiterals(Ids.foldLeft(p.treeString) { case (t, (re, to)) => t.replaceAll(re, to) }))
      Plan(
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        nodes.count(_.isInstanceOf[ReusedExchangeExec]),
        nodes.collect { case j: BaseJoinExec => j.getClass.getSimpleName.stripSuffix("Exec") }.distinct.sorted,
        nodes.exists {
          case s: FileSourceScanLike => s.metadata.get("PushedFilters").exists(_ != "[]")
          case _ => false
        },
        nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
        sha256(text).take(8).map("%02x".format(_)).mkString,
        text)
    }
  }

  /** `totals` sums the task metrics over the query's stages (keys as
    * in the record: `tasks`, `executor_run_s`, `executor_cpu_s`, `gc_s`,
    * `shuffle_read_bytes`, `shuffle_write_bytes`, `spill_bytes`,
    * `input_bytes`) and holds `task_skew`, the largest max/median task
    * time of a stage.
    */
  final case class Summary(
      name: String,
      secs: Map[String, Double],
      jobs: Map[String, Int],
      stages: Int,
      totals: Map[String, Double],
      planningMs: Map[String, Long],
      topStages: Seq[StageRow],
      jobSites: Seq[(String, Int)],
      stream: Option[Stream],
      plan: Option[Plan])

  private final class Rec(val name: String) {
    val secs = mutable.Map.empty[String, Double]
    val jobs = mutable.Map(Construct -> 0, Execute -> 0)
    val siteJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageRunMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val triggerMs = mutable.ArrayBuffer.empty[Long]
    val streamPhaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val totals = mutable.Map(TotalKeys.map(_ -> 0.0): _*)
    var planningMs = Map.empty[String, Long]
    var plan = Option.empty[Plan]

    def summary: Summary = synchronized {
      val stream = if (triggerMs.isEmpty) None else {
        val t = triggerMs.sorted
        Some(Stream(t.size, t(math.ceil(t.size * 0.95).toInt - 1), t.last, streamPhaseMs.toMap))
      }
      Summary(name, secs.toMap, jobs.toMap, stages.size, totals.toMap, planningMs,
        stages.sortBy(-_.runS).take(TopN).toSeq, siteJobs.toSeq.sortBy(-_._2).take(TopN), stream, plan)
    }
  }

  private val Escapes = Map('"' -> "\\\"", '\\' -> "\\\\", '\n' -> "\\n", '\r' -> "\\r", '\t' -> "\\t")

  /** `s` as a JSON string: quote, backslash and every control character escaped. */
  def str(s: String): String =
    "\"" + s.flatMap(c => Escapes.getOrElse(c, if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)) + "\""

  private def num(v: Double): String =
    if (v.isWhole) v.toLong.toString else (math.rint(v * 1e4) / 1e4).toString

  /** A JSON object of already-encoded values. */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** One query's trace as a JSON object. */
  def json(s: Summary): String = obj(Seq(
    "construct_s" -> num(s.secs.getOrElse(Construct, 0.0)),
    "execute_s" -> num(s.secs.getOrElse(Execute, 0.0)),
    "construct_jobs" -> s.jobs(Construct).toString,
    "execute_jobs" -> s.jobs(Execute).toString,
    "stages" -> s.stages.toString
  ) ++ TotalKeys.map(k => k -> num(s.totals(k))) ++ Seq(
    "planning_ms" -> obj(s.planningMs.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
    "top_stages" -> s.topStages.map(r => obj(Seq(
      "stage" -> r.stage.toString, "name" -> str(r.name), "phase" -> str(r.phase),
      "tasks" -> r.tasks.toString, "run_s" -> num(r.runS)))).mkString("[", ",", "]"),
    "job_sites" -> obj(s.jobSites.map { case (k, v) => k -> v.toString })
  ) ++ s.stream.map(t => "stream" -> obj(Seq(
    "triggers" -> t.triggers.toString,
    "trigger_p95_ms" -> t.p95Ms.toString,
    "trigger_max_ms" -> t.maxMs.toString,
    "phase_sums_ms" -> obj(t.phaseSumsMs.toSeq.sortBy(-_._2).map { case (k, v) => k -> v.toString })))
  ) ++ s.plan.toSeq.flatMap(p => Seq(
    "plan" -> obj(Seq(
      "shuffle_exchanges" -> p.shuffles.toString,
      "broadcast_exchanges" -> p.broadcasts.toString,
      "reused_exchanges" -> p.reused.toString,
      "joins" -> p.joins.map(str).mkString("[", ",", "]"),
      "pushed_filters" -> p.pushedFilters.toString,
      "codegen_spans" -> p.codegenSpans.toString)),
    "plan_digest" -> str(p.digest),
    "plan_text" -> str(p.text))))

  /** Where a record was taken, in perfbench's provenance field names:
    * the git commit and whether tracked files differ from it, the
    * host's cores and the session's, the JDK and the Spark version.
    */
  def provenance(spark: SparkSession): String = {
    def git(args: String*) = Try(Process("git" +: args).!!(ProcessLogger(_ => ())).trim).toOption
    obj(Seq(
      "git_sha" -> git("rev-parse", "HEAD").fold("null")(str),
      "git_dirty" -> git("status", "--porcelain", "--untracked-files=no").fold("null")(_.nonEmpty.toString),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_cores" -> spark.sparkContext.defaultParallelism.toString,
      "jdk" -> str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> str(spark.version)))
  }
}
