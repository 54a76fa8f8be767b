package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.llm.{Dedup, Graph}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL confs are scoped in child sessions ([[LocalSession.scoped]]),
  * never on the caller's session: the caller's conf does not move
  * while the iterative loops run, and queries that scope confs give on
  * threads sharing one session the results they give serially.
  */
class ScopedConfSpec extends AnyFunSuite {
  import SparkTestBase.{Sf, spark}

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  /** The caller's AQE flag and shuffle width, read as each job that
    * `f` runs starts.
    */
  private def confAtJobStarts(f: => Unit): Seq[(String, String)] = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val fenceTag = "scoped-conf-fence"
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.tags", "").contains(fenceTag)))
          fence.countDown()
        else seen.add((spark.conf.get(Aqe), spark.conf.get(Width)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      // a last tagged job: once the listener sees it, it has seen all of f's
      sc.addJobTag(fenceTag)
      try sc.parallelize(Seq(0), 1).foreach(_ => ())
      finally sc.removeJobTag(fenceTag)
      assert(fence.await(60, TimeUnit.SECONDS), "the listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("the graph and CC loops never change the caller's AQE flag or shuffle width") {
    import spark.implicits._
    val before = (spark.conf.get(Aqe), spark.conf.get(Width))
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (u, v) => u != v }.toDF("u", "v")
    val verts = pairs.select(col("u").as("id")).union(pairs.select(col("v").as("id")))
      .distinct().withColumn("f", lit(1L))
    // more edges than the driver fast path takes, so the distributed loop runs
    val ccPairs = spark.range(Dedup.CcDriverMaxEdges + 1)
      .select((col("id") * 2).as("u"), (col("id") * 2 + 1).as("v"))
    val seen = confAtJobStarts {
      Graph.pageRankContracted(verts, pairs).collect()
      Graph.kCoreContracted(verts, pairs)._1.collect()
      Graph.lpaContracted(verts, pairs).collect()
      assert(Dedup.connectedComponents(ccPairs).count() == 2 * (Dedup.CcDriverMaxEdges + 1))
    }
    assert(seen.nonEmpty)
    assert(seen.forall(_ == before), s"the caller's (AQE, width) moved: ${seen.distinct}")
    assert((spark.conf.get(Aqe), spark.conf.get(Width)) == before)
  }

  test("conf-scoping queries on threads sharing one session match their serial runs") {
    // the conf-scoping loops, readers of staged indexes across the
    // query families, and two pre-sort-guarded queries whose first
    // actions compute their checkpoints at the same time; the threads
    // run on a copy of the fixture with no staged index, so they also
    // build those indexes at the same time
    val names = Seq("d36_pagerank", "d39_kcore", "d41_lpa_communities",
      "d32_incremental_cc", "q58_aqe_skew_join", "q13_price",
      "t01_lang_id", "t25_langid_eval", "q46_profile", "d08_ann_ivf",
      "d11_dedup_clusters", "q54_zorder_probe", "q01_pruned_scan", "t03_token_stats")
    def digest(name: String, dir: String): String = {
      val rows = SparkEntry.queries(name)(spark, dir).collect().map(_.toString)
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val confBefore = spark.conf.getAll
    val serial = names.map(n => n -> digest(n, Sf)).toMap
    val parallel = SparkTestBase.withTempDir("graft_parallel") { root =>
      val cold = SparkTestBase.fixtureCopy(root)
      val pool = Executors.newFixedThreadPool(names.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(names.map(n => Future(n -> digest(n, cold)))), 10.minutes).toMap
      finally {
        pool.shutdown()
        pool.awaitTermination(10, TimeUnit.MINUTES)
        graft.ops.Staging.clearEraIndexes(cold)
      }
    }
    names.foreach(n => assert(parallel(n) == serial(n), n))
    val after = spark.conf.getAll
    val moved = (confBefore.keySet ++ after.keySet).filter(k => confBefore.get(k) != after.get(k))
    assert(moved.isEmpty, moved.map(k => s"$k: ${confBefore.get(k)} -> ${after.get(k)}").mkString("; "))
  }
}
