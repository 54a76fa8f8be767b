package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.llm.{Dedup, TextStats}
import graft.ops.{CoreOps, Prestage, Staging, ZOrder}
import graft.tables.Tables
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Staged indexes ([[Staging.indexes]]): keyed by the listings of the
  * tables they read and the build, never the JVM pid, so a restarted
  * process adopts the previous build's artifacts instead of re-paying
  * the corpus pass, an append rebuilds exactly the indexes that read
  * the appended table, and threads of one JVM build an index once.
  */
class StagingIndexSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private val pid = ProcessHandle.current().pid()

  /** The published locations of `tags`; fails if they are not staged. */
  private def staged(dir: String, tags: String*): Seq[String] =
    Staging.indexes(dir, tags: _*)(_ => fail(s"${tags.mkString(", ")} not staged"))

  test("index paths are (data era, build)-keyed — no pid — and re-derivable") {
    val sf = SparkTestBase.Sf
    val p = Dedup.ccIndexPaths(spark, sf).head
    assert(!p.contains(s"_p$pid"), p)
    // the key is recomputed from the tables' listings on every call, as
    // a fresh JVM computes it
    assert(Dedup.ccIndexPaths(spark, sf).head == p)
    // scratch staging stays process-isolated
    assert(Staging.stagePath("csv_customer", sf).contains(s"_p$pid"))
  }

  test("a restarted process reuses the staged index with zero corpus recompute") {
    val sf = SparkTestBase.Sf
    val succ = new java.io.File(Dedup.ccIndexPaths(spark, sf).head, "_SUCCESS")
    assert(succ.exists)
    val mt = succ.lastModified
    Staging.drainBuildLog()
    val (docs, bands) = Dedup.ccIndex(spark, sf)
    assert(docs.count() > 0 && bands.count() > 0)
    assert(succ.lastModified == mt, "index was rebuilt, not reused")
    assert(Staging.drainBuildLog().isEmpty)
  }

  /** Add `df` to the directory table `table` of `dir` as one more part. */
  private def append(dir: String, table: String, df: org.apache.spark.sql.DataFrame): Unit =
    SparkTestBase.withTempDir("graft_append") { tmp =>
      val out = tmp.resolve("out")
      df.coalesce(1).write.parquet(out.toString)
      val files = Files.list(out)
      val part = try files.filter(_.toString.endsWith(".parquet")).findFirst().get() finally files.close()
      Files.copy(part, Path.of(dir, s"$table.parquet", s"part-${System.nanoTime()}.parquet"))
    }

  test("an append rebuilds exactly the indexes that read the appended table, in one JVM") {
    SparkTestBase.withTempDir("graft_stale") { root =>
      val dir = SparkTestBase.fixtureCopy(root, Set("documents", "events"))
      val built = Seq.newBuilder[String]
      def buildAll(): Set[String] = {
        Staging.drainBuildLog()
        Dedup.ccIndex(spark, dir)
        TextStats.langScoresIndex(spark, dir)
        CoreOps.profileIndex(spark, dir)
        ZOrder.stageZOrdered(spark, dir)
        Staging.drainBuildLog().keySet
      }
      def locations(): Map[String, Seq[String]] = {
        val locs = Map(
          "cc" -> staged(dir, "cc_sh", "cc_bands"), "lang_scores" -> staged(dir, "lang_scores"),
          "profile" -> staged(dir, "profile"), "orders_zorder" -> staged(dir, "orders_zorder"))
        built ++= locs.values.flatten
        locs
      }
      try {
        assert(buildAll() == Set("cc_sh", "cc_bands", "lang_scores", "profile", "orders_zorder"))
        val cold = locations()
        val nDocs = Tables.documents(spark, dir).count()

        append(dir, "documents", Tables.documents(spark, dir).filter(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 900000L))
        assert(buildAll() == Set("cc_sh", "cc_bands", "lang_scores"))
        val afterDocs = locations()
        assert(afterDocs("cc").toSet.intersect(cold("cc").toSet).isEmpty)
        assert(afterDocs("lang_scores") != cold("lang_scores"))
        assert(afterDocs("profile") == cold("profile"))
        assert(afterDocs("orders_zorder") == cold("orders_zorder"))
        assert(TextStats.langScoresIndex(spark, dir).count() == nDocs + 5, "a stale index was served")

        Files.copy(Path.of(SparkTestBase.Sf, "events.parquet"), Path.of(dir, "events.parquet", "part-00001.parquet"))
        assert(buildAll().isEmpty)
        assert(locations() == afterDocs)
      } finally {
        built.result().foreach(l => SparkTestBase.deleteTree(Path.of(l)))
        Staging.clearEraIndexes(dir)
      }
    }
  }

  test("threads that stage one cold index run its writer once and share its location") {
    SparkTestBase.withTempDir("graft_race") { root =>
      Files.copy(Path.of(SparkTestBase.Sf, "lineitem.parquet"), root.resolve("lineitem.parquet"))
      val dir = root.toString
      val calls = new AtomicInteger()
      val pool = Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val locs = Await.result(Future.sequence((1 to 4).map(_ => Future {
          Staging.index(dir, "profile") {
            calls.incrementAndGet()
            Thread.sleep(200)
            spark.range(1).toDF()
          }
        })), 1.minute)
        assert(calls.get == 1, s"the writer ran ${calls.get} times")
        assert(locs.toSet.size == 1)
        assert(Tables.parquet(spark, locs.head).count() == 1)
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
        Staging.drainBuildLog()
        Staging.clearEraIndexes(dir)
      }
    }
  }

  test("a build that loses the publish race adopts the winner and leaves no copy") {
    SparkTestBase.withTempDir("graft_lose") { root =>
      Files.copy(Path.of(SparkTestBase.Sf, "lineitem.parquet"), root.resolve("lineitem.parquet"))
      val dir = root.toString
      try {
        val Seq(loc) = Staging.indexes(dir, "profile")(_.files("profile") { p =>
          // another process publishes while this one writes its copy
          val winner = Path.of(p.stripSuffix(s".tmp_p$pid"))
          Files.createDirectories(winner)
          Files.write(winner.resolve("data"), "winner".getBytes("UTF-8"))
          Files.createDirectories(Path.of(p))
          Files.write(Path.of(p, "data"), "loser".getBytes("UTF-8"))
        })
        assert(new String(Files.readAllBytes(Path.of(loc, "data")), "UTF-8") == "winner")
        assert(!Files.exists(Path.of(s"$loc.tmp_p$pid")))
      } finally {
        Staging.drainBuildLog()
        Staging.clearEraIndexes(dir)
      }
    }
  }

  test("clearing a dataset's indexes leaves another build's indexes of the same data") {
    SparkTestBase.withTempDir("graft_clear") { root =>
      Files.copy(Path.of(SparkTestBase.Sf, "lineitem.parquet"), root.resolve("lineitem.parquet"))
      val dir = root.toString
      val loc = Path.of(Staging.index(dir, "profile")(spark.range(1).toDF()))
      val sibling = Path.of(loc.toString.replaceAll("_b[0-9a-f]+$", "_b000000000000"))
      assert(sibling != loc)
      Files.createDirectories(sibling)
      try {
        assert(Staging.clearEraIndexes(dir) == 1)
        assert(!Files.exists(loc))
        assert(Files.exists(sibling), "another build's index was deleted")
      } finally {
        Staging.drainBuildLog()
        Staging.clearEraIndexes(dir)
        SparkTestBase.deleteTree(sibling)
      }
    }
  }

  test("a build logs its whole wall time once, nested builds under their own tags") {
    SparkTestBase.withTempDir("graft_buildlog") { root =>
      val dir = SparkTestBase.fixtureCopy(root)
      try {
        Staging.drainBuildLog()
        val t0 = System.nanoTime()
        Staging.indexes(dir, "lang_scores") { put =>
          // work before the first put, and a nested build that reads another index
          Staging.indexes(dir, "profile") { putProfile =>
            Thread.sleep(300)
            putProfile("profile", spark.range(1).toDF())
          }
          put("lang_scores", spark.range(1).toDF())
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val log = Staging.drainBuildLog()
        assert(log.keySet == Set("profile", "lang_scores"))
        assert(log("profile") >= 0.3, log)
        assert(log.values.sum <= wall, s"$log over $wall s of wall time")
      } finally {
        Staging.drainBuildLog()
        Staging.clearEraIndexes(dir)
      }
    }
  }

  test("the prestage builds every declared index") {
    SparkTestBase.withTempDir("graft_prestage") { root =>
      val dir = SparkTestBase.fixtureCopy(root)
      try {
        assert(Prestage.run(spark, dir).keySet == Staging.IndexTags)
        // only whole declared families stage
        intercept[IllegalArgumentException](Staging.index(dir, "undeclared")(spark.emptyDataFrame))
        intercept[IllegalArgumentException](Staging.index(dir, "cc_sh")(spark.emptyDataFrame))
      } finally Staging.clearEraIndexes(dir)
    }
  }
}
