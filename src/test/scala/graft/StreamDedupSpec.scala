package graft

import org.scalatest.funsuite.AnyFunSuite

class StreamDedupSpec extends AnyFunSuite {
  import SparkTestBase.{Sf => BaseSf}

  test("stream-stream interval join equals the batch interval join") {
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.functions.col
    val streamed = graft.streaming.StreamJoin.purchaseClickJoin(spark, BaseSf).collect()
    val ev = graft.tables.Tables.events(spark, BaseSf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("click_ts"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("click_ts") >= col("purchase_ts") - org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select("purchase_id", "click_id").orderBy("purchase_id", "click_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      batch.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }
  import SparkTestBase.{spark, Sf}

  test("StreamEnv.legDir: one dir per (tag, dataset), emptied by each call") {
    import graft.streaming.StreamEnv
    import java.nio.file.{Files, Path}
    val base = StreamEnv.legDir(spark, "leg_spec", Sf)
    try {
      Files.createDirectories(Path.of(base, "ckpt"))
      Files.writeString(Path.of(base, "ckpt", "0"), "a previous run")
      assert(StreamEnv.legDir(spark, "leg_spec", Sf) == base)
      assert(!Files.exists(Path.of(base, "ckpt", "0")), "a second call must empty the leg dir")
      assert(StreamEnv.legDir(spark, "leg_spec", s"$Sf/other") != base)
    } finally SparkTestBase.deleteTree(Path.of(base))
  }

  test("StreamEnv.drainToMemory: two runs give equal rows under two sink names") {
    import graft.streaming.StreamEnv
    SparkTestBase.withTempDir("drain") { root =>
      val ss = StreamEnv.streamSession(spark)
      val in = root.resolve("in").toString
      ss.range(0, 50).selectExpr("id", "id % 7 AS k").write.parquet(in)
      def sinks() = ss.catalog.listTables().collect().map(_.name).filter(_.startsWith("drain_spec_")).toSet
      val before = sinks()
      def run() = StreamEnv.drainToMemory(
        ss.readStream.schema("id BIGINT, k BIGINT").parquet(in).writeStream, "drain_spec")
        .orderBy("id").collect().toSeq
      val (a, b) = (run(), run())
      assert(a.size == 50 && a == b)
      assert((sinks() -- before).size == 2, "each drain needs its own sink name")
    }
  }

  test("duplicated delivery is collapsed to exactly-once counts") {
    import org.apache.spark.sql.functions.{col, date_sub, lit, max, to_date}
    val deduped = graft.streaming.StreamDedup.dedupedDailyCounts(spark, Sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val daily = graft.tables.Tables.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .count()
    // append mode withholds the still-open tail (last two days)
    val maxD = daily.agg(max("d")).head().getDate(0)
    val expected = daily.filter(col("d") < date_sub(lit(maxD), 1))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(deduped.nonEmpty)
    assert(deduped == expected) // WRITE_APPEND semantics would double every count
  }

  test("flatMapGroupsWithState carries cumulative state across micro-batches") {
    import org.apache.spark.sql.functions._
    val rows = graft.streaming.StatefulCumulative.cumulativeWeekly(spark, Sf).collect()
    val byType = rows.groupBy(_.getString(0))
    assert(byType.nonEmpty)
    byType.foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      // cumulative counts strictly increase week over week — only
      // possible if state survived from the previous micro-batch
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(2) < b.getLong(2), s"$t: cum_n not increasing")
        case _ =>
      }
      // the final snapshot equals the batch-computed total
      val total = graft.tables.Tables.events(spark, Sf)
        .filter(col("event_type") === t).count()
      assert(sorted.last.getLong(2) == total, s"$t: final cum_n != batch count")
    }
  }

  test("s15: streamed IVF index inventories every vector exactly once") {
    val out = graft.streaming.StreamVecIngest.ivfIngest(spark, Sf).collect()
    assert(out.nonEmpty)
    // cells are unique rows; vector counts sum to the corpus size —
    // no batch dropped, none double-appended
    assert(out.map(_.getAs[Int]("cell")).distinct.length == out.length)
    val total = out.map(_.getAs[Long]("n_vecs")).sum
    assert(total == graft.tables.Tables.embeddings(spark, Sf).count())
  }

  test("s16 streaming decontamination equals the one-shot d18 scan (Kappa)") {
    val streamed = graft.streaming.StreamDecontam.decontamIngest(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.llm.Curation.decontaminate(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty, "fixture must contain contamination to find")
    assert(streamed == batch, "micro-batched union must equal the one-shot scan")
  }
}
