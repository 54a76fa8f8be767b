package graft

import graft.llm.{LangModel, Similarity, Sketch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic contracts for the round-4 additions: t12 bigram LM
  * familiarity, d21 random-projection dim reduction, d22 count-min
  * sketch.
  */
class SketchAndLmSpec extends AnyFunSuite {
  import SparkTestBase.{Sf, spark}

  test("t12: every document scores, counts are consistent, short docs survive") {
    import spark.implicits._
    val out = LangModel.bigramFamiliarity(spark, Sf)
    val nDocs = graft.tables.Tables.documents(spark, Sf).count()
    assert(out.count() == nDocs, "one score row per document")
    val bad = out.filter(
      (col("n_distinct") > col("n_bigrams")) ||
      (col("sum_bigram_freq") > col("sum_context_freq")) ||
      (col("familiarity") > 1.0) || (col("familiarity") <= 0.0))
    assert(bad.isEmpty, s"invariant violations: ${bad.collect().mkString(";")}")
    // a short-doc corpus must not crash and must emit zero-count rows
    val shorts = Seq((1L, "one"), (2L, ""), (3L, "two words"), (4L, "a b c"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    SparkTestBase.withTempDir("t12spec") { tmp =>
      val dir = tmp.toString
      shorts.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = LangModel.bigramFamiliarity(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L))
    }
  }

  test("t12: familiarity ratio matches a hand-computed micro corpus") {
    import spark.implicits._
    // corpus: "a b a b" (doc 1), "a b" (doc 2), "c a" (doc 3)
    // bigram occurrences: d1: (a,b),(b,a),(a,b); d2: (a,b); d3: (c,a)
    // bc: (a,b)=3, (b,a)=1, (c,a)=1; cc (w1 occurrences): a=3, b=1, c=1
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c a")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = SparkTestBase.withTempDir("t12micro") { tmp =>
      val dir = tmp.toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      LangModel.bigramFamiliarity(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    }
    // doc1: bigrams (a,b),(b,a),(a,b): sum_bc = 3+1+3 = 7, sum_cc = 3+1+3 = 7
    assert(out(1L) == ((3L, 7L, 7L)))
    // doc2: (a,b): sum_bc = 3, sum_cc = 3
    assert(out(2L) == ((1L, 3L, 3L)))
    // doc3: (c,a): sum_bc = 1, sum_cc = 1
    assert(out(3L) == ((1L, 1L, 1L)))
  }

  test("d21: projection is 16 deterministic map-side columns, no shuffle") {
    val out = Similarity.embedProject(spark, Sf)
    assert(out.columns.toSeq == "vec_id" +: (0 until Similarity.ProjDim).map(p => f"y$p%02d"))
    // deterministic across runs
    val a = out.collect().map(_.toSeq)
    val b = Similarity.embedProject(spark, Sf).collect().map(_.toSeq)
    assert(a.sameElements(b))
    // the only exchange is the presentation sort's range partitioning
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"projection must not shuffle before the presentation sort:\n$plan")
  }

  test("d21: one component equals the hand-computed dot product") {
    val first = graft.tables.Tables.embeddings(spark, Sf)
      .orderBy("vec_id").select("embedding").head.getSeq[Float](0)
    val expect = BigDecimal(
      first.zip(Similarity.projMatrix(0)).foldLeft(0.0) { case (acc, (x, w)) => acc + x * w })
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.embedProject(spark, Sf).orderBy("vec_id").select("y00").head.getDouble(0)
    assert(got == expect, s"y00 $got != fold $expect")
  }

  test("t13: the first doc owns all its shingles; nobody exceeds 1.0") {
    val rows = graft.llm.TextStats.novelty(spark, Sf).collect()
    val first = rows.minBy(_.getLong(0))
    assert(first.getDouble(3) == 1.0, "lowest doc_id must have novelty 1.0")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"n_novel > n_shingles for doc ${r.getLong(0)}")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // duplicated content is the point: docs sharing shingles with an
    // earlier doc must score below 1 somewhere in the fixture
    assert(rows.exists(_.getDouble(3) < 1.0), "fixture has twins; someone must be non-novel")
  }

  test("q41: mode and discrete quantiles match a driver-side histogram") {
    val got = graft.ops.CoreOps.modeDisc(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val hist = graft.tables.Tables.lineitem(spark, Sf)
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .groupBy(_._1._1)
    hist.foreach { case (flag, entries) =>
      val counts = entries.map { case ((_, q), c) => (q, c) }.sortBy(_._1)
      val total = counts.map(_._2).sum
      val mode = counts.minBy { case (q, c) => (-c, q) }
      def disc(num: Long, den: Long) = { // smallest q with running*den >= total*num
        var run = 0L
        counts.find { case (_, c) => run += c; run * den >= total * num }.get._1
      }
      val (mq, mn, p50, p90) = got(flag)
      assert(mq == mode._1 && mn == mode._2, s"mode mismatch for $flag")
      assert(p50 == disc(1, 2), s"p50 mismatch for $flag")
      assert(p90 == disc(9, 10), s"p90 mismatch for $flag")
    }
  }

  test("d23: incoming exact copies flag 'exact' against their originals, twins 'near', dup_of always existing") {
    import graft.llm.Dedup
    val rows = Dedup.incrementalDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
                 if (r.isNullAt(2)) -1L else r.getLong(2)))
    val (copies, twins) = rows.partition(_._1 >= Dedup.IncCopyIdOffset)
    assert(copies.nonEmpty && copies.forall { case (id, st, of) =>
      st == "exact" && of == id - Dedup.IncCopyIdOffset },
      "every exact copy must resolve to its original")
    // truncated twins are never byte-identical here; most verify as near
    assert(twins.forall(t => t._2 == "near" || t._2 == "new"))
    assert(twins.count(_._2 == "near") > twins.length / 2,
      "the twin construction should verify as near-dup for most docs")
    // asymmetry: a dup_of target is ALWAYS an existing-corpus doc
    rows.filter(_._3 >= 0).foreach { case (id, _, of) =>
      assert(of < Dedup.TwinIdOffset, s"dup_of $of of $id is not an existing doc")
    }
  }

  test("d22: CMS never undercounts and is exact without collisions") {
    val rows = Sketch.countMinTopK(spark, Sf).collect()
    assert(rows.length == Sketch.TopK)
    rows.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"CMS undercounted ${r.getString(0)}: $est < $exact")
      assert(over == est - exact)
    }
    // depth-4 × width-512 over the tiny fixture vocab: at least one of
    // the top words should read back collision-free (overcount 0) —
    // and every estimate is bounded by the total token mass
    val totalTokens = graft.tables.Tables.documents(spark, Sf)
      .select(explode(graft.llm.TextStats.tokens(col("text"))).as("w"))
      .count()
    assert(rows.exists(_.getLong(3) == 0L), "no top word read back collision-free")
    rows.foreach(r => assert(r.getLong(2) <= totalTokens))
  }

  test("d42: KMV estimate is exact when sketches hold the full sets, bounded otherwise") {
    val rows = Sketch.kmvOverlap(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kEff, nBoth, est) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (nInter, nUnion, exact) = (r.getLong(5), r.getLong(6), r.getLong(7))
      assert(kEff <= Sketch.KmvK && nBoth <= kEff)
      assert(nInter <= nUnion)
      assert(r.getBoolean(8), s"bound violated for ${r.getString(0)}/${r.getString(1)}")
      // when the union sketch wasn't truncated it IS the union: exact
      if (kEff < Sketch.KmvK)
        assert(est == exact && nBoth == nInter && kEff == nUnion,
          s"untruncated sketch must be exact: $r")
    }
  }

  test("t18: tertiles balance, keep = head+middle, micro corpus bits by hand") {
    import spark.implicits._
    val out = LangModel.perplexityBuckets(spark, Sf).collect()
    val nDocs = graft.tables.Tables.documents(spark, Sf).count()
    assert(out.length == nDocs, "one bucket row per document")
    val byTertile = out.groupBy(_.getLong(4)).view.mapValues(_.length).toMap
    assert(byTertile.keySet == Set(1L, 2L, 3L))
    assert(byTertile.values.max - byTertile.values.min <= 1, s"unbalanced: $byTertile")
    out.foreach { r =>
      assert(r.getBoolean(5) == (r.getLong(4) <= 2), "keep must be tertile <= 2")
      assert(r.getLong(2) >= 0, "surprisal bits are non-negative")
    }
    // micro corpus: "a b a b" / "a b" / "c a" — bc(a,b)=3,(b,a)=1,(c,a)=1;
    // cc a=3,b=1,c=1; V=3. Bits: d1 = 0+1+0 (333/1000), d2 = 0, d3 = 1 (1000)
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c a")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val micro = SparkTestBase.withTempDir("t18micro") { tmp =>
      val dir = tmp.toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      LangModel.perplexityBuckets(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    }
    assert(micro == Set((1L, 1L, 333L, 2L), (2L, 0L, 0L, 1L), (3L, 1L, 1000L, 3L)),
      s"hand-computed micro corpus mismatch: $micro")
  }

  test("t19: ranks are contiguous and ordered by the BM25 formula") {
    val out = graft.llm.Retrieval.bm25TopK(spark, Sf).collect()
    val byWord = out.groupBy(_.getString(0))
    assert(byWord.size == graft.llm.Retrieval.QueryTerms)
    // recompute N and avgdl the same way the query does
    val tf = graft.tables.Tables.documents(spark, Sf)
      .select(col("doc_id"), explode(graft.llm.TextStats.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = dl.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    def bm25(tfv: Long, dfv: Long, dlv: Long): Double = {
      val idf = math.log(1.0 + (nDocs - dfv + 0.5) / (dfv + 0.5))
      idf * (tfv * (graft.llm.Retrieval.K1 + 1.0)) /
        (tfv + graft.llm.Retrieval.K1 *
          (1.0 - graft.llm.Retrieval.B + graft.llm.Retrieval.B * dlv / avgdl))
    }
    byWord.foreach { case (word, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"$word: ranks not contiguous from 1")
      assert(sorted.length <= graft.llm.Retrieval.TopK)
      // emitted order must match the formula recomputed from the integers
      val scores = sorted.map(r => (bm25(r.getLong(3), r.getLong(4), r.getLong(5)), r.getLong(2)))
      val resorted = scores.sortBy { case (s, id) => (-s, id) }
      assert(scores.toSeq == resorted.toSeq, s"$word: rank order violates BM25 scores")
      rows.foreach(r => assert(r.getLong(3) <= r.getLong(5), "tf cannot exceed doc length"))
    }
  }

  test("d72: merged bottom-k sample IS the corpus bottom-k; quantiles replay driver-side") {
    val docs = graft.tables.Tables.documents(spark, Sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver replay: corpus bottom-k by the portable hash
    val byHash = docs.map { case (id, nc) =>
      (graft.llm.TextHash.jvmHash(id.toString, 72), id, nc)
    }.sortBy(t => (t._1, t._2))
    val sample = byHash.take(Sketch.QsK).map(_._3).sorted
    val full = docs.map(_._2).sorted
    val out = Sketch.quantileSketch(spark, Sf).collect()
    assert(out.length == Sketch.QsQuantiles.size)
    out.foreach { r =>
      val q = r.getLong(0)
      val kEff = r.getLong(1)
      assert(kEff == math.min(Sketch.QsK.toLong, docs.length.toLong))
      // order statistic ((k_eff-1)*q DIV 1000) + 1, 1-based
      val est = sample(((kEff - 1) * q / 1000).toInt)
      val exact = full((((full.length - 1).toLong * q) / 1000).toInt)
      assert(r.getLong(3) == est, s"q=$q est")
      assert(r.getLong(4) == exact, s"q=$q exact")
      assert(r.getBoolean(7), s"q=$q bound")
    }
  }

  test("d73: per-source sketches are exact when unfilled; grouped replay matches") {
    val out = Sketch.quantileBySource(spark, Sf).collect()
    val nSources = graft.tables.Tables.documents(spark, Sf)
      .select("source").distinct().count()
    assert(out.length == nSources * Sketch.QsQuantiles.size)
    // the declared invariant column: an unfilled sketch (k_eff = n)
    // must estimate exactly
    out.foreach { r =>
      assert(r.getBoolean(7), s"${r.getString(0)} q=${r.getLong(1)} unfilled mismatch")
      if (r.getLong(2) == r.getLong(3)) // k_eff == n
        assert(r.getLong(4) == r.getLong(5), s"${r.getString(0)} unfilled must be exact")
    }
    // driver replay of one filled-or-not source picked deterministically
    val docs = graft.tables.Tables.documents(spark, Sf)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val src = docs.map(_._1).min
    val srcDocs = docs.filter(_._1 == src)
    val sample = srcDocs.map { case (_, id, nc) =>
      (graft.llm.TextHash.jvmHash(id.toString, 72), id, nc)
    }.sortBy(t => (t._1, t._2)).take(Sketch.QsK).map(_._3).sorted
    out.filter(_.getString(0) == src).foreach { r =>
      val q = r.getLong(1)
      assert(r.getLong(4) == sample(((sample.length - 1).toLong * q / 1000).toInt),
        s"$src q=$q grouped est")
    }
  }

  test("d74: theta set-op estimates replay driver-side from the per-source sketches") {
    val Space = 72057594037927936L // 2^56
    val out = Sketch.thetaSetOps(spark, Sf).collect()
    // one row per unordered source pair
    val sh = graft.tables.Tables.documents(spark, Sf)
      .select(col("source"),
        explode(graft.llm.TextHash.hashedShingles(col("text"), 0)).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = sh.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(_._2).toSet
    }
    val srcs = bySrc.keys.toSeq.sorted
    assert(out.length == srcs.size * (srcs.size - 1) / 2)
    val sketches = bySrc.map { case (s, hs) =>
      s -> hs.toSeq.sorted.take(Sketch.KmvK)
    }
    val thetas = sketches.map { case (s, sk) =>
      s -> (if (sk.size < Sketch.KmvK) Space else sk.max + 1L)
    }
    out.foreach { r =>
      val (sa, sb) = (r.getString(0), r.getString(1))
      val theta = math.min(thetas(sa), thetas(sb))
      assert(r.getLong(2) == theta, s"$sa/$sb theta")
      val (ska, skb) = (sketches(sa).toSet, sketches(sb).toSet)
      val below = (ska ++ skb).filter(_ < theta)
      val nCommon = below.count(h => ska(h) && skb(h)).toLong
      assert(r.getLong(7) == nCommon, s"$sa/$sb n_common")
      // the theta estimator replayed in the same IEEE arithmetic
      val interEst = math.floor(nCommon.toDouble * Space.toDouble / theta.toDouble).toLong
      assert(r.getLong(8) == interEst, s"$sa/$sb inter_est")
      // exact legs against the driver-computed sets
      val (fa, fb) = (bySrc(sa), bySrc(sb))
      assert(r.getLong(9) == fa.intersect(fb).size.toLong, s"$sa/$sb n_inter")
      assert(r.getLong(5) == fa.union(fb).size.toLong, s"$sa/$sb n_union")
      assert(r.getLong(12) == (fa.size - fa.intersect(fb).size).toLong, s"$sa/$sb n_diff_ab")
      // union sketch = bottom-k of the merged sketches (mergeability)
      val mk = (ska ++ skb).toSeq.sorted.take(Sketch.KmvK)
      assert(r.getLong(3) == mk.size.toLong, s"$sa/$sb k_union")
    }
  }

  test("d75: unique-below-theta candidates are globally unique; union sketch merges n-way") {
    val Space = 72057594037927936L
    val out = Sketch.thetaNovelty(spark, Sf).collect()
    val sh = graft.tables.Tables.documents(spark, Sf)
      .select(col("source"),
        explode(graft.llm.TextHash.hashedShingles(col("text"), 0)).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = sh.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).toSet }
    assert(out.length == bySrc.size)
    val sketches = bySrc.map { case (s, hs) => s -> hs.toSeq.sorted.take(Sketch.KmvK) }
    val thetaG = sketches.values.map(sk =>
      if (sk.size < Sketch.KmvK) Space else sk.max + 1L).min
    // global-unique exact counts per source
    val uniqExact = sh.groupBy(_._2).filter(_._2.length == 1)
      .map(_._2.head._1).groupBy(identity).map { case (s, v) => s -> v.size.toLong }
    out.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(6) == thetaG, s"$s theta_g")
      assert(r.getLong(4) == uniqExact.getOrElse(s, 0L), s"$s n_uniq_exact")
      val est = math.floor(r.getLong(2).toDouble * Space.toDouble / thetaG.toDouble).toLong
      assert(r.getLong(3) == est, s"$s uniq_est replay")
      // a candidate counted unique below theta_g must BE globally unique:
      // n_uniq_cand can never exceed the exact unique count of hashes
      // below theta_g (set-membership equivalence below the min theta)
      val exactBelow = bySrc.map { case (s2, hs) =>
        s2 -> hs.count(h => h < thetaG && !bySrc.exists { case (s3, hs3) =>
          s3 != s2 && hs3(h) }).toLong
      }
      assert(r.getLong(2) == exactBelow(s), s"$s candidates = exact uniques below theta")
    }
  }
}
