package graft

import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextHash, TextStats}
import graft.expr.VectorFunctions.cosineSimilarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmOpsSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}

  test("portable hash agrees between JVM and Spark paths") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "日本語")
    val sparkSide = words.toDF("w").select(TextHash.phash(col("w"), 7)).as[Long].collect()
    val jvmSide = words.map(TextHash.jvmHash(_, 7))
    assert(sparkSide.toSeq == jvmSide)
  }

  test("LSH finds every truncated twin of a long document") {
    val pairs = Dedup.lshJaccardPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val longDocs = graft.tables.Tables.documents(spark, Sf)
      .filter(length(col("text")) >= 300).select("doc_id")
      .collect().map(_.getLong(0))
    // a 50-char truncation of a ≥300-char doc keeps jaccard ≥ 0.5 and
    // minhash banding (4 bands of 4) catches it with overwhelming odds
    val missed = longDocs.filterNot(id => pairs.contains((id, id + Dedup.TwinIdOffset)))
    assert(missed.length <= longDocs.length / 20, s"missed ${missed.length}/${longDocs.length}")
  }

  test("d25: twins are FULLY contained in their original (cont = 1.0 on the twin side)") {
    val cont = Dedup.containmentPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    // pairs are ordered and scores are valid ratios
    cont.foreach { case ((a, b), (ca, cb)) =>
      assert(a < b)
      assert(ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0)
      assert(math.max(ca, cb) >= Dedup.ContainmentThreshold)
    }
    // every shingle window of a prefix is a window of the full doc, so a
    // caught (original, twin) pair must report cont_b == 1.0 exactly
    val twinPairs = cont.filter { case ((a, b), _) => b == a + Dedup.TwinIdOffset }
    assert(twinPairs.nonEmpty, "no original/twin containment pair found")
    twinPairs.foreach { case ((a, _), (_, cb)) =>
      assert(cb == 1.0, s"twin of $a must be exactly contained, got $cb")
    }
  }

  test("jaccard values are valid and pairs are ordered") {
    Dedup.lshJaccardPairs(spark, Sf).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= Dedup.JaccardThreshold && j <= 1.0)
    }
  }

  test("simhash of a doc and its twin are close; random docs are far") {
    val pairs = Dedup.simhashPairs(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every reported pair respects the hamming bound
    pairs.foreach { case (_, _, h) => assert(h >= 0 && h <= Dedup.HammingMax) }
    // a solid majority of truncated twins must appear at hd ≤ 6
    val twinPairs = pairs.count { case (a, b, _) => b == a + Dedup.TwinIdOffset }
    assert(twinPairs > 250, s"only $twinPairs twin pairs found")
  }

  test("native cosine expression matches composed zip_with/aggregate") {
    // compose in double precision (cast the float arrays up first) to
    // mirror the native expression's accumulation
    val emb = graft.tables.Tables.embeddings(spark, Sf).limit(50)
      .withColumn("ed", col("embedding").cast("array<double>"))
    val composed = emb.crossJoin(
        emb.select(col("embedding").as("e2"), col("ed").as("ed2"), col("vec_id").as("v2")).limit(5))
      .select(col("vec_id"), col("v2"),
        cosineSimilarity(col("embedding"), col("e2")).as("native"),
        (aggregate(zip_with(col("ed"), col("ed2"), (a, b) => a * b), lit(0.0), (s, x) => s + x) /
          (sqrt(aggregate(transform(col("ed"), x => x * x), lit(0.0), (s, x) => s + x)) *
           sqrt(aggregate(transform(col("ed2"), x => x * x), lit(0.0), (s, x) => s + x)))).as("composed"))
    val rows = composed.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-12)
    }
  }

  test("two cosine instances share one codegen scope without fallback") {
    // CODEGEN_ONLY turns the silent interpreter fallback into a hard
    // failure; codegen.fallback=false does the same for whole-stage.
    // Round-1 regression: fixed local names (i, n, dot…) collided when
    // two CosineSimilarity instances landed in one generated method.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = graft.tables.Tables.embeddings(spark, Sf).limit(20)
        .select(col("vec_id"), col("embedding").as("e1"), reverse(col("embedding")).as("e2"))
        .select(
          cosineSimilarity(col("e1"), col("e2")).as("ab"),
          cosineSimilarity(col("e2"), col("e1")).as("ba"))
        .collect()
      assert(rows.length == 20)
      rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("cosine self-similarity is 1") {
    val emb = graft.tables.Tables.embeddings(spark, Sf).limit(10)
    emb.select(cosineSimilarity(col("embedding"), col("embedding")).as("s"))
      .collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("ANN LSH scores are valid cosines and never beat brute force rank-for-rank") {
    val brute = Similarity.cosineTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    val ann = Similarity.annLsh(spark, Sf).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val (qid, score, rank) = (r.getLong(0), r.getDouble(3), r.getInt(4))
      assert(score >= -1.0 - 1e-9 && score <= 1.0 + 1e-9)
      // ANN searches a bucket subset, so its k-th best can't exceed
      // the exact k-th best
      brute.get((qid, rank)).foreach(b => assert(score <= b + 1e-9))
    }
  }

  test("embed near-dup pairs are ordered, above threshold, and truly near") {
    val rows = Similarity.embedNearDup(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= Similarity.NearDupThreshold && r.getDouble(2) <= 1.0)
    }
    // no duplicate pairs despite the 9-way probe explosion
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("dedup clusters: canonical is the component min and twins co-cluster") {
    val rows = Dedup.dedupClusters(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.size == 1000) // 500 docs + 500 twins
    // canonical must be <= member and itself canonical (fixpoint)
    rows.foreach { case (id, (canon, size)) =>
      assert(canon <= id && rows(canon)._1 == canon)
      assert(size >= 1 && rows(canon)._2 == size)
    }
    // every verified near-dup pair landed in one cluster
    val pairs = Dedup.lshJaccardPairs(spark, Sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      assert(rows(p.getLong(0))._1 == rows(p.getLong(1))._1,
        s"pair ${p.getLong(0)},${p.getLong(1)} split across clusters")
    }
  }

  test("curate keeps exactly one member per cluster, preferring quality then min id") {
    val clusters = Dedup.dedupClusters(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // doc_id -> canonical
    val kept = Dedup.curate(spark, Sf).collect()
    // one survivor per distinct cluster, and the survivor is a member
    assert(kept.length == clusters.values.toSet.size)
    kept.foreach { r =>
      val (cid, keptId, size) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(clusters(keptId) == cid)
      assert(size == clusters.values.count(_ == cid))
      assert(r.getLong(4) == size - 1)
    }
  }

  test("d28 soft dedup: weights are exact multiplicity inverses summing to #clusters") {
    val hard = Dedup.dedupClusters(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val soft = Dedup.softDedup(spark, Sf).collect()
    assert(soft.length == hard.size, "soft dedup keeps EVERY document")
    soft.foreach { r =>
      val (id, cluster, size, w) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert((cluster, size) == hard(id), "labels/sizes must agree with d11")
      assert(w == 1.0 / size, "weight is the exact IEEE inverse of multiplicity")
    }
    val nClusters = hard.values.map(_._1).toSet.size.toDouble
    val mass = soft.map(r => r.getDouble(3)).sum
    assert(math.abs(mass - nClusters) < 1e-6,
      s"total loss mass $mass must equal cluster count $nClusters")
  }

  test("d29 bloom dedup: classification matches d23's exact leg; sketch probe is in the plan") {
    val got = Dedup.bloomIncrementalDedup(spark, Sf)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      "the corpus sketch probe must gate the batch, not a full corpus join")
    val rows = got.collect()
    assert(rows.length == 600) // 500 twins + 100 exact copies
    // exact copies (doc_id % 5 == 0 shifted by the copy offset) are dups
    // of their source; truncated twins are textually different → new
    rows.foreach { r =>
      val (id, status) = (r.getLong(0), r.getString(1))
      if (id >= Dedup.IncCopyIdOffset) { // exact-copy leg
        assert(status == "dup" && r.getLong(2) == id - Dedup.IncCopyIdOffset,
          s"copy $id must be a dup of its source")
      } else assert(status == "new", s"truncated twin $id must classify new")
    }
  }

  test("d30 index ingest: gen-0 immutable, gen-1 = gen-0 + accepted, re-offers resolve to batch-1 ids") {
    val gen0Before = Dedup.corpusIndex(spark, Sf)._1.count()
    val rows = Dedup.indexIngest(spark, Sf).collect()
    // gen-0 is an immutable era — the ingest writes a NEW generation
    assert(Dedup.corpusIndex(spark, Sf)._1.count() == gen0Before,
      "d30 must never mutate the gen-0 index d23/d29 read")
    val gen1 = Dedup.gen1Index(spark, Sf)
    assert(gen1.count() > gen0Before, "gen-1 must contain the accepted batch-1 rows")
    rows.foreach { r =>
      val (id, status) = (r.getLong(0), r.getString(1))
      if (id >= Dedup.NovelIdOffset)
        assert(status == "new", s"salted novel doc $id must classify new")
      else if (id >= Dedup.ReTwinIdOffset) {
        // the maintenance proof: content introduced by batch 1 resolves
        // to the batch-1 twin that brought it in (twin-id space), not
        // to the corpus and not to 'new'
        assert(status == "dup" && !r.isNullAt(2), s"re-offered twin $id must be a dup")
        val dupOf = r.getLong(2)
        assert(dupOf >= Dedup.TwinIdOffset && dupOf < Dedup.IncCopyIdOffset,
          s"re-offer $id resolved to $dupOf — not a batch-1 twin id; index not maintained?")
      } else {
        assert(status == "dup", s"corpus copy $id must be a dup")
        assert(r.getLong(2) < Dedup.TwinIdOffset, s"copy $id must resolve into the corpus")
      }
    }
  }

  test("vocab top-k is sorted by freq desc and consistent with tf-idf's df") {
    val vocab = TextStats.vocabTopK(spark, Sf).collect()
    // the synthetic fixture's shared vocabulary is ~31 words — all of it fits in the top-100
    assert(vocab.nonEmpty && vocab.length <= 100)
    val freqs = vocab.map(_.getLong(1))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    vocab.foreach(r => assert(r.getLong(1) >= r.getLong(2))) // freq >= doc_freq
  }

  test("tf-idf top5: ranks are 1..k per doc, terms unique within doc") {
    val rows = TextStats.tfidfTop5(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length))
      assert(rs.map(_._3).distinct.length == rs.length)
    }
  }

  test("split assignment is deterministic with ~80/10/10 mass") {
    val rows = Sampling.splitAssign(spark, Sf).collect()
    assert(rows.length == 500)
    val bySplit = rows.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    // md5-mod buckets: exact proportions vary, but the shape must hold
    assert(bySplit("train") > bySplit("val") * 4)
    assert(bySplit.values.sum == 500)
    // same assignment on recompute (pure function of doc_id)
    val again = Sampling.splitAssign(spark, Sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(3))).sameElements(
      again.map(r => (r.getLong(0), r.getString(3)))))
  }

  test("d26 mixture sample: threshold membership is exact and flattens the language mix") {
    val docs = graft.tables.Tables.documents(spark, Sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byLang = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def quota(n: Long) = math.min(n, Sampling.QuotaMult * math.sqrt(n.toDouble).toLong)
    def acceptPpm(n: Long) = quota(n) * Sampling.AcceptDen / n
    def hash(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${Sampling.MixSeed}:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(7).map(b => f"$b%02x").mkString, 16)
    }
    val expected = docs.filter { case (id, lang) =>
      hash(id) % Sampling.AcceptDen < acceptPpm(byLang(lang))
    }.map(_._1).toSet
    val rows = Sampling.mixtureSample(spark, Sf).collect()
    assert(rows.map(_.getLong(0)).toSet == expected)
    rows.foreach { r =>
      val n = byLang(r.getString(1))
      assert(r.getLong(2) == n && r.getLong(3) == quota(n) && r.getLong(4) == acceptPpm(n))
    }
    // the temperature actually rebalances: head lang is down-sampled
    // harder than the tail lang (smaller accept rate), and sampling is
    // non-degenerate (neither everything nor nothing survives)
    val head = byLang.maxBy(_._2)._2; val tail = byLang.minBy(_._2)._2
    assert(acceptPpm(head) < acceptPpm(tail))
    assert(expected.nonEmpty && expected.size < docs.length)
  }

  test("d50 probe sweep: scanned cost and recall ramp monotonically with nprobe") {
    val rows = Similarity.ivfProbeSweep(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Similarity.ProbeSweep)
    rows.sliding(2).foreach { case Array((_, s0, h0, _), (_, s1, h1, _)) =>
      assert(s1 >= s0 && h1 >= h0, "sweep not monotone")
    }
    val denom = Similarity.TopK.toLong * Similarity.NumQueries
    rows.foreach { case (_, s, h, r) =>
      assert(h <= denom && r == h.toDouble / denom)
      assert(s >= h, "cannot hit more pairs than were scanned")
    }
  }

  test("d49 DSIR: selection favors the target language and the flag is the mean threshold") {
    val rows = Sampling.dsirSelect(spark, Sf).collect()
    val all = graft.tables.Tables.documents(spark, Sf).count()
    assert(rows.length == all)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // the flag is exactly the per-feature-normalized mean threshold
    val tf = rows.map(_.getLong(2)).sum
    val s = rows.map(_.getLong(3)).sum
    rows.foreach(r =>
      assert(r.getBoolean(4) == (r.getLong(3) * tf > r.getLong(2) * s)))
    // semantic direction: target-language docs average a higher
    // importance weight than the rest, selection is non-degenerate,
    // and the selected set is target-dominated
    val (en, other) = rows.partition(_.getString(1) == Sampling.DsirTarget)
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(3)).sum.toDouble / rs.length
    assert(mean(en) > mean(other))
    val sel = rows.filter(_.getBoolean(4))
    assert(sel.nonEmpty && sel.length < rows.length)
    assert(sel.count(_.getString(1) == Sampling.DsirTarget) * 2 > sel.length)
  }

  test("d27 epoch shuffle: per-shard positions are dense and epochs permute differently") {
    val rows = Sampling.epochShuffle(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nDocs = graft.tables.Tables.documents(spark, Sf).count()
    assert(rows.length == Sampling.Epochs * nDocs)
    // every epoch covers every doc exactly once across its shards
    rows.groupBy(_._1).foreach { case (_, es) =>
      assert(es.map(_._4).distinct.length == nDocs)
      // positions are 1..k dense per shard, ordered by the hash key
      es.groupBy(_._2).foreach { case (_, ss) =>
        val sorted = ss.sortBy(_._3)
        assert(sorted.map(_._3).toSeq == (1L to ss.length))
        assert(sorted.map(_._5).toSeq == sorted.map(_._5).sortBy(identity).toSeq)
      }
    }
    // different epochs give a doc different shards/keys somewhere
    val shardsOf = rows.groupBy(_._4).view.mapValues(_.map(_._2).distinct.length)
    assert(shardsOf.values.exists(_ > 1), "every doc landed on the same shard in all epochs")
  }

  test("d44 token shards: bucketed prefix sum equals the flat running sum; shard mass is budget-bounded") {
    val rows = Sampling.tokenShards(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // the distributed two-pass cum equals the single-order running sum
    var acc = 0L
    rows.foreach { case (_, n, cum, shard) =>
      acc += n
      assert(cum == acc, s"prefix-sum drift at cum=$cum expected $acc")
      assert(shard == (cum - n) / Sampling.ShardTokens)
    }
    // shards are dense from 0 and non-decreasing in doc order
    val shards = rows.map(_._4)
    assert(shards.head == 0L)
    assert(shards.zip(shards.tail).forall { case (a, b) => b == a || b == a + 1 })
    // every shard except possibly the last crosses the token budget:
    // mass(s) >= ShardTokens - (first-doc overhang) and a shard never
    // holds more than budget + one max-document of tokens
    val maxDoc = rows.map(_._2).max
    val mass = rows.groupBy(_._4).view.mapValues(_.map(_._2).sum).toMap
    val last = shards.last
    mass.foreach { case (s, m) =>
      if (s != last) assert(m >= Sampling.ShardTokens - maxDoc && m <= Sampling.ShardTokens + maxDoc,
        s"shard $s mass $m outside budget band")
    }
  }

  test("d45 quality dedup: one keeper per cluster, and it is the max-quality min-id member") {
    val rows = Dedup.qualityDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (label, ms) =>
      val keepers = ms.filter(_._5)
      assert(keepers.length == 1, s"cluster $label has ${keepers.length} keepers")
      val best = ms.minBy { case (id, _, q, _, _) => (-q, id) }
      assert(keepers.head._1 == best._1, s"cluster $label kept ${keepers.head._1}, best is ${best._1}")
      ms.foreach { case (id, _, _, kid, keep) =>
        assert(kid == best._1 && keep == (id == kid))
      }
    }
    // the fixture exercises the interesting case: some cluster keeps a
    // member that is NOT the min-id canonical (quality overrode id order)
    assert(rows.exists { case (_, label, _, kid, _) => kid != label },
      "no cluster kept a non-canonical member; quality argmax untested")
  }

  test("t20 vocab growth: cumulative, complete, and equal to the exact distinct vocabulary") {
    val rows = TextStats.vocabGrowth(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // vocab_size is the running sum of new_words
    var acc = 0L
    rows.foreach { case (_, _, nw, vs) => acc += nw; assert(vs == acc) }
    // totals reconcile against independent exact counts
    val docs = graft.tables.Tables.documents(spark, Sf)
    assert(rows.map(_._2).sum == docs.count())
    val exactVocab = docs
      .select(explode(array_distinct(graft.llm.TextStats.tokens(col("text")))).as("w"))
      .agg(countDistinct("w")).head().getLong(0)
    assert(rows.last._4 == exactVocab, s"final vocab ${rows.last._4} != exact $exactVocab")
    // growth actually decays (Heaps): the first checkpoint mints more
    // new words than the last one
    assert(rows.head._3 > rows.last._3)
  }

  test("t21 MMR: dense distinct picks per term, and diversity visibly reorders pure relevance") {
    import graft.llm.Retrieval
    val rows = Retrieval.mmrTopK(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val byWord = rows.groupBy(_._1)
    byWord.foreach { case (w, ps) =>
      val picks = ps.sortBy(_._2)
      assert(picks.map(_._2).toSeq == (1L to picks.length), s"$w picks not dense")
      assert(picks.length <= Retrieval.MmrK)
      assert(picks.map(_._3).distinct.length == picks.length, s"$w repeated a doc")
    }
    // diversity is live: at least one term's MMR set differs from its
    // relevance-ordered (BM25 among embedded docs) top-MmrK prefix
    val emb = graft.tables.Tables.embeddings(spark, Sf)
      .select(col("vec_id").as("doc_id")).collect().map(_.getLong(0)).toSet
    val relTop = graft.llm.Retrieval.bm25TopK(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .filter { case (_, d) => emb(d) }
      .groupBy(_._1).view.mapValues(_.map(_._2).take(Retrieval.MmrK).toSet).toMap
    assert(byWord.exists { case (w, ps) =>
      relTop.get(w).exists(_ != ps.map(_._3).toSet)
    }, "MMR equals relevance ordering for every term; diversity untested")
  }

  test("d34 contraction: family-weighted counts equal the member-level band join exactly") {
    import graft.llm.{Dedup => D}
    val got = D.lshTuningReport(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // independent member-level replay of one config (2 bands × 8 rows):
    // the shape the contraction replaced
    val (sh, _) = D.ccIndex(spark, Sf)
    val mh = sh.select(col("doc_id"), col("hs"),
      graft.expr.HashFunctions.minHash56(col("hs"),
        graft.llm.TextHash.minhashKeys(D.MinhashSeeds)).as("mh")).localCheckpoint()
    val bandCols = (0 until 2).map { band =>
      val cols = (0 until 8).map(i => element_at(col("mh"), band * 8 + i + 1))
      struct(lit(band).as("band"),
        graft.llm.TextHash.phash(concat_ws(",", cols: _*), 1).as("band_hash"))
    }
    val bands = mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
      .localCheckpoint()
    val nCand = cand.count()
    val nVer = cand
      .join(mh.select(col("doc_id").as("id_a"), col("hs").as("ha")), Seq("id_a"))
      .join(mh.select(col("doc_id").as("id_b"), col("hs").as("hb")), Seq("id_b"))
      .select(size(array_intersect(col("ha"), col("hb"))).as("i"),
        size(col("ha")).as("sa"), size(col("hb")).as("sb"))
      .filter(col("i").cast("double") / (col("sa") + col("sb") - col("i"))
        >= D.JaccardThreshold)
      .count()
    assert(got((2, 8)) == ((nCand, nVer)),
      s"contracted counts ${got((2, 8))} != member-level ($nCand, $nVer)")
    // LSH monotonicity: more, shorter bands admit more candidates
    assert(got((1, 16))._1 <= got((2, 8))._1 && got((2, 8))._1 <= got((4, 4))._1)
    got.values.foreach { case (c, v) => assert(v <= c && v > 0) }
    // plan shape: the only nested loops are the 1-row scalar-count
    // crosses; the band join itself is a hash equi-join
    val p = D.lshTuningReport(spark, Sf).queryExecution.executedPlan.toString
    val nljs = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(nljs.forall(_.contains("Cross")), s"non-cross NLJ in d34:\n${nljs.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "cartesian in d34")
  }

  test("d48 agreement: families refine clusters, and the closed forms match a brute-force pair count") {
    val r = Dedup.clusterAgreement(spark, Sf).head()
    val (n, total, sc, sf0, sb, rand) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    assert(total == n * (n - 1) / 2)
    // exact-content families REFINE the reachability clusters (equal
    // text => verified Jaccard 1 => same cluster), so every same-family
    // pair is a same-cluster pair
    assert(sb == sf0, s"family pairs $sf0 not contained in clusters (agree on $sb)")
    assert(sb <= sc && sc <= total)
    assert(rand == (total + 2 * sb - sc - sf0).toDouble / total && rand > 0.9)
    // brute-force pair count on the collected labels agrees
    val labs = Dedup.clusterLabels(spark, Sf).collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    val pairsSameCluster = labs.values.groupBy(identity).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(pairsSameCluster == sc, s"closed form $sc != brute $pairsSameCluster")
  }

  test("d47 dedup report: spectrum reconciles with the corpus; singletons remove nothing") {
    val rows = Dedup.dedupReport(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    val corpusN = Dedup.corpus(spark, Sf).count()
    assert(rows.map { case (f, nc, _, _) => f * nc }.sum == corpusN,
      "cluster spectrum does not tile the corpus")
    rows.foreach { case (f, nc, total, removed) =>
      assert(f >= 1 && nc >= 1 && total > 0)
      assert(removed >= 0 && removed < total)
      if (f == 1) assert(removed == 0, "a singleton cluster claims removed tokens")
      else assert(removed > 0, s"size-$f clusters remove nothing")
    }
    assert(rows.exists(_._1 > 1), "fixture has no non-trivial cluster")
  }

  test("m15 cross-format dedup: exactly the re-uploads pair up, none missed, none invented") {
    val rows = Multimodal.crossFormatDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val ids = graft.tables.Tables.documents(spark, Sf)
      .select("doc_id").collect().map(_.getLong(0))
    val expected = ids.filter(_ % Multimodal.XfmtEvery == 0)
      .map(id => (id, id + Multimodal.XfmtIdOffset)).toSet
    assert(rows.nonEmpty)
    assert(rows.map(p => (p._1, p._2)).toSet == expected,
      "decoded-content join disagrees with the constructed re-upload set")
    rows.foreach { case (id, _, w, h) =>
      assert(w == 8 + (id % 9).toInt && h == 8 + (id % 7).toInt)
    }
  }

  test("curation pipeline: survivors pass the filters and are cluster/content-unique") {
    import graft.llm.Pipeline
    val rows = Pipeline.curatedCorpus(spark, Sf).collect()
    assert(rows.nonEmpty)
    // every survivor passed the filters
    rows.foreach { r =>
      assert(r.getDouble(2) >= Pipeline.QualityMin)
      assert(r.getString(3) != "und")
      assert(Set("train", "val", "test").contains(r.getString(4)))
    }
    // one survivor per cluster
    val clusters = rows.map(_.getLong(1))
    assert(clusters.distinct.length == clusters.length)
    // near-dup twins never both survive
    val ids = rows.map(_.getLong(0)).toSet
    val pairs = Dedup.lshJaccardPairs(spark, Sf).collect()
    pairs.foreach { p =>
      assert(!(ids.contains(p.getLong(0)) && ids.contains(p.getLong(1))),
        s"near-dup pair ${p.getLong(0)},${p.getLong(1)} both kept")
    }
  }

  test("IVF ANN never beats brute force rank-for-rank") {
    val brute = Similarity.cosineTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    val ivf = Similarity.annIvf(spark, Sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val (score, rank) = (r.getDouble(3), r.getInt(4))
      brute.get((r.getLong(0), rank)).foreach(b => assert(score <= b + 1e-9))
    }
  }

  test("sessionization conserves events and respects the gap") {
    val sessions = graft.streaming.Sessionize.sessions(spark, Sf).collect()
    val totalEvents = graft.tables.Tables.events(spark, Sf).count()
    assert(sessions.map(_.getLong(3)).sum == totalEvents)
    // consecutive sessions of a user start ≥ gap after the previous last event
    sessions.groupBy(_.getLong(0)).values.foreach { ss =>
      val sorted = ss.sortBy(_.getTimestamp(1).getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gapMs = b.getTimestamp(1).getTime - a.getTimestamp(2).getTime
          assert(gapMs >= graft.streaming.Sessionize.GapHours * 3600 * 1000L)
        case _ =>
      }
    }
  }

  test("language ID predicts a language iff a marker token occurs") {
    val rows = TextStats.langId(spark, Sf).collect()
    rows.foreach { r =>
      val scores = (1 to 5).map(r.getInt)
      val pred = r.getString(6)
      if (scores.forall(_ == 0)) assert(pred == "und")
      else assert(TextStats.LangMarkers.map(_._1).contains(pred))
    }
  }

  test("token stats are internally consistent") {
    TextStats.tokenStats(spark, Sf).collect().foreach { r =>
      val (ws, words, distinct, alnum, bpe) =
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      assert(distinct <= words)
      assert(bpe == (alnum + 3) / 4)
      assert(words >= ws) // hyphen/punct splits can only add word tokens
    }
  }

  test("multimodal stub decode: byte stats consistent with metadata") {
    val rows = Multimodal.decodePartitions(spark, Sf).collect()
    assert(rows.length == 500)
    rows.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.mean_byte >= 0.0 && f.mean_byte < 256.0)
      assert(f.width >= 1 && f.width <= 640 && f.height >= 1 && f.height <= 480)
    }
  }

  test("m02 real PNG round trip: encode via ImageIO, decode matches source pixels") {
    val stats = Multimodal.imageStats(spark, Sf).collect()
    assert(stats.length == 500)
    stats.foreach { r =>
      val (id, w, h) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(w == 8 + (id % 9).toInt && h == 8 + (id % 7).toInt)
      assert(r.getInt(3) == w * h)
      // recompute ground truth on the driver from the md5 chain —
      // the lossless-codec claim is that decode(encode(px)) == px
      val px = Multimodal.pixelsOf(id, w, h)
      assert(r.getLong(4) == px.map(_.toLong).sum, s"sum mismatch doc $id")
      assert(r.getInt(6) == px.min && r.getInt(7) == px.max)
    }
  }

  test("m10 real JPEG decode: structure exact, fidelity inside the tolerance, genuinely lossy path") {
    val rows = Multimodal.jpegFidelity(spark, Sf).collect()
    assert(rows.length == 500)
    rows.foreach { f =>
      assert(f.width == 8 + (f.doc_id % 9).toInt && f.height == 8 + (f.doc_id % 7).toInt)
      assert(f.n_px == f.width * f.height)
      assert(f.within_tol && f.max_abs_err <= Multimodal.JpegTol,
        s"doc ${f.doc_id} max error ${f.max_abs_err} breaches tolerance ${Multimodal.JpegTol}")
    }
    // the corpus-wide observed error band: strictly positive (this IS a
    // lossy codec — a zero here would mean the decode never ran) and
    // well inside the flag's threshold
    val maxObserved = rows.map(_.max_abs_err).max
    assert(maxObserved > 0, "JPEG round trip reported zero error — decode path suspect")
  }

  test("m11 AVI container: idx1 index agrees with a sequential movi walk; corrupt input rejected") {
    // the reader SEEKS via idx1; this pins that the index the writer
    // emits lands on exactly the chunks a linear RIFF walk finds
    for (id <- Seq(0L, 3L, 17L, 101L)) {
      val bytes = Multimodal.aviBytesOf(id)
      val (n, w, h, idxFrames) = Multimodal.parseAvi(bytes)
      assert(n == 4 + (id % 5).toInt && w == 6 + (id % 5).toInt && h == 5 + (id % 6).toInt)
      // sequential walk: find movi, collect 00dc payload positions
      var sequential = List.empty[(Int, Int)]
      var pos = 12
      while (pos + 8 <= bytes.length) {
        val cid = new String(bytes, pos, 4, "US-ASCII")
        val len = (bytes(pos + 4) & 0xff) | ((bytes(pos + 5) & 0xff) << 8) |
          ((bytes(pos + 6) & 0xff) << 16) | ((bytes(pos + 7) & 0xff) << 24)
        if (cid == "LIST" && new String(bytes, pos + 8, 4, "US-ASCII") == "movi") {
          var p = pos + 12
          while (p + 8 <= pos + 8 + len) {
            val flen = (bytes(p + 4) & 0xff) | ((bytes(p + 5) & 0xff) << 8) |
              ((bytes(p + 6) & 0xff) << 16) | ((bytes(p + 7) & 0xff) << 24)
            sequential ::= (p + 8, flen)
            p += 8 + flen + (flen & 1)
          }
        }
        pos += 8 + len + (len & 1)
      }
      assert(idxFrames.toList == sequential.reverse,
        s"idx1 seek targets diverge from the linear walk for doc $id")
      // every indexed payload is a JPEG (SOI marker)
      idxFrames.foreach { case (at, _) =>
        assert((bytes(at) & 0xff) == 0xff && (bytes(at + 1) & 0xff) == 0xd8)
      }
    }
    val bad = Multimodal.aviBytesOf(1L).clone()
    bad(8) = 'X'.toByte // break the 'AVI ' fourcc
    intercept[IllegalArgumentException](Multimodal.parseAvi(bad))
  }

  test("m11 sampled frames: real lossy decode inside tolerance on every sampled frame") {
    val df = Multimodal.mjpegFrames(spark, Sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every-2nd sampling: frame 0 always present, odd frames never
    assert(rows.forall(_.getInt(1) % Multimodal.FrameStride == 0))
    assert(rows.forall(_.getBoolean(6)), "a sampled frame breached JPEG tolerance")
  }

  test("m04 real WAV round trip: header and PCM payload survive the codec") {
    val stats = Multimodal.audioStats(spark, Sf).collect()
    assert(stats.length == 500)
    stats.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == Multimodal.AudioRate)         // rate from DECODED header
      val n = 160 + (id % 97).toInt
      assert(r.getInt(2) == n, s"frame count from header, doc $id")
      assert(r.getInt(3) == n * 1000 / Multimodal.AudioRate)
      // ground truth from the md5 chain on the driver: the lossless-
      // codec claim is decode(encode(pcm)) == pcm
      val s = Multimodal.samplesOf(id, n)
      assert(r.getLong(4) == s.map(v => math.abs(v).toLong).sum, s"sum_abs doc $id")
      assert(r.getLong(5) == s.map(v => v.toLong * v).sum, s"sum_sq doc $id")
      assert(r.getInt(6) == s.min && r.getInt(7) == s.max)
    }
  }

  test("wav fixture generator is byte-identical to AudioSystem.write for the fixed PCM16LE format") {
    // wavBytesOf writes the RIFF header by hand (the javax.sound entry
    // points all take a JVM-global provider lock — see its doc); this
    // pins the claim that the bytes are exactly what the JDK encoder
    // would have produced, so the decode legs still exercise a real
    // codec against a real container.
    (0L to 40L).foreach { id =>
      val manual = Multimodal.wavBytesOf(id)
      val n = 160 + (id % 97).toInt
      val s = Multimodal.samplesOf(id, n)
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        pcm(2 * i) = (s(i) & 0xff).toByte
        pcm(2 * i + 1) = ((s(i) >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(Multimodal.AudioRate.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      assert(java.util.Arrays.equals(manual, bos.toByteArray), s"doc $id WAV bytes diverge from AudioSystem")
    }
  }

  test("m09: per-pair diff energy matches the synthetic frame chains, cuts gated exactly") {
    val rows = Multimodal.sceneChanges(spark, Sf).collect()
    val docs = graft.tables.Tables.documents(spark, Sf).select("doc_id")
      .collect().map(_.getLong(0))
    // one row per consecutive frame pair of every clip
    assert(rows.length == docs.map(id => (4 + id % 5).toInt - 1).sum)
    val byDoc = rows.groupBy(_.getLong(0))
    docs.take(25).foreach { id =>
      val (w, h) = (6 + (id % 5).toInt, 5 + (id % 6).toInt)
      val n = 4 + (id % 5).toInt
      val got = byDoc(id).sortBy(_.getInt(1))
      assert(got.map(_.getInt(1)).toSeq == (1 until n))
      got.foreach { r =>
        val f = r.getInt(1)
        val a = Multimodal.framePixelsOf(id, f, w, h)
        val b = Multimodal.framePixelsOf(id, f - 1, w, h)
        val energy = a.zip(b).map { case (x, y) => math.abs(x - y).toLong }.sum
        assert(r.getInt(2) == n && r.getInt(3) == w * h)
        assert(r.getLong(4) == energy, s"doc $id frame $f energy")
        assert(r.getBoolean(5) == (energy * 3 > w.toLong * h * 256))
      }
    }
  }

  test("m08 sniffs every blob's format from magic bytes and dispatches the right decoder") {
    val rows = Multimodal.mediaSniff(spark, Sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val expect = (r.getLong(0) % 3) match {
        case 0 => "png"; case 1 => "wav"; case _ => "gif"
      }
      assert(r.getString(1) == expect, s"doc ${r.getLong(0)} misdetected as ${r.getString(1)}")
      assert(r.getInt(2) > 0 && r.getLong(3) > 0L)
    }
  }

  test("m07 audio downsample: 2:1 decimation through a full codec round trip") {
    val rows = Multimodal.audioResample(spark, Sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == Multimodal.AudioRate / 2)     // rate from the RE-decoded header
      val n = 160 + (id % 97).toInt
      assert(r.getInt(2) == n / 2, s"half the frames, odd tail dropped, doc $id")
      // ground truth: the 2-tap box filter over the md5-chain samples
      val s = Multimodal.samplesOf(id, n)
      val down = (0 until n / 2).map(j => (s(2 * j) + s(2 * j + 1)) / 2)
      assert(r.getLong(3) == down.map(v => math.abs(v).toLong).sum, s"sum_abs doc $id")
      assert(r.getInt(4) == down.min && r.getInt(5) == down.max, s"min/max doc $id")
    }
  }

  test("m05 real GIF round trip: container frame count and sampled rasters match") {
    val frames = Multimodal.videoFrames(spark, Sf).collect()
    // every doc contributes ceil(n_frames / stride) sampled frames
    val perDoc = frames.groupBy(_.getLong(0))
    assert(perDoc.size == 500)
    frames.foreach { r =>
      val (id, f) = (r.getLong(0), r.getInt(1))
      assert(f % Multimodal.FrameStride == 0)
      assert(r.getInt(2) == 4 + (id % 5).toInt, s"n_frames from container, doc $id")
      val (w, h) = (6 + (id % 5).toInt, 5 + (id % 6).toInt)
      assert(r.getInt(3) == w && r.getInt(4) == h)
      val px = Multimodal.framePixelsOf(id, f, w, h)
      assert(r.getLong(6) == px.map(_.toLong).sum, s"sum_px doc $id frame $f")
      assert(r.getInt(7) == px.min && r.getInt(8) == px.max)
    }
  }

  test("m06 image near-dup: every brightness-shifted twin pair is found at low hamming") {
    val pairs = Multimodal.imageNearDup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val twinPairs = pairs.filter { case (a, b, _) => b - a == Multimodal.ImgTwinOffset }
    val nDocs = graft.tables.Tables.documents(spark, Sf).count()
    assert(twinPairs.length == nDocs,
      s"expected all $nDocs twin pairs, found ${twinPairs.length}")
    assert(pairs.forall(_._3 <= Multimodal.PhashHammingMax))
    // uniform brightness shift preserves gradient signs except where
    // both pixels clamp: twins sit at hamming 0-2 on this fixture
    assert(twinPairs.forall(_._3 <= 2), "twin hamming distance drifted")
    val plan = Multimodal.imageNearDup(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "phash candidate generation must stay an equi-join")
  }

  test("resize and frame-sample keep the batch contracts") {
    val resized = Multimodal.resizePartitions(spark, Sf).collect()
    assert(resized.length == 500)
    resized.foreach { r =>
      assert(r.width == 32 && r.height == 24)
      assert(r.media.nonEmpty && r.media.length <= 600)
    }
    val frames = Multimodal.sampleFrames(spark, Sf).collect()
    assert(frames.nonEmpty)
    // stride 4: only frame indices ≡ 0 (mod 4); ≥1 frame per doc
    assert(frames.forall(_.frame_idx % 4 == 0))
    assert(frames.map(_.doc_id).distinct.length == 500)
  }

  test("backfill over a range is idempotent through the partitioned load") {
    val d = java.sql.Date.valueOf(_: String)
    SparkTestBase.withTempDir("graft_backfill") { dir =>
      val tmp = dir.toString
      val slice = graft.streaming.DailyIngest.backfill(spark, Sf, d("2024-01-10"), d("2024-01-15"))
        .withColumnRenamed("d", "date")
      // the ts bound before the aggregate changes no row: the slice is
      // the whole-table daily aggregate cut to the range
      val whole = graft.streaming.DailyIngest.batchDaily(spark, Sf)
        .filter(col("d").between(lit("2024-01-10"), lit("2024-01-15")))
      assert(slice.collect().toSeq == whole.collect().toSeq && slice.count() > 0)
      graft.ops.Ingest.loadDailyPartitioned(spark, slice, tmp)
      graft.ops.Ingest.loadDailyPartitioned(spark, slice, tmp) // the re-run
      val n = spark.read.parquet(tmp).count()
      assert(n == slice.count()) // duplicates would double this
    }
  }

  test("s09 stream-static enrichment equals the batch join over closed windows") {
    import org.apache.spark.sql.functions.{broadcast, count, date_sub, lit, max, round, sum, to_date}
    val streamRows = graft.streaming.StreamJoin.streamStaticEnrich(spark, Sf).collect()
    val dim = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = graft.tables.Tables.events(spark, Sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), to_date(col("ts")).as("d"))
      .agg((round(sum("value"), 2) / count("value")).as("mean_value"),
           count(lit(1)).as("n"))
    val maxD = batch.agg(max("d")).head().getDate(0)
    val batchRows = batch.filter(col("d") < date_sub(lit(maxD), 1))
      .orderBy("segment", "d").collect()
    assert(streamRows.nonEmpty && streamRows.length == batchRows.length)
    streamRows.zip(batchRows).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming daily ingest equals the batch computation (Kappa)") {
    // append-mode drain emits exactly the watermark-closed windows: the
    // batch result minus the last two (still-open) days
    val streamRows = graft.streaming.DailyIngest.streamDaily(spark, Sf).collect()
    val batch = graft.streaming.DailyIngest.batchDaily(spark, Sf)
    val maxD = batch.agg(org.apache.spark.sql.functions.max("d")).head().getDate(0)
    val batchRows = batch
      .filter(col("d") < org.apache.spark.sql.functions.date_sub(lit(maxD), 1))
      .collect()
    assert(streamRows.length == batchRows.length && streamRows.nonEmpty)
    streamRows.zip(batchRows).foreach { case (s, b) => assert(s == b) }
  }

  test("d35: twin pairs verify at dist = la−lb (pure suffix deletion); sims valid") {
    val rows = Dedup.editDistancePairs(spark, Sf).collect()
    assert(rows.nonEmpty)
    val lens = Dedup.corpus(spark, Sf)
      .select(col("doc_id"), length(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    var twinChecked = 0
    rows.foreach { r =>
      val (a, b, d, sim) = (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
      assert(a < b)
      assert(d >= 0 && d <= Dedup.EditMax)
      val (la, lb) = (lens(a), lens(b))
      assert(math.abs(la - lb) <= d, s"length gap lower-bounds distance: $a/$b")
      assert(math.abs(sim - (1.0 - d.toDouble / math.max(la, lb))) == 0.0)
      if (b == a + Dedup.TwinIdOffset) { // suffix deletion: dist is exactly the gap
        assert(d == la - lb, s"twin $a dist=$d expected ${la - lb}")
        twinChecked += 1
      }
    }
    assert(twinChecked > 10, s"only $twinChecked twin pairs verified")
  }

  test("d37 exact all-pairs join: contains every LSH pair at ≥ its threshold, identical jaccards") {
    val exact = Dedup.allPairsJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // d03's verified pairs are TRUE pairs; those at ≥ AllPairsThreshold
    // must ALL reappear (recall 1), bit-identically scored
    val lshHigh = Dedup.lshJaccardPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter(_._2 >= Dedup.AllPairsThreshold).toMap
    assert(lshHigh.nonEmpty, "fixture has no high-jaccard pairs")
    lshHigh.foreach { case (k, j) =>
      assert(exact.get(k).contains(j), s"pair $k missing or rescored")
    }
    exact.foreach { case ((a, b), j) =>
      assert(a < b && j >= Dedup.AllPairsThreshold && j <= 1.0)
    }
  }

  test("m14: silence spans match a direct sample-level replay of the fixture") {
    import graft.llm.Multimodal
    val got = Multimodal.silenceSpans(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // replay: decode the fixture bytes OUTSIDE Spark and re-derive spans
    val ids = graft.tables.Tables.documents(spark, Sf)
      .select("doc_id").collect().map(_.getLong(0))
    val want = ids.toSeq.sorted.flatMap { id =>
      val bytes = Multimodal.wavSilBytesOf(id)
      val n = (bytes.length - 44) / 2
      val silent = (0 until (n + Multimodal.SilWin - 1) / Multimodal.SilWin).filter { w =>
        (w * Multimodal.SilWin until math.min((w + 1) * Multimodal.SilWin, n)).forall { i =>
          bytes(44 + 2 * i) == 0 && bytes(44 + 2 * i + 1) == 0
        }
      }
      // islands over consecutive silent window indices
      silent.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: tail, w) if w == e + 1 => (s, w.toLong) :: tail
        case (acc, w)                          => (w.toLong, w.toLong) :: acc
      }.reverse.map { case (s, e) => (id, s, e, e - s + 1) }
    }
    assert(got.toSeq == want)
  }

  test("s14 streaming session_window equals batch sessions minus the open tail (Kappa)") {
    import graft.streaming.Sessionize
    val streamRows = Sessionize.streamSessions(spark, Sf).collect()
    val maxTs = graft.tables.Tables.events(spark, Sf)
      .agg(org.apache.spark.sql.functions.max("ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - 24L * 3600 * 1000)
    val batchRows = Sessionize.sessions(spark, Sf)
      .filter(col("last_ts") + expr(s"INTERVAL ${Sessionize.GapHours} HOURS") <= lit(cutoff))
      .collect()
    assert(streamRows.nonEmpty && streamRows.length == batchRows.length,
      s"stream ${streamRows.length} vs batch-closed ${batchRows.length}")
    streamRows.zip(batchRows).foreach { case (s, b) => assert(s == b) }
  }

  test("d61: leakage verdicts agree with a window-ranked brute force") {
    // independent recomputation: rank the full heldout×train cross
    // product per heldout vec (the shape d61 deliberately avoids) and
    // compare nn/count columns row-for-row
    val emb = graft.tables.Tables.embeddings(spark, Sf)
      .withColumn("split", Sampling.splitCol(col("vec_id")))
    val heldout = emb.filter(col("split") =!= "train")
      .select(col("vec_id").as("test_vec_id"), col("embedding").as("te"))
    val train = emb.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("embedding"))
    val scored = heldout.crossJoin(train)
      .select(col("test_vec_id"), col("train_id"),
        round(cosineSimilarity(col("te"), col("embedding")), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("test_vec_id").orderBy(col("score").desc, col("train_id"))
    val want = scored
      .withColumn("rn", row_number().over(w))
      .groupBy("test_vec_id")
      .agg(max(when(col("rn") === 1, col("score"))).as("nn_score"),
        max(when(col("rn") === 1, col("train_id"))).as("nn_train_id"),
        sum(when(col("score") >= Similarity.LeakTau, 1L).otherwise(0L)).as("n_leaks"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    val got = Similarity.xsplitLeakage(spark, Sf).collect()
    assert(got.length == want.size && got.nonEmpty)
    got.foreach { r =>
      val (s, nn, k) = want(r.getLong(0))
      assert(r.getDouble(2) == s && r.getLong(3) == nn && r.getLong(4) == k,
        s"mismatch for heldout vec ${r.getLong(0)}")
      assert(r.getBoolean(5) == (s >= Similarity.LeakTau))
    }
    // the fixture threshold must exercise both verdicts
    assert(got.exists(_.getBoolean(5)) && got.exists(!_.getBoolean(5)))
  }

  test("t29: entropy bounds and a hand-computed document") {
    val out = TextStats.unigramEntropy(spark, Sf)
    // 0 ≤ entropy ≤ log2(n_distinct) (+ rounding slack); norm ∈ [0,1]
    assert(out.filter(col("entropy") < 0 ||
      col("entropy") > log2(col("n_distinct")) + 1e-6).isEmpty)
    assert(out.filter(col("norm_entropy") < 0 || col("norm_entropy") > 1 + 1e-9).isEmpty)
    val doc = graft.tables.Tables.documents(spark, Sf)
      .orderBy("doc_id").select("doc_id", "text").head()
    val counts = doc.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .groupBy(identity).map(_._2.length)
    val n = counts.sum.toDouble
    val h = (math.log(n) - counts.map(c => c * math.log(c)).sum / n) / math.log(2)
    val got = out.filter(col("doc_id") === doc.getLong(0)).head().getDouble(3)
    assert(math.abs(got - h) < 1e-5, s"doc ${doc.getLong(0)}: got $got want $h")
  }

  test("t30: exactly the md5-selected quarter is flagged, with 1-3+1 anomalies") {
    val out = graft.llm.TextPrep.mojibakeScan(spark, Sf).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { r =>
      val corrupt = (md.digest(s"${r.getLong(0)}:moji".getBytes("UTF-8"))(0) & 0xff) < 64
      md.reset()
      assert(r.getBoolean(4) == corrupt, s"doc ${r.getLong(0)} flag")
      if (corrupt) {
        assert(r.getLong(2) >= 1 && r.getLong(2) <= 3, "n_repl out of band")
        assert(r.getLong(3) == 1, "n_moji must be exactly 1")
      } else assert(r.getLong(2) == 0 && r.getLong(3) == 0)
    }
    val flagged = out.count(_.getBoolean(4))
    assert(flagged > 0 && flagged < out.length)
  }

  test("m20: clipping stats agree with the md5 sample chain") {
    val got = Multimodal.audioClipping(spark, Sf).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val vals = Multimodal.samplesOf(id, 160 + (id % 97).toInt)
      val clipped = vals.map(v => math.abs(v) >= Multimodal.ClipThresh)
      var run = 0; var maxRun = 0
      clipped.foreach { c => if (c) { run += 1; maxRun = math.max(maxRun, run) } else run = 0 }
      assert(r.getInt(1) == vals.length && r.getInt(2) == clipped.count(identity))
      assert(r.getInt(4) == maxRun && r.getInt(5) == vals.map(math.abs).max)
      assert(math.abs(r.getDouble(3) -
        math.rint(clipped.count(identity).toDouble / vals.length * 1e6) / 1e6) < 1e-12)
    }
    // the fixture must exercise real runs, not only isolated transients
    assert(got.exists(_.getInt(4) >= 2))
  }
}
