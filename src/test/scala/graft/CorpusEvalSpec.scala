package graft

import graft.llm.{Dedup, Sampling, Similarity, TextHash, TextStats}
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t24 zipf fit, t25 langid eval, d57 split drift — each checked
  * against a from-scratch driver-side recompute on the sf0.001 corpus
  * (small enough to collect; the sf0.01/sf0.1 parity is the DuckDB
  * oracle gate's job).
  */
class CorpusEvalSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private val sf = SparkTestBase.Sf

  private def collectedDocs: Seq[(Long, String, String, Long)] =
    Tables.documents(spark, sf)
      .select("doc_id", "lang", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  private def toks(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq

  test("t24: per-lang OLS matches a driver-side exact recompute") {
    val got = TextStats.zipfFit(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val docs = collectedDocs
    val langs = docs.map(_._2).distinct.sorted
    assert(got.keySet == langs.toSet)
    langs.foreach { lang =>
      val counts = docs.filter(_._2 == lang).flatMap(d => toks(d._3))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val ranked = counts.sortBy { case (w, c) => (-c, w) }
        .take(TextStats.ZipfTopK).zipWithIndex
        .map { case ((_, c), i) => (math.log((i + 1).toDouble), math.log(c.toDouble)) }
      val n = ranked.size
      val xbar = ranked.map(_._1).sum / n
      val ybar = ranked.map(_._2).sum / n
      val sxy = ranked.map { case (x, y) => (x - xbar) * (y - ybar) }.sum
      val sxx = ranked.map { case (x, _) => (x - xbar) * (x - xbar) }.sum
      val syy = ranked.map { case (_, y) => (y - ybar) * (y - ybar) }.sum
      val r = got(lang)
      assert(r.getAs[Long]("n_terms") == n.toLong, s"$lang n_terms")
      val slope = sxy / sxx
      assert(math.abs(r.getAs[Double]("slope") - slope) < 2e-6, s"$lang slope")
      assert(math.abs(r.getAs[Double]("intercept") - (ybar - slope * xbar)) < 2e-6, s"$lang intercept")
      assert(math.abs(r.getAs[Double]("r2") - sxy * sxy / (sxx * syy)) < 2e-6, s"$lang r2")
      // a rank-frequency head is nonincreasing in count, so the fit leans down
      assert(r.getAs[Double]("slope") <= 0.0, s"$lang slope sign")
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"$lang r2 range")
    }
  }

  test("t25: ppm scores match the confusion matrix of t01's predictions") {
    val preds = TextStats.langId(spark, sf)
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = collectedDocs
    val got = TextStats.langIdEval(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == TextStats.LangMarkers.map(_._1).toSet)
    got.foreach { case (lang, r) =>
      val nTrue = docs.count(_._2 == lang).toLong
      val nPred = docs.count(d => preds(d._1) == lang).toLong
      val tp = docs.count(d => d._2 == lang && preds(d._1) == lang).toLong
      assert(r.getAs[Long]("n_true") == nTrue, s"$lang n_true")
      assert(r.getAs[Long]("n_pred") == nPred, s"$lang n_pred")
      assert(r.getAs[Long]("tp") == tp, s"$lang tp")
      val p = if (nPred > 0) tp * 1000000L / nPred else 0L
      val rec = if (nTrue > 0) tp * 1000000L / nTrue else 0L
      val f1 = if (p + rec > 0) 2 * p * rec / (p + rec) else 0L
      assert(r.getAs[Long]("precision_ppm") == p, s"$lang precision")
      assert(r.getAs[Long]("recall_ppm") == rec, s"$lang recall")
      assert(r.getAs[Long]("f1_ppm") == f1, s"$lang f1")
    }
  }

  test("d57: KS ppm matches a driver-side exact CDF recompute") {
    val splits = Sampling.splitAssign(spark, sf)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = collectedDocs.map(d => (d._4, splits(d._1))) // (n_chars, split)
    val names = Seq("train", "val", "test")
    val totals = names.map(s => s -> docs.count(_._2 == s).toLong).toMap
    val xs = docs.map(_._1).distinct.sorted
    // running CDF per split at each distinct n_chars, same double math
    val cdf: Map[String, Seq[Double]] = names.map { s =>
      var cum = 0L
      s -> xs.map { x =>
        cum += docs.count(d => d._1 == x && d._2 == s)
        cum.toDouble / totals(s).toDouble
      }
    }.toMap
    def ks(a: String, b: String): Long = {
      val gap = cdf(a).zip(cdf(b)).map { case (fa, fb) => math.abs(fa - fb) }.max
      math.floor(gap * 1000000.0).toLong
    }
    val got = Sampling.splitDrift(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("train_val", "train_test", "val_test"))
    Seq(("train", "val"), ("train", "test"), ("val", "test")).foreach { case (a, b) =>
      val r = got(s"${a}_$b")
      assert(r.getAs[Long]("n_a") == totals(a), s"$a total")
      assert(r.getAs[Long]("n_b") == totals(b), s"$b total")
      assert(r.getAs[Long]("ks_ppm") == ks(a, b), s"${a}_$b ks")
      val k = r.getAs[Long]("ks_ppm")
      assert(k >= 0L && k <= 1000000L)
    }
  }

  test("d55: output equals a driver-side recompute; every variant is a 'norm' dup") {
    val docs = collectedDocs.map(d => (d._1, d._3))
    def norm(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
    val variants = docs.filter(_._1 % 4 == 0).map { case (id, text) =>
      (id + Dedup.NormIdOffset, (id % 3) match {
        case 0 => text.toUpperCase
        case 1 => "  " + text.replace(" ", "  ") + "  "
        case _ => text + " !!!"
      })
    }
    val all = docs ++ variants
    val expected = all.groupBy { case (_, t) => norm(t) }.values
      .filter(_.size > 1)
      .flatMap { grp =>
        val keeper = grp.minBy(_._1)
        grp.filterNot(_ == keeper).map { case (id, text) =>
          (id, keeper._1, if (text == keeper._2) "exact" else "norm")
        }
      }.toSet
    val got = Dedup.normDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expected)
    // every formatting variant differs from its keeper's raw bytes
    variants.foreach { case (id, _) =>
      assert(got.exists { case (d, _, kind) => d == id && kind == "norm" }, s"variant $id")
    }
  }

  test("d56: hard negatives match a driver-side exact recompute, margins included") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val expected = emb.filter(_._1 < Similarity.NumQueries).flatMap { case (qid, qe, qlabel) =>
      val scored = emb.filter(_._1 != qid)
        .map { case (vid, e, l) => (vid, l, round6(cos(qe, e))) }
      val topPos = scored.filter(_._2 == qlabel).map(_._3).max
      scored.filter(_._2 != qlabel)
        .sortBy { case (vid, _, s) => (-s, vid) }
        .take(Similarity.TopK).zipWithIndex
        .map { case ((vid, l, s), i) =>
          (qid, qlabel, vid, l, s, i + 1, round6(s - topPos)) }
    }.toSet
    val got = Similarity.hardNegatives(spark, sf).collect().map { r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5), r.getDouble(6))
    }.toSet
    assert(got == expected)
    // hard negatives are a strict subset of the unconstrained top-k space:
    // margin <= 0 unless a negative genuinely outscores every positive
    assert(got.exists(_._6 == 1)) // each probe has a rank-1 negative
  }

  test("t26: blocklist hits match a driver-side recompute") {
    import graft.llm.TextPrep
    val got = TextPrep.blocklistScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    collectedDocs.foreach { case (id, _, text, _) =>
      val ts = toks(text)
      val hits = ts.filter(TextPrep.Blocklist.contains)
      val r = got(id)
      assert(r.getAs[Int]("n_tokens") == ts.size, s"doc $id n_tokens")
      assert(r.getAs[Int]("n_hits") == hits.size, s"doc $id n_hits")
      assert(r.getAs[String]("hit_terms") == hits.distinct.sorted.mkString(","), s"doc $id terms")
      val pm = if (ts.nonEmpty) hits.size.toLong * 1000L / ts.size else 0L
      assert(r.getAs[Long]("hits_pm") == pm, s"doc $id pm")
      assert(r.getAs[Boolean]("keep") == (pm < TextPrep.BlocklistMaxPm), s"doc $id keep")
    }
  }

  test("s25: streamed vocab curve is Kappa-equal to the one-shot t20 scan") {
    val streamed = graft.streaming.StreamVocab.vocabIngest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val oneShot = TextStats.vocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSeq == oneShot.toSeq)
    // curve invariants: cumulative vocab is nondecreasing and ends at the total
    val sizes = streamed.map(_._4)
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b })
    assert(sizes.last == streamed.map(_._3).sum)
  }

  test("m19: decoded luminance histogram equals the md5-chain source pixels") {
    import graft.llm.{ImageHist, Multimodal}
    val got = ImageHist.lumHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getLong(3))).toMap
    val docIds = collectedDocs.map(_._1)
    docIds.foreach { id =>
      val w = 8 + (id % 9).toInt; val h = 8 + (id % 7).toInt
      val px = Multimodal.pixelsOf(id, w, h)
      val counts = px.groupBy(_ >> 5).view.mapValues(_.length).toMap
      counts.foreach { case (b, n) =>
        val (gn, gs) = got((id, b))
        assert(gn == n, s"doc $id bucket $b count")
        assert(gs == n.toLong * 1000L / (w * h), s"doc $id bucket $b share")
      }
      // no phantom buckets, and the histogram covers every pixel
      val rows = got.keys.filter(_._1 == id).map(_._2).toSet
      assert(rows == counts.keySet)
      assert(counts.values.sum == w * h)
    }
  }

  test("d58: cell purity matches a driver-side rank-1 assignment recompute") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val cents = Similarity.lloydCentroids(spark, sf)
    def cos(a: Array[Float], c: Seq[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = c(i)
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val assigned = emb.map { case (vid, e, l) =>
      val best = cents.map { case (cell, ce) => (cell, cos(e, ce)) }
        .minBy { case (cell, s) => (-s, cell) }._1
      (best, l)
    }
    val expected = assigned.groupBy(_._1).map { case (cell, ms) =>
      val byLabel = ms.groupBy(_._2).view.mapValues(_.size).toSeq
      val (topLabel, topN) = byLabel.minBy { case (l, n) => (-n, l) }
      cell -> (ms.size.toLong, topLabel, topN.toLong, topN.toLong * 1000L / ms.size)
    }
    val got = Similarity.cellPurity(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    // weighted purity is a genuine eval: every cell at most 1000 pm
    assert(got.values.forall(_._4 <= 1000L))
  }

  test("t27: Heaps fit matches a recompute from the t20 curve; degenerate r2 is NULL") {
    val vg = TextStats.vocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // decile, n_docs, vocab_size
      .sortBy(_._1)
    var cum = 0L
    val pts = vg.map { case (_, nd, vs) => cum += nd; (cum, vs) }
      .filter(_._2 > 0L)
      .map { case (d, v) => (math.log(d.toDouble), math.log(v.toDouble)) }
    val n = pts.length
    val xbar = pts.map(_._1).sum / n
    val ybar = pts.map(_._2).sum / n
    val sxy = pts.map { case (x, y) => (x - xbar) * (y - ybar) }.sum
    val sxx = pts.map { case (x, _) => (x - xbar) * (x - xbar) }.sum
    val syy = pts.map { case (_, y) => (y - ybar) * (y - ybar) }.sum
    val r = TextStats.heapsFit(spark, sf).collect().head
    assert(r.getAs[Long]("n_points") == n.toLong)
    assert(math.abs(r.getAs[Double]("beta") - sxy / sxx) < 2e-6)
    assert(math.abs(r.getAs[Double]("ln_k") - (ybar - (sxy / sxx) * xbar)) < 2e-6)
    if (syy > 0) assert(math.abs(r.getAs[Double]("r2") - sxy * sxy / (sxx * syy)) < 2e-6)
    else assert(r.isNullAt(r.fieldIndex("r2")))
  }

  test("t28: fertility sums are algebraically tied to t11's per-doc encode") {
    import graft.llm.Bpe
    val langOf = collectedDocs.map(d => d._1 -> d._2).toMap
    val t11 = Bpe.bpeTokens(spark, sf).collect()
      .map(r => (langOf(r.getLong(0)), r.getInt(1).toLong, r.getLong(2)))
    val expected = t11.groupBy(_._1).map { case (lang, rows) =>
      lang -> (rows.map(_._2).sum, rows.map(_._3).sum)
    }
    val chars = collectedDocs.groupBy(_._2).map { case (lang, ds) =>
      lang -> ds.map(d => toks(d._3).map(_.length).sum.toLong).sum
    }
    val got = Bpe.fertility(spark, sf).collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (lang, r) =>
      val (nw, nbpe) = expected(lang)
      assert(r.getAs[Long]("n_words") == nw, s"$lang n_words")
      assert(r.getAs[Long]("n_bpe_tokens") == nbpe, s"$lang n_bpe")
      assert(r.getAs[Long]("n_chars") == chars(lang), s"$lang n_chars")
      assert(r.getAs[Long]("chars_per_token_x1000") ==
        (if (nbpe > 0) chars(lang) * 1000L / nbpe else 0L), s"$lang cpt")
      assert(r.getAs[Long]("tokens_per_word_x1000") ==
        (if (nw > 0) nbpe * 1000L / nw else 0L), s"$lang tpw")
      // BPE merges only ever shorten the char split: 1000 <= cpt
      assert(r.getAs[Long]("chars_per_token_x1000") >= 1000L, s"$lang cpt bound")
    }
  }

  test("d59: keep rule matches d28's clusters; uniques always survive") {
    val d28 = Dedup.softDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = Dedup.softDedupSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got.map(g => (g._1, g._2, g._3)) == d28.map(identity))
    def phash56(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(7).map(b => f"$b%02x").mkString, 16)
    }
    got.foreach { case (id, _, size, kept) =>
      val expect = phash56(s"${Dedup.SoftSampleSeed}:$id") % size == 0
      assert(kept == expect, s"doc $id")
      if (size == 1L) assert(kept, s"unique $id must survive")
    }
    // expected yield ~1 per cluster: kept count lands near cluster count
    val clusters = got.map(_._2).distinct.size
    val keptN = got.count(_._4)
    assert(keptN >= clusters / 2 && keptN <= clusters * 2)
  }

  test("d60: snapshot diff classifies exactly the constructed deltas") {
    val got = Dedup.corpusDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    collectedDocs.foreach { case (id, _, _, _) =>
      // the ' upd' suffix is appended unconditionally, so every %5
      // survivor is 'changed' — including an empty-text doc
      if (id % 7 == 0) assert(got.get(id).contains("removed"), s"doc $id")
      else if (id % 5 == 0) assert(got.get(id).contains("changed"), s"doc $id")
      else assert(!got.contains(id), s"doc $id should be same")
      if (id % 4 == 0)
        assert(got.get(id + Dedup.NormIdOffset).contains("added"), s"variant of $id")
    }
    // the delta is the whole output: no statuses beyond the three
    assert(got.values.toSet.subsetOf(Set("added", "removed", "changed")))
  }

  test("m21: decoded luminance entropy/contrast match the md5-chain pixels") {
    import graft.llm.{ImageHist, Multimodal}
    val got = ImageHist.lumStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    collectedDocs.map(_._1).foreach { id =>
      val w = 8 + (id % 9).toInt; val h = 8 + (id % 7).toInt
      val px = Multimodal.pixelsOf(id, w, h)
      val counts = px.groupBy(identity).view.mapValues(_.length).toMap
      val n = w * h
      val clog = counts.values.toSeq.sorted
        .map(c => c * math.log(c.toDouble) / math.log(2.0)).sum
      val want = math.log(n.toDouble) / math.log(2.0) - clog / n
      val r = got(id)
      assert(r.getInt(1) == n && r.getInt(2) == counts.size, s"doc $id counts")
      assert(math.abs(r.getDouble(3) - want) < 1e-5, s"doc $id entropy")
      assert(math.abs(r.getDouble(4) - px.map(_.toLong).sum.toDouble / n) < 1e-5)
      assert(r.getDouble(3) >= 0 &&
        r.getDouble(3) <= math.log(counts.size.toDouble) / math.log(2.0) + 1e-6)
    }
  }

  test("t31: PMI top-K matches a driver-side exact recompute") {
    val texts = collectedDocs.map(_._3)
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val ws = toks(t)
      ws.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      ws.zip(ws.drop(1)).foreach(p => bi(p) = bi.getOrElse(p, 0L) + 1)
    }
    val nUni = uni.values.sum; val nBi = bi.values.sum
    val want = bi.toSeq
      .filter(_._2 >= TextStats.PmiMinCount)
      .map { case ((a, b), cab) =>
        val pmi = math.log(cab.toDouble * nUni * nUni /
          (nBi.toDouble * uni(a) * uni(b))) / math.log(2.0)
        (a, b, cab, pmi)
      }
      .sortBy { case (a, b, _, p) => (-math.rint(p * 1e6) / 1e6, a, b) }
      .take(TextStats.PmiTopK)
    val got = TextStats.pmiBigrams(spark, sf).collect()
    assert(got.length == math.min(TextStats.PmiTopK, want.length) && got.nonEmpty)
    got.zip(want).zipWithIndex.foreach { case ((g, (a, b, cab, pmi)), i) =>
      assert(g.getString(0) == a && g.getString(1) == b && g.getLong(2) == cab,
        s"rank ${i + 1}: got (${g.getString(0)},${g.getString(1)}) want ($a,$b)")
      assert(math.abs(g.getDouble(3) - pmi) < 1e-5, s"rank ${i + 1} pmi")
      assert(g.getInt(4) == i + 1)
    }
  }

  test("t32: burstiness matches a driver-side exact recompute") {
    val texts = collectedDocs.map(_._3)
    val perDoc = texts.map(t => toks(t).groupBy(identity).view.mapValues(_.length.toLong).toMap)
    val words = perDoc.flatMap(_.keys).distinct
    val d = perDoc.length.toLong
    val stats = words.map { w =>
      val cs = perDoc.map(_.getOrElse(w, 0L)).filter(_ > 0)
      val cf = cs.sum; val sumsq = cs.map(c => c * c).sum
      (w, cs.length.toLong, cf, sumsq.toDouble / cf - cf.toDouble / d)
    }.sortBy { case (w, _, cf, _) => (-cf, w) }.take(TextStats.BurstTopK)
    val got = TextStats.burstiness(spark, sf).collect()
    assert(got.length == stats.length && got.nonEmpty)
    got.zip(stats).foreach { case (g, (w, df, cf, vmr)) =>
      assert(g.getString(0) == w && g.getLong(1) == df && g.getLong(2) == cf)
      assert(math.abs(g.getDouble(3) - vmr) < 1e-5, s"word $w vmr")
    }
    // the synthetic corpus must show real burst spread, not all ~1
    assert(got.map(_.getDouble(3)).max > got.map(_.getDouble(3)).min + 0.01)
  }

  test("d62: ladder rates nest and match a driver-side recompute") {
    val ids = collectedDocs.map(_._1)
    val want = Sampling.LadderBps.map { r =>
      val kept = ids.filter(id =>
        TextHash.jvmHash(id.toString, Sampling.LadderSeed) % 10000L < r)
      (r, kept.length.toLong,
        kept.map(id => TextHash.jvmHash(id.toString, Sampling.LadderDigestSeed)
          % Sampling.LadderDigestMod).sum)
    }
    val got = Sampling.scalingLadder(spark, sf).collect()
    assert(got.length == Sampling.LadderBps.length)
    got.zip(want).foreach { case (g, (r, nd, dig)) =>
      assert(g.getInt(0) == r && g.getLong(1) == nd && g.getLong(3) == dig,
        s"rate $r")
    }
    // nesting: counts and token budgets are nondecreasing in rate
    val nds = got.map(_.getLong(1)); val nts = got.map(_.getLong(2))
    assert(nds.zip(nds.tail).forall { case (a, b) => a <= b })
    assert(nts.zip(nts.tail).forall { case (a, b) => a <= b })
    assert(nds.last > 0)
  }

  test("t33: held-out train-coverage matches a driver-side recompute") {
    val docs = collectedDocs
    def split(id: Long): String = {
      val b = TextHash.jvmHash(id.toString, Sampling.SplitSeed) % 100L
      if (b < Sampling.TrainPct) "train"
      else if (b < Sampling.TrainPct + Sampling.ValPct) "val" else "test"
    }
    def bigrams(t: String): Seq[String] = {
      val ws = toks(t); ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val dict = docs.filter(d => split(d._1) == "train")
      .flatMap(d => bigrams(d._3)).toSet
    val want = docs.filter(d => split(d._1) != "train").map { d =>
      val bs = bigrams(d._3)
      val cov = bs.count(dict.contains).toLong
      d._1 -> (split(d._1), bs.length.toLong, cov, cov * 1000L / bs.length)
    }.toMap
    val got = TextStats.trainCoverage(spark, sf).collect()
    assert(got.length == want.size && got.nonEmpty)
    got.foreach { r =>
      val (sp, nb, nc, pm) = want(r.getLong(0))
      assert(r.getString(1) == sp && r.getLong(2) == nb &&
        r.getLong(3) == nc && r.getLong(4) == pm, s"doc ${r.getLong(0)}")
    }
    // the corpus must exercise partial coverage, not a trivial all-1000
    assert(got.exists(_.getLong(4) < 1000L))
  }

  test("d63: centroid-drift cosines match a driver-side quantized recompute") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def split(id: Long): String = {
      val b = TextHash.jvmHash(id.toString, Sampling.SplitSeed) % 100L
      if (b < Sampling.TrainPct) "train"
      else if (b < Sampling.TrainPct + Sampling.ValPct) "val" else "test"
    }
    val sums = emb.groupBy(e => split(e._1)).view.mapValues { vs =>
      val s = new Array[Long](Similarity.Dim)
      vs.foreach(v => (0 until Similarity.Dim).foreach(i =>
        s(i) += math.floor(v._2(i).toDouble * Similarity.QuantScale + 0.5).toLong))
      s
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until Similarity.Dim).foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    val got = Similarity.centroidDrift(spark, sf).collect()
    assert(got.length == 3)
    got.foreach { r =>
      val want = cos(sums(r.getString(0)), sums(r.getString(1)))
      assert(math.abs(r.getDouble(4) - want) < 1e-5,
        s"${r.getString(0)}-${r.getString(1)}: got ${r.getDouble(4)} want $want")
      assert(r.getDouble(4) >= -1.0 - 1e-9 && r.getDouble(4) <= 1.0 + 1e-9)
      assert(r.getLong(2) > 0 && r.getLong(3) > 0)
    }
  }

  test("s26: streamed leak alerts equal the batch d61 report's leaked rows (Kappa)") {
    val streamed = graft.streaming.StreamLeak.leakAlerts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    val batch = Similarity.xsplitLeakage(spark, sf)
      .filter(col("leaked"))
      .select("test_vec_id", "split", "nn_score", "nn_train_id", "n_leaks")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(streamed.nonEmpty, "fixture must produce at least one leak alert")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("d71: layered graph build + ef-search equals a driver-side exact replay") {
    import graft.llm.GraphAnn
    val M = GraphAnn.M
    val rows = GraphAnn.buildInputs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2), r.getLong(3)))
    val vecs: Map[Long, Array[Float]] = rows.map(r => r._1 -> r._2).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(q: Long, v: Long): Double = r6(cos(vecs(q), vecs(v)))
    val lvl: Map[Long, Int] = rows.map(r =>
      r._1 -> (if (r._4 % 16 == 0) 2 else if (r._4 % 4 == 0) 1 else 0)).toMap
    def edges(l: Int): Map[Long, Seq[Long]] = {
      val mem = rows.toSeq.filter(r => lvl(r._1) >= l)
      mem.groupBy(_._3).values.toSeq
        .flatMap { g =>
          for (a <- g; b <- g if a._1 != b._1) yield (a._1, b._1)
        }
        .distinct.groupBy(_._1).map { case (u, vs) =>
          u -> vs.map(_._2).map(v => (score(u, v), v))
            .sortBy { case (s, v) => (-s, v) }.take(M).map(_._2)
        }
    }
    val (e0, e1, e2) = (edges(0), edges(1), edges(2))
    val maxLevel = lvl.values.max
    val top = lvl.collect { case (v, l) if l == maxLevel => v }.toSeq
    val queries = vecs.keys.filter(_ < graft.llm.Similarity.NumQueries).toSeq.sorted
    val replay = queries.flatMap { q =>
      var cur = top.map(v => (score(q, v), v)).minBy { case (s, v) => (-s, v) }._2
      def hop(e: Map[Long, Seq[Long]]): Unit = {
        val cand = (cur +: e.getOrElse(cur, Seq.empty)).distinct
        cur = cand.map(v => (score(q, v), v)).minBy { case (s, v) => (-s, v) }._2
      }
      (1 to GraphAnn.HopsL2).foreach(_ => hop(e2))
      (1 to GraphAnn.HopsL1).foreach(_ => hop(e1))
      var visited = Set(cur)
      var frontier = Seq(cur)
      (1 to GraphAnn.EfRounds).foreach { _ =>
        visited = visited ++ frontier.flatMap(v => e0.getOrElse(v, Seq.empty))
        frontier = visited.toSeq.map(v => (score(q, v), v))
          .sortBy { case (s, v) => (-s, v) }.take(GraphAnn.Ef).map(_._2)
      }
      visited.toSeq.filter(_ != q).map(v => (score(q, v), v))
        .sortBy { case (s, v) => (-s, v) }.take(graft.llm.Similarity.TopK)
        .zipWithIndex.map { case ((s, v), i) => (q, v, s, i + 1) }
    }
    val got = GraphAnn.annHnsw(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got.nonEmpty)
    assert(got == replay, "Spark d71 disagrees with the driver replay")
  }

  test("d61: over-bound partition-pair cartesian branch equals the broadcast plan") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    val bcast = rows(Similarity.xsplitLeakage(spark, sf))
    // bound of 16 forces the chunked non-broadcast path on the fixture
    val chunked = rows(Similarity.xsplitLeakageBounded(spark, sf, 16L))
    assert(bcast.nonEmpty)
    assert(chunked == bcast,
      "the two join strategies must be plan-only variants of one query")
  }

  test("t34: TextRank equals a driver-side exact integer power iteration") {
    import graft.llm.{Graph, TextRank}
    // driver replay of the fixed-point recurrence on the same graph
    val edges0 = collectedDocs.flatMap { d =>
      val ws = toks(d._3)
      ws.zip(ws.drop(1)).filter { case (a, b) => a != b }
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }
    }.distinct
    val sym = edges0 ++ edges0.map(_.swap)
    val deg = sym.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nodes = deg.keys.toSeq.sorted
    val n = nodes.size.toLong
    val tele = (Graph.PrScale * 15L / 100L) / n
    var r = nodes.map(_ -> Graph.PrScale / n).toMap
    (1 to Graph.PrIters).foreach { _ =>
      val in = sym.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(id => id -> (tele + 85L * in.getOrElse(id, 0L) / 100L)).toMap
    }
    val want = r.toSeq.sortBy { case (w, pr) => (-pr, w) }.take(TextRank.TopK)
    val got = TextRank.keywords(spark, sf).collect()
    assert(got.length == math.min(TextRank.TopK, n).toInt)
    got.zip(want).zipWithIndex.foreach { case ((g, (ww, wpr)), i) =>
      assert(g.getString(0) == ww && g.getLong(2) == wpr && g.getInt(3) == i + 1,
        s"rank ${i + 1}: got (${g.getString(0)}, ${g.getLong(2)}) want ($ww, $wpr)")
      assert(g.getLong(1) == deg(ww), s"deg of $ww")
    }
    // total mass is conserved up to truncation leak: n·tele + 85% of total
    assert(r.values.sum <= Graph.PrScale && r.values.sum > Graph.PrScale * 9L / 10L)
  }

  test("t35: Simpson diversity matches a driver-side exact recompute") {
    val got = TextStats.simpsonDiversity(spark, sf).collect()
    val byLang = collectedDocs.groupBy(_._2)
    assert(got.map(_.getString(0)).toSeq == byLang.keys.toSeq.sorted)
    got.foreach { r =>
      val counts = byLang(r.getString(0)).flatMap(d => toks(d._3))
        .groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
      val (nt, v, ss) = (counts.sum, counts.size.toLong, counts.map(c => c * c).sum)
      assert(r.getLong(1) == nt && r.getLong(2) == v && r.getLong(3) == ss)
      assert(math.abs(r.getDouble(4) - nt.toDouble * nt / ss) < 1e-5)
      assert(math.abs(r.getDouble(5) - nt.toDouble * nt / (ss * v)) < 1e-5)
      // inv_simpson is bounded by the vocabulary it spreads over
      assert(r.getDouble(4) >= 1.0 && r.getDouble(4) <= v.toDouble + 1e-9)
    }
  }

  test("d64: kNN reciprocity matches a driver-side exact recompute") {
    val all = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val step = (all.length + Similarity.KnnPanelTarget - 1) / Similarity.KnnPanelTarget
    val panel = all.filter(_._1 % step == 0)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until Similarity.Dim).foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    def r6(d: Double): Double =
      new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val edges = panel.flatMap { case (u, eu) =>
      panel.filter(_._1 != u)
        .map { case (v, ev) => (v, r6(cos(eu, ev))) }
        .sortBy { case (v, s) => (-s, v) }
        .take(Similarity.KnnK).map { case (v, _) => (u, v) }
    }.toSet
    val got = Similarity.knnReciprocity(spark, sf).collect()
    assert(got.length == panel.length)
    got.foreach { r =>
      val u = r.getLong(0)
      val out = edges.filter(_._1 == u)
      val in = edges.count(_._2 == u).toLong
      val mut = out.count { case (_, v) => edges.contains((v, u)) }.toLong
      assert(r.getLong(1) == out.size.toLong && r.getLong(2) == in &&
        r.getLong(3) == mut && r.getLong(4) == mut * 1000L / out.size, s"node $u")
    }
    // the panel must exercise asymmetry (hubness), not a trivial all-mutual graph
    assert(got.exists(_.getLong(4) < 1000L))
    assert(got.map(_.getLong(3)).sum > 0L)
  }

  test("d65: label anisotropy matches a driver-side quantized recompute") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val got = Similarity.labelAnisotropy(spark, sf).collect()
    assert(got.map(_.getInt(0)).toSeq == emb.map(_._3).distinct.sorted.toSeq)
    got.foreach { r =>
      val vs = emb.filter(_._3 == r.getInt(0))
      val s = new Array[Long](Similarity.Dim)
      var qsum = 0L
      vs.foreach { v =>
        (0 until Similarity.Dim).foreach { i =>
          val q = math.floor(v._2(i).toDouble * Similarity.QuantScale + 0.5).toLong
          s(i) += q; qsum += q * q
        }
      }
      val ssq = s.map(x => x.toDouble * x).sum
      val topDim = (0 until Similarity.Dim).minBy(i => (-math.abs(s(i)), i))
      assert(r.getLong(1) == vs.length.toLong, s"label ${r.getInt(0)} n_vecs")
      assert(r.getInt(2) == topDim, s"label ${r.getInt(0)} top_dim")
      assert(math.abs(r.getDouble(3) - s(topDim).toDouble * s(topDim) / ssq) < 1e-5)
      assert(math.abs(r.getDouble(4) - ssq / (vs.length.toDouble * qsum)) < 1e-5)
      // Cauchy-Schwarz: |Σx|² ≤ n·Σ|x|², so the ratio is a true fraction
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
  }

  test("m22: decoded gradient stats equal the md5-chain source pixels") {
    import graft.llm.{ImageHist, Multimodal}
    val got = ImageHist.gradientStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    collectedDocs.map(_._1).foreach { id =>
      val w = 8 + (id % 9).toInt; val h = 8 + (id % 7).toInt
      val px = Multimodal.pixelsOf(id, w, h)
      var tot = 0L; var mx = 0
      (0 until h).foreach { r =>
        (0 until w - 1).foreach { c =>
          val d = math.abs(px(r * w + c + 1) - px(r * w + c))
          tot += d; if (d > mx) mx = d
        }
      }
      val (gn, gt, gm, gx) = got(id)
      assert(gn == h * (w - 1) && gt == tot && gx == mx, s"doc $id")
      assert(math.abs(gm - tot.toDouble / (h * (w - 1))) < 1e-5, s"doc $id mean")
    }
  }

  test("s27: streamed budget report is Kappa-equal to the one-shot prefix sum") {
    val got = graft.streaming.StreamBudget.budgetIngest(spark, sf).collect()
    val textOf = collectedDocs.map(d => d._1 -> d._3).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val grouped = docs.groupBy(_._2)
    assert(got.map(_.getString(0)).toSeq == grouped.keys.toSeq.sorted)
    got.foreach { r =>
      val ds = grouped(r.getString(0)).map(_._1).sorted
        .map(id => id -> toks(textOf(id)).size.toLong)
      val total = ds.map(_._2).sum
      val cums = ds.scanLeft(0L)(_ + _._2).drop(1)
      val kept = cums.count(_ <= graft.streaming.StreamBudget.BudgetTokens).toLong
      val cutoff = ds.zip(cums)
        .find(_._2 > graft.streaming.StreamBudget.BudgetTokens).map(_._1._1)
      assert(r.getLong(1) == ds.size.toLong && r.getLong(2) == total, s"${r.getString(0)} totals")
      assert(r.getBoolean(3) == (total > graft.streaming.StreamBudget.BudgetTokens))
      assert(r.getLong(4) == kept, s"${r.getString(0)} kept")
      assert(Option(r.get(5)).map(_.asInstanceOf[Long]) == cutoff, s"${r.getString(0)} cutoff")
    }
    // the fixture must exercise both fates
    assert(got.exists(_.getBoolean(3)) && got.exists(r => r.getLong(4) > 0L))
  }

  test("t36: per-doc char entropy matches a driver-side exact recompute") {
    val got = TextStats.charEntropy(spark, sf).collect()
    val want = collectedDocs.map(d => d._1 -> d._3).toMap
    assert(got.length == want.size)
    got.foreach { r =>
      val cs = want(r.getLong(0)).toSeq.groupBy(identity).view
        .mapValues(_.size.toLong).values.toSeq
      val n = cs.sum
      val ent = (math.log(n.toDouble) - cs.map(c => c * math.log(c.toDouble)).sum / n) /
        math.log(2.0)
      assert(r.getLong(1) == n && r.getLong(2) == cs.size.toLong, s"doc ${r.getLong(0)}")
      assert(math.abs(r.getDouble(3) - ent) < 1e-5, s"doc ${r.getLong(0)} entropy")
      // 0 ≤ H ≤ log2(distinct levels)
      assert(r.getDouble(3) >= 0.0 &&
        r.getDouble(3) <= math.log(cs.size.toDouble) / math.log(2.0) + 1e-9)
    }
  }

  test("t37: mismatch list is exactly t01's disagreement set, margins consistent") {
    val preds = TextStats.langId(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(r.length - 1),
          TextStats.LangMarkers.map(_._1).zipWithIndex
            .map { case (l, i) => l -> r.getInt(i + 1) }.toMap)).toMap
    val tags = collectedDocs.map(d => d._1 -> d._2).toMap
    val want = preds.filter { case (id, (pred, _)) => pred != tags(id) }
    val got = TextStats.langMismatch(spark, sf).collect()
    assert(got.length == want.size && got.nonEmpty, "fixture must exercise mismatches")
    got.foreach { r =>
      val id = r.getLong(0)
      val (pred, scores) = want(id)
      assert(r.getString(1) == tags(id) && r.getString(2) == pred, s"doc $id")
      val (st, sp) = (scores.getOrElse(tags(id), 0), scores.getOrElse(pred, 0))
      assert(r.getInt(3) == st && r.getInt(4) == sp, s"doc $id scores")
      assert(r.getInt(5) == sp - st, s"doc $id margin")
      // pred is the argmax, so the margin can never be negative
      assert(r.getInt(5) >= 0, s"doc $id argmax margin")
    }
  }

  test("d70: cell balance ties exactly to d58's rank-1 assignment") {
    val bal = Similarity.cellBalance(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val k = Similarity.cellCount(spark, sf)
    assert(bal.keySet == (0 until k).toSet, "one row per centroid, empty included")
    val purity = Similarity.cellPurity(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = Tables.embeddings(spark, sf).count()
    assert(bal.values.map(_._1).sum == n, "rank-1 assignment partitions the corpus")
    bal.foreach { case (cell, (nv, share, load)) =>
      assert(nv == purity.getOrElse(cell, 0L), s"cell $cell count vs d58")
      assert(share == nv * 1000L / n && load == nv * k * 1000L / n,
        s"cell $cell ratios")
    }
    // the audit must see real imbalance on this fixture, not uniform cells
    assert(bal.values.map(_._3).max > 1000L, "some cell above uniform load")
  }

  test("t38: source-overlap Jaccard matches a driver-side set recompute") {
    val srcOf = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bigrams(t: String): Set[String] = {
      val ws = toks(t); ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }.toSet
    }
    val sets = collectedDocs.groupBy(d => srcOf(d._1)).view
      .mapValues(_.map(d => bigrams(d._3)).reduce(_ ++ _)).toMap
    val srcs = sets.keys.toSeq.sorted
    val got = TextStats.sourceOverlap(spark, sf).collect()
    assert(got.length == srcs.size * (srcs.size - 1) / 2)
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa & sb).size.toLong
      assert(r.getLong(2) == sa.size.toLong && r.getLong(3) == sb.size.toLong, s"$a-$b sizes")
      assert(r.getLong(4) == inter, s"$a-$b intersection")
      assert(r.getLong(5) == inter * 1000000L / (sa.size + sb.size - inter), s"$a-$b jaccard")
    }
    // the fixture's shared vocabulary must produce real overlap AND real variation
    assert(got.exists(_.getLong(5) > 0L))
    assert(got.map(_.getLong(5)).distinct.length > 1)
  }

  test("d69: budget selection equals a driver-side quality-prefix recompute") {
    val docs = collectedDocs.map { d =>
      val ts = toks(d._3)
      val nStop = ts.count(TextStats.Stopwords.contains)
      val alnum = ts.map(_.length).sum
      val q10 = (if (ts.size >= 20) 4 else 0) +
        (if (nStop.toDouble / ts.size >= 0.05 && nStop.toDouble / ts.size <= 0.5) 3 else 0) +
        (if (alnum.toDouble / ts.size >= 3.0 && alnum.toDouble / ts.size <= 10.0) 3 else 0)
      (d._1, q10, ts.size.toLong)
    }
    val ordered = docs.sortBy { case (id, q, _) => (-q, id) }
    val want = ordered.scanLeft((0L, (0L, 0, 0L))) { case ((cum, _), d) => (cum + d._3, d) }
      .drop(1).takeWhile(_._1 <= Sampling.SelBudget)
      .map { case (cum, (id, q, nt)) => (id, q, nt, cum) }
    val got = Sampling.budgetSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
    // the selection must be a true quality prefix: nothing unselected
    // outranks anything selected under (q10 DESC, doc_id)
    val selIds = got.map(_._1).toSet
    val boundary = ordered.indexWhere(d => !selIds.contains(d._1))
    assert(boundary == got.length, "selected rows are exactly the head of the order")
    // budget actually binds on this fixture
    assert(got.length < docs.length)
  }

  test("d67: label outliers match a driver-side quantized recompute") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def r6(d: Double): Double =
      new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val want = emb.groupBy(_._3).toSeq.sortBy(_._1).flatMap { case (lab, vs) =>
      val s = new Array[Long](Similarity.Dim)
      vs.foreach(v => (0 until Similarity.Dim).foreach { i =>
        s(i) += math.floor(v._2(i).toDouble * Similarity.QuantScale + 0.5).toLong
      })
      val ssq = s.map(x => x.toDouble * x).sum
      vs.map { v =>
        var dot = 0L; var qq = 0L
        (0 until Similarity.Dim).foreach { i =>
          val q = math.floor(v._2(i).toDouble * Similarity.QuantScale + 0.5).toLong
          dot += q * s(i); qq += q * q
        }
        (lab, v._1, r6(dot.toDouble / math.sqrt(qq.toDouble * ssq)))
      }.sortBy { case (_, id, c) => (c, id) }
        .take(Similarity.OutlierK).zipWithIndex
        .map { case ((l, id, c), i) => (l, id, c, i + 1) }
    }
    val got = Similarity.labelOutliers(spark, sf).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._4 == w._4, s"row $g vs $w")
      assert(math.abs(g._3 - w._3) < 1e-9, s"score $g vs $w")
      // a member can never be anti-aligned with a centroid it is part of
      // on this fixture; sanity-bound the score
      assert(g._3 >= -1.0 - 1e-9 && g._3 <= 1.0 + 1e-9)
    }
    // outliers must genuinely sit below their label's typical alignment
    assert(got.map(_._3).min < 1.0)
  }

  test("d68: lexical JSD matches a driver-side exact recompute") {
    def split(id: Long): String = {
      val b = TextHash.jvmHash(id.toString, Sampling.SplitSeed) % 100L
      if (b < Sampling.TrainPct) "train"
      else if (b < Sampling.TrainPct + Sampling.ValPct) "val" else "test"
    }
    val counts = collectedDocs.flatMap(d => toks(d._3).map(w => (split(d._1), w)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val splits = counts.keys.map(_._1).toSeq.distinct.sorted
    val totals = splits.map(s =>
      s -> counts.collect { case ((sp, _), c) if sp == s => c }.sum).toMap
    val vocab = counts.keys.map(_._2).toSeq.distinct
    val got = Sampling.lexicalDrift(spark, sf).collect()
    val pairs = for (a <- splits; b <- splits if a < b) yield (a, b)
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq == pairs)
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (na, nb) = (totals(a), totals(b))
      assert(r.getLong(2) == na && r.getLong(3) == nb)
      val log2 = math.log(2.0)
      var jsd = 0.0
      var bestGap = -1L; var bestW = ""; var bestPpm = 0L
      vocab.sorted.foreach { w =>
        val ca = counts.getOrElse((a, w), 0L); val cb = counts.getOrElse((b, w), 0L)
        if (ca + cb > 0) {
          val pa = ca.toDouble / na; val pb = cb.toDouble / nb
          if (ca > 0) jsd += pa * math.log(2.0 * pa / (pa + pb)) / log2
          if (cb > 0) jsd += pb * math.log(2.0 * pb / (pa + pb)) / log2
          val gap = math.abs(ca * nb - cb * na)
          if (gap > bestGap) { bestGap = gap; bestW = w; bestPpm = gap * 1000000L / (na * nb) }
        }
      }
      assert(math.abs(r.getDouble(4) - jsd / 2.0) < 1e-5, s"$a-$b jsd")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9, s"$a-$b jsd range")
      assert(r.getString(5) == bestW && r.getLong(6) == bestPpm, s"$a-$b top term")
    }
  }

  test("m23: decoded frame energies equal the md5-chain source samples") {
    import graft.llm.Multimodal
    val got = Multimodal.frameEnergy(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    collectedDocs.map(_._1).foreach { id =>
      val n = 160 + (id % 97).toInt
      val vs = Multimodal.samplesOf(id, n)
      val es = vs.grouped(Multimodal.EnergyFrame).filter(_.length == Multimodal.EnergyFrame)
        .map(_.map(v => v.toLong * v).sum).toSeq
      val (gn, gmin, gmax, gtot, gdr) = got(id)
      assert(gn == es.size && gmin == es.min && gmax == es.max && gtot == es.sum, s"doc $id")
      if (es.min > 0)
        assert(math.abs(gdr.get - es.max.toDouble / es.min) < 1e-5, s"doc $id dyn_range")
      else assert(gdr.isEmpty, s"doc $id null dyn_range")
    }
  }

  test("quantizer cell count: k pinned at gate scales, grows as sqrt(n) beyond") {
    // gate scales: every oracled SF sits below the 2312 breakpoint, so
    // the derived k is exactly the fixed-k era's 16 and every gated
    // hash is unchanged
    assert(Similarity.numCells(500) == 16)   // sf0.001 / sf0.01 embeddings
    assert(Similarity.numCells(2000) == 16)  // sf0.1 embeddings
    assert(Similarity.numCells(2311) == 16)
    assert(Similarity.numCells(2312) == 17)  // sqrt(2312/8) = 17.0
    // sqrt growth: 64x the corpus is 8x the cells
    assert(Similarity.numCells(8L * 1000 * 1000) == 1000)
    assert(Similarity.numCells(64L * 8 * 1000 * 1000) == 8000)
    // monotone non-decreasing over a sweep
    val ks = (1L to 200L).map(i => Similarity.numCells(i * 1000))
    assert(ks.zip(ks.tail).forall { case (a, b) => a <= b })
    // the SQL twin (as Spark evaluates it) agrees with the JVM formula
    val sqlK = spark.range(1, 40000, 37).selectExpr(
      "id AS n", s"greatest(16, CAST(floor(sqrt(id / 8.0)) AS INT)) AS k").collect()
    sqlK.foreach(r => assert(r.getInt(1) == Similarity.numCells(r.getLong(0)), s"n=${r.getLong(0)}"))
    // fixture pin: the gated corpus derives exactly 16
    assert(Similarity.cellCount(spark, sf) == 16)
  }

  test("quantizer derived branch: k > 16 end-to-end on a >2312-vector corpus") {
    import spark.implicits._
    // deterministic synthetic corpus above the breakpoint: n = 3000 ->
    // k = floor(sqrt(375)) = 19
    SparkTestBase.withTempDir("graft_kcells") { tmp =>
      val dir = tmp.toString
      val n = 3000
      (0 until n).map { id =>
        val e = (0 until 8).map(d => ((id * 31 + d * 17) % 101 - 50) / 50.0f)
        (id.toLong, e)
      }.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      assert(Similarity.cellCount(spark, dir) == 19)
      val cents = Similarity.lloydCentroids(spark, dir)
      assert(cents.nonEmpty && cents.size <= 19, s"got ${cents.size} centroids")
      assert(cents.forall { case (c, e) => c >= 0 && c < 19 && e.size == 8 })
      // the audit covers the full derived cell range and partitions the corpus
      val bal = Similarity.cellBalance(spark, dir).collect()
      assert(bal.map(_.getInt(0)).toSet == (0 until 19).toSet)
      assert(bal.map(_.getLong(1)).sum == n.toLong)
    }
  }
}
