package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB checklist as executable
  * checks, not prose: pushdown reaches the scan, dimensions broadcast,
  * top-k never global-sorts, aggregates split partial/final.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase.{spark, Sf}

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("q01: filter and projection are pushed into the parquet scan") {
    val p = planOf("q01_pruned_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_linestatus), In(l_returnflag"),
      s"missing pushdown in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string,l_linestatus:string>"),
      s"scan reads more columns than needed:\n$p")
    assert(p.contains("ComputeOnce"), s"q01 lost its pre-sort guard:\n$p")
  }

  test("q11: dimension joins are broadcast, aggregation is partial+final") {
    val p = planOf("q11_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q28: as-of join is one window over a union — no nested-loop, one key shuffle") {
    val p = planOf("q28_asof_join")
    assert(!p.contains("NestedLoop"), s"as-of join fell into a nested loop:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"as-of should not need a join operator at all:\n$p")
  }

  test("q09: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("q09_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q26: bucketed join consumes co-located buckets — no exchange, no sort on the join") {
    val p = planOf("q26_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed join did not plan as SMJ:\n$p")
    // the join inputs are bucketed+sorted scans: the ONLY exchanges in
    // the whole plan belong to the aggregation and the final orderBy
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"bucketed join still shuffles its inputs ($exchanges exchanges):\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan is not bucket-aware:\n$p")
  }

  test("q59: aggregation on the bucket key needs NO exchange of its own") {
    val p = planOf("q59_bucketed_agg")
    // the bucketed scan already hash-distributes on o_custkey; the one
    // allowed exchange is the presentation orderBy's rangepartitioning
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"bucket-key aggregation still shuffles ($exchanges exchanges):\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan is not bucket-aware:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"aggregation inserted a hash exchange over the bucketed scan:\n$p")
  }

  test("q34: grouping sets plan as one Expand + one aggregate, not one pass per set") {
    val p = planOf("q34_grouping_sets")
    assert("Expand".r.findAllIn(p).length >= 1, p)
    // a per-marginal union would re-scan orders once per set
    assert(!p.contains("Union"), s"grouping sets fell back to a union of passes:\n$p")
  }

  test("t10: repetition metrics are map-side only — no exchange before the sort") {
    val p = planOf("t10_repetition")
    // one exchange is the final presentation ORDER BY; the metrics
    // themselves must not shuffle (no groupBy/join in the plan)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected only the ORDER BY exchange:\n$p")
    assert(!p.contains("HashAggregate"), s"metrics should fold in-row, not aggregate:\n$p")
  }

  test("q35: bloom probe filters the fact scan before the join") {
    val p = planOf("q35_bloom_join")
    assert(p.contains("bloom_might_contain"), s"no bloom probe in:\n$p")
    // the probe must sit on the lineitem (application) side, i.e.
    // appear as a Filter, not be folded into the join condition
    assert("Filter.*bloom_might_contain".r.findFirstIn(p.replace('\n', ' ')).isDefined, p)
  }

  test("q31: filtered date dim prunes fact partitions at runtime (DPP)") {
    val p = planOf("q31_partition_pruned")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("q13: request side joins alpha/M via broadcast (no request shuffle)") {
    val p = planOf("q13_price")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("backfill: the date range reaches the events scan as a pushed ts bound") {
    // the events table with `ts` as the fixture stores it (timestamp
    // without time zone, which `normalizeTs` casts) and as a plain
    // timestamp; the bound must reach the scan through the cast too
    import org.apache.spark.sql.functions.col
    val d = java.sql.Date.valueOf(_: String)
    for (ntz <- Seq(true, false)) SparkTestBase.withTempDir("graft_backfill_plan") { dir =>
      val ev = graft.tables.Tables.events(spark, Sf)
      (if (ntz) ev.withColumn("ts", col("ts").cast("timestamp_ntz")) else ev)
        .write.parquet(dir.resolve("events.parquet").toString)
      val p = graft.streaming.DailyIngest.backfill(spark, dir.toString, d("2024-01-10"), d("2024-01-15"))
        .queryExecution.executedPlan.toString
      val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse(fail(s"no scan in:\n$p"))
      assert(pushed.contains("GreaterThanOrEqual(ts,") && pushed.contains("LessThan(ts,"),
        s"ntz=$ntz: the ts bound did not reach the scan:\n$p")
    }
  }

  test("d05: pigeonhole candidate generation is an equi-join, never all-pairs") {
    val p = planOf("d05_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join leaked back into d05:\n$p")
    // the pairwise stage must ride the staged family contraction —
    // member-level chunk buckets square with the corpus copy factor
    assert(p.contains("ap_families"),
      s"d05 no longer reads the staged content-family index:\n$p")
  }

  test("d07: multi-probe is an equi-join on enumerated bucket keys, not an NLJ") {
    val p = planOf("d07_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"theta-probe NLJ leaked back into d07:\n$p")
  }

  test("d10: near-dup candidate generation is a shuffled equi-join on bucket, not all-pairs") {
    val p = planOf("d10_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join in d10:\n$p")
    // cross-family and within-family legs union after the rep-level
    // probe join — the vector-value contraction's plan signature
    assert(p.contains("Union"), s"d10 lost its contraction fan-out legs:\n$p")
  }

  test("q37: range join runs as a grain-bucketed equi-join, never a nested loop") {
    val p = planOf("q37_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to an all-pairs plan:\n$p")
  }

  test("d06: candidate scoring stays a broadcast loop over the query set") {
    val p = planOf("d06_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("cosine_similarity") || p.contains("cosinesimilarity") ||
           p.toLowerCase.contains("cosine"), s"native expression missing from plan:\n$p")
  }

  test("d23: incremental dedup joins incoming to existing on keyed buckets, never all-pairs") {
    val p = planOf("d23_incremental_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join in d23:\n$p")
  }

  test("d25: containment candidates are band-keyed equi-joins, never all-pairs") {
    val p = planOf("d25_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join in d25:\n$p")
  }

  test("t14: boilerplate df join is hash-keyed on the chunk, never all-pairs") {
    val p = planOf("t14_boilerplate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join in t14:\n$p")
  }

  test("q47: the SCD2 version chain is ONE window over the union, no nested loop") {
    val p = planOf("q47_scd2_dim")
    assert("Window".r.findAllIn(p).length >= 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"SCD2 merge fell back to an all-pairs plan:\n$p")
  }

  test("q38: all six analytic functions share ONE window shuffle") {
    val p = planOf("q38_window_suite")
    // two Window operators (running frame + unbounded frame) but only
    // one hashpartitioning exchange on o_custkey feeding both
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).length == 1,
      s"window suite shuffled more than once on o_custkey:\n$p")
  }

  test("q40: unpivot is a map-side Expand over the wide aggregate") {
    val p = planOf("q40_unpivot")
    assert(p.contains("Expand"), s"unpivot did not plan as Expand:\n$p")
    // only the wide aggregation's exchange + the presentation sort —
    // the Expand itself must not add a shuffle
    assert("hashpartitioning".r.findAllIn(p).length == 1,
      s"unpivot added a shuffle beyond the wide aggregation:\n$p")
  }

  test("q50: correlated LATERAL decorrelates to broadcast join + pruned window rank") {
    val p = planOf("q50_lateral_topk")
    // the per-outer-row ORDER BY … LIMIT must NOT re-execute per row
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral stayed a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation dim not broadcast:\n$p")
    // top-3-per-key is pruned map-side before the shuffle (partial
    // WindowGroupLimit), the same shape as a hand-written rank filter
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"missing map-side window group limit:\n$p")
  }

  test("t15: the quality classifier is a single map-side pass — no shuffle before the sort") {
    val p = planOf("t15_quality_logit")
    assert(!p.contains("hashpartitioning"),
      s"t15 shuffled before the presentation sort:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"), p)
  }

  test("q51: gap-fill is agg + one user window + explode — no calendar join") {
    val p = planOf("q51_gapfill")
    assert(!p.contains("Join"), s"gap-fill regressed to a calendar spine join:\n$p")
    // two keyed exchanges: the (user, day) partial agg and the user
    // window; the explode is map-side after the window
    assert("hashpartitioning".r.findAllIn(p).length <= 2,
      s"unexpected extra shuffle:\n$p")
    assert(p.contains("Generate"), s"interval explode missing:\n$p")
  }

  test("q52: every delta leg joins via broadcast of the small (delta) side") {
    val p = planOf("q52_delta_join")
    assert(!p.contains("CartesianProduct"), s"cartesian in delta join:\n$p")
    // the only nested-loop joins allowed are the 1-row cutoff-anchor
    // Cross fan-outs (the q48 scalar-anchor pattern) — a leg itself
    // must never nested-loop
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("Cross"), s"non-anchor NLJ leg:\n$l"))
    // the three delta legs broadcast their days-bounded side; only the
    // stored-state leg may shuffle history against history
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"delta legs lost their broadcast:\n$p")
  }

  test("q53: full outer reuses both legs' aggregate partitioning — join adds no exchange") {
    val p = planOf("q53_outer_reconcile")
    assert(p.contains("FullOuter"), s"not a full outer join:\n$p")
    // one hash exchange per aggregated leg; the SMJ consumes both
    // as-is (the rangepartitioning at the end is the presentation sort)
    assert("hashpartitioning".r.findAllIn(p).length == 2,
      s"full outer added an exchange beyond the two leg aggregates:\n$p")
  }

  test("d26: mixture accept is a broadcast threshold filter — the corpus never shuffles") {
    val p = planOf("d26_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), s"per-lang quotas not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the only exchange is the tiny per-lang count agg; the corpus side
    // is scan → broadcast-join → filter, with no window/rank sort
    assert("hashpartitioning".r.findAllIn(p).length == 1,
      s"d26 shuffled the corpus side:\n$p")
    assert(!p.toLowerCase.contains("windowgrouplimit") && !p.contains("Window"),
      s"d26 regressed to a rank-based sample:\n$p")
  }

  test("d27: epoch shuffle sorts within (epoch, shard) only — never a global order") {
    val p = planOf("d27_epoch_shuffle")
    // one exchange: the (epoch, shard) window; the presentation sort is
    // rangepartitioning and the explode/key/shard derivation is map-side
    assert("hashpartitioning".r.findAllIn(p).length == 1,
      s"d27 shuffled beyond the shard window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("m09: frame differencing never shuffles decoded frames") {
    val p = planOf("m09_scene_change")
    // one exchange total: the doc_id spread BEFORE the codec loop; the
    // per-pair diffs stay inside the task (rangepartitioning at the end
    // is the presentation sort)
    assert("hashpartitioning".r.findAllIn(p).length <= 1,
      s"m09 shuffled frame data:\n$p")
  }

  test("q16/q30: no unbounded Percentile buffer anywhere in the plan") {
    // the round-4 flagged scale-killer: the built-in `percentile`
    // aggregate (an ObjectHashAggregate holding the full per-group
    // value multiset) must not appear — the bounded two-pass plan
    // (graft.ops.Percentiles) replaces it with spillable hash aggs and
    // a windowed extraction over boundary buckets only
    for (q <- Seq("q16_stats", "q30_quantiles")) {
      val p = planOf(q)
      assert(!p.contains("percentile("), s"$q regressed to the buffering percentile:\n$p")
      assert(!p.contains("ObjectHashAggregate"),
        s"$q contains a non-spillable object-buffer aggregate:\n$p")
      assert(p.contains("Window"), s"$q lost the windowed extraction pass:\n$p")
    }
    // the sketch twin stays a fixed-size approx_percentile — never exact
    val p56 = planOf("q56_approx_quantiles")
    assert(p56.contains("approx_percentile"), p56)
  }

  test("q58: AQE detects and splits the skewed join partitions at runtime") {
    val df = SparkEntry.queries("q58_aqe_skew_join")(spark, Sf)
    df.collect() // AQE's final plan only exists after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"skew split only exists on the shuffle-join path:\n$p")
    assert(p.toLowerCase.contains("skew"),
      s"no skew-split marker on the executed adaptive plan:\n$p")
  }

  test("q57: CBO join reorder builds customer⋈nation BEFORE the fact join") {
    val df = SparkEntry.queries("q57_cbo_star")(spark, Sf)
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 2, s"expected a 2-join star, got ${joins.size}:\n$opt")
    // collect is pre-order, so the last Join is the innermost; written
    // order was (orders ⋈ customer) ⋈ nation — the statistics must have
    // flipped the tree so the two dims join first
    val inner = joins.last.output.map(_.name)
    assert(inner.forall(n => n.startsWith("c_") || n.startsWith("n_")),
      s"innermost join should touch only the two dims, got ${inner.mkString(",")}:\n$opt")
  }

  test("d37: verify uses the native sorted-intersect, never array_intersect") {
    // the scale contract: the exact verify's per-pair cost is the fused
    // two-pointer codegen loop (SortedIntersectCount), not the
    // allocating array_intersect composition it replaced. The rep-pair
    // leg is inspected pre-checkpoint (the shipped query truncates its
    // lineage before the expansion+sort).
    val fams = graft.llm.Dedup.contentFamilies(spark, Sf)
    val plan = graft.llm.Dedup.allPairsRepPairs(spark, Sf, fams).queryExecution.analyzed
    val exprs = plan.collect { case p => p.expressions }.flatten
      .flatMap(e => e +: e.collect { case c => c })
    assert(exprs.exists(_.isInstanceOf[graft.expr.SortedIntersectCount]),
      "expected SortedIntersectCount in the d37 verify plan")
    assert(!exprs.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.ArrayIntersect]),
      "array_intersect must not appear in the d37 verify plan")
  }

  test("d36/d38/d39: graph trio's pair source is the staged REP graph, not a member pipeline") {
    // the round-6 scale contract: the analytics consume the family-
    // contracted rep graph (copy-factor-invariant) — at query time the
    // pair source is ONE staged parquet scan, with no band join and no
    // shingle-array verify left in its plan; and the rep edge set is
    // never larger than the member-level pair set it contracts
    val (_, edges, _) = graft.llm.Dedup.contractedPairGraph(spark, Sf)
    val scan = edges.queryExecution.executedPlan.toString
    assert(scan.contains("rep_graph"), s"expected the staged rep_graph scan:\n$scan")
    assert(!scan.contains("band_hash") && !scan.contains("sorted_intersect_count"),
      s"rep graph must be staged, not recomputed per query:\n$scan")
    assert(edges.count() <= graft.llm.Dedup.lshJaccardPairs(spark, Sf).count())
  }

  test("d44: the prefix sum windows per-bucket — no single-partition global window") {
    val p = planOf("d44_token_shards")
    // every Window must be partitioned (partial window spec renders as
    // "windowspecdefinition(<order> ..." when no PARTITION BY exists)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("b#")),
      s"found a window not partitioned by bucket:\n${windows.mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d45: the per-cluster argmax is an aggregate, not a window sort") {
    val p = planOf("d45_quality_dedup")
    assert(!p.contains("windowspecdefinition"),
      s"d45 must not window over clusters:\n$p")
    assert(p.contains("max(struct("), s"struct-argmax aggregate missing:\n$p")
  }

  test("d46: the rerank broadcasts the shortlist — the vector table never shuffles") {
    val p = planOf("d46_ivf_rerank")
    // embeddings appear only behind BroadcastHashJoins (plus the tiny
    // query×centroid cross); no exchange repartitions the corpus scan
    assert(p.contains("BroadcastHashJoin"), p)
    val nljs = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(nljs.forall(_.contains("Cross")), s"non-cross NLJ:\n${nljs.mkString("\n")}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join in the serving path:\n$p")
  }

  test("q65: checks fuse into one pass per fact table, dims broadcast") {
    val p = planOf("q65_constraints")
    // each fact feeds ONE fused aggregate: exactly one lineitem scan
    // and two orders scans (the orders pass + the lineitem pass's fk
    // side) — k constraints never mean k jobs
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      s"lineitem scanned more than once:\n$p")
    assert("orders\\.parquet".r.findAllIn(p).length == 2,
      s"orders scanned beyond the two passes:\n$p")
    // the customer-key dim is broadcast; the lineitem⋈orders side is
    // deliberately NOT forced — Catalyst broadcasts it at this SF and
    // is free to shuffle it at fact scale
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d49: the bucket model broadcasts; no window/rank selection pass") {
    val p = graft.llm.Sampling.dsirLazy(spark, Sf)
      .queryExecution.executedPlan.toString
    // the 512-row log-ratio table and the 1-row totals are broadcast;
    // the corpus-side feature relation never nested-loops or windows
    assert(p.contains("BroadcastHashJoin"), s"lam not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val nljs = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(nljs.forall(_.contains("Cross")), s"non-cross NLJ:\n${nljs.mkString("\n")}")
    assert(!p.contains("windowspecdefinition"),
      s"d49 selection must be a threshold, not a rank window:\n$p")
  }

  test("d35: an explicit repartition feeds the Levenshtein stage") {
    // the AQE-density lesson: without it the DP cells serialize onto
    // the single-file corpus scan's one partition
    val fams = graft.llm.Dedup.contentFamilies(spark, Sf)
    val plan = graft.llm.Dedup.editDistanceRepPairs(spark, Sf, fams)
      .queryExecution.analyzed.toString
    assert(plan.contains("RepartitionByExpression"),
      s"expected an explicit repartition before the DP verify:\n${plan.take(2000)}")
    assert(plan.toLowerCase.contains("levenshtein"),
      "threshold levenshtein must be in the plan")
  }
}
