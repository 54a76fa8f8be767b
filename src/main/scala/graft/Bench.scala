package graft

/** Driver-run benchmark: times every SparkEntry query at the target
  * scale factor and prints one JSON line.
  *
  * A full untimed pass at sf0.001 first warms the JVM (JIT, codegen
  * compilation, parquet reader init, streaming state machinery), then
  * a PRESTAGE phase builds every per-(data era, build) staged index
  * for the target dir outside any timed window — the production
  * shape, where the corpus-index job runs once per data era and
  * queries serve warm. Staging seconds are reported separately
  * (`staging` per-tag map + `staging_total_s`), so a regression in
  * index-build cost and a regression in query cost are each visible
  * on their own: round 6 shipped rc=1 because a cold build's staging
  * landed unattributed inside d18/s13's timed windows and breached
  * caps calibrated on warm references.
  *
  * Caches are cleared between timed queries so none borrows
  * another's work; any residual first-touch index build inside a
  * timed window (an index the prestage list missed) is measured via
  * `Staging.drainBuildLog` and reported as that query's `stage_s` —
  * the budget caps compare the query's NON-staging seconds, so the
  * gate grades plan quality, not whether the builder pre-warmed /tmp.
  *
  * Every timed query runs under a [[QueryTrace]]: the record file
  * carries a `trace` section with each query's construct/execute
  * split, jobs, stages, tasks, executor time, shuffle bytes, spill,
  * GC, task skew, planning phases, top stages, streaming trigger
  * phases and the facts and digest of the plan it ran — where the
  * time went, without a rerun — and a `provenance` section (git sha,
  * cores, JDK and Spark versions).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    // force FULL plan execution, not `count()`: under a count, Catalyst
    // prunes every column the aggregate doesn't need, so pure-projection
    // queries (the window suite, the JL projection, the scalar-function
    // sweeps) would be timed as bare scans. toRdd materializes every
    // output column of the final plan — what a real consumer would pay.
    def run(df: org.apache.spark.sql.DataFrame): Unit = { df.queryExecution.toRdd.count(): Unit }

    // optional subset (comma-separated name prefixes) for scale-stress
    // runs where the full suite would take hours on amplified fixtures
    val only = SparkEntry.selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val bench = SparkEntry.queries.filter(kv => only(kv._1))

    val warmDir = "/root/testdata/sf0.001"
    bench.foreach { case (_, fn) =>
      try { run(fn(spark, warmDir)) } catch { case _: Throwable => }
    }
    spark.catalog.clearCache()

    // prestage the target dir's per-era indexes as their own phase —
    // timed, reported per index family, and NEVER inside a query's
    // timed window (amortized corpus-era cost, not query cost).
    // SPARK_GRAFT_COLD_STAGE=1 wipes the era's staged indexes first so
    // the phase demonstrates the COLD build cost (cross-process reuse
    // otherwise makes the driver's prestage a warm metadata pass — the
    // round-10 verdict asked for both numbers to be demonstrable)
    if (sys.env.get("SPARK_GRAFT_COLD_STAGE").contains("1")) {
      val n = graft.ops.Staging.clearEraIndexes(sfDir)
      System.err.println(s"[bench] COLD_STAGE: cleared $n staged index dirs for $sfDir")
    }
    val stageT0 = System.nanoTime()
    val staged: Map[String, Double] =
      try graft.ops.Prestage.run(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] prestage FAILED (first-touch queries will pay it): $e")
          graft.ops.Staging.drainBuildLog()
      }
    val prestageSecs = (System.nanoTime() - stageT0) / 1e9
    spark.catalog.clearCache()
    System.gc()

    val trace = QueryTrace.register(spark)
    val results = bench.toSeq.sortBy(_._1).map { case (name, fn) =>
      graft.ops.Staging.drainBuildLog(): Unit
      // guide §1.5: label each query's jobs so an event-log / UI trace
      // maps stages back to the declared query
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      // a failing query must surface as err, not masquerade as a fast time
      val (err, planS) = try { (None, trace.run(name)(fn(spark, sfDir))(run)) }
                         catch { case e: Throwable => (Some(e.toString.take(200)), 0.0) }
      // timing stops HERE: the trace's plan read, cache clearing and the
      // GC nudge are not part of the measured query
      val wall = (System.nanoTime() - t0) / 1e9 - planS
      // any index build that ran inside this window is once-per-era
      // staging the prestage list missed — attribute it separately so
      // the cap grades the query, but keep it visible as stage_s
      val stageS = math.min(wall, graft.ops.Staging.drainBuildLog().values.sum)
      spark.sparkContext.setJobDescription(null)
      spark.catalog.clearCache()
      // nudge the ContextCleaner: loop queries leave orphaned
      // localCheckpoint RDD blocks that only a GC cycle releases, and
      // the resulting memory pressure taxes LATER queries' timings
      // (d05 measured 3.7x slower mid-suite than isolated)
      System.gc()
      (name, wall - stageS, stageS, err)
    }
    val qs = QueryTrace.obj(results.map { case (k, v, _, _) => k -> v.toString })
    val stageQ = results.collect { case (k, _, s, _) if s > 0.01 => k -> s.toString }
    val stageQJson = if (stageQ.isEmpty) "" else ""","stage_s":""" + QueryTrace.obj(stageQ)
    val stagedJson = ""","staging":""" + QueryTrace.obj(
      staged.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString } :+ ("total_s" -> prestageSecs.toString))
    val errs = results.collect { case (k, _, _, Some(e)) => k -> QueryTrace.str(e) }
    val errJson = if (errs.isEmpty) "" else ""","errors":""" + QueryTrace.obj(errs)
    val total = results.map(_._2).sum
    val wallTotal = total + results.map(_._3).sum + prestageSecs
    results.foreach { case (k, _, _, e) => e.foreach(msg => System.err.println(s"[bench] $k FAILED: $msg")) }
    // `total_s` is REPEATED as the LAST field: the driver keeps only a
    // fixed-size TAIL of stdout, and with 227 queries the per-query map
    // alone overflows it — rounds 7/8 lost the leading "value" field to
    // that truncation ("parsed": null in BENCH_r07/r08). Any tail that
    // carries the line's end now carries the total too.
    val head = s"""{"metric":"total","value":$total,"unit":"sec","wall_s":$wallTotal,"queries":$qs$stageQJson$stagedJson$errJson"""
    val tail = s""","sf":"$sfDir","n_queries":${results.size},"errors_n":${errs.size},"total_s":$total}"""
    val json = head + tail
    // Three-line stdout contract (the driver may keep only a head or a
    // tail window of stdout, and the full record alone overflows both):
    //   1. a SHORT summary line FIRST — survives tail-of-line loss and
    //      is the first parseable {"metric":"total"} a head-scanner hits;
    //   2. the FULL record (per-query map) — the durable copy, plus the
    //      per-query `trace` section, lands in the record file;
    //   3. a short "total_tail" line LAST — small enough that no tail
    //      window can cut it; the distinct metric name keeps a
    //      first-match parser from confusing it with the full record.
    val shortJson = s""""value":$total,"unit":"sec","wall_s":$wallTotal,"sf":"$sfDir","n_queries":${results.size},"errors_n":${errs.size}"""
    println(s"""{"metric":"total",$shortJson}""")
    println(json)
    println(s"""{"metric":"total_tail",$shortJson}""")
    // the stdout line is one long JSON record and the driver's tail
    // capture has truncated it mid-line before (BENCH_r03 lost its
    // total) — persist the same record, with the trace and provenance,
    // to a file as the durable copy. The default path is build output
    // (ignored), so a run never overwrites committed evidence.
    val traceJson = s""","provenance":${QueryTrace.provenance(spark)},"trace":${trace.section}"""
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "target/BENCH_LOCAL.json"))
    try {
      Option(outFile.toAbsolutePath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outFile, (head + traceJson + tail + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()

    // committed per-query budget at the gate SF (q16's round-4 creep to
    // 3.8 s was only visible by diffing JSON by hand — this makes drift
    // fail loudly). The cap is sized over the AMBIENT band of the
    // heaviest query, not the median: s13 (a two-trigger streaming
    // fold — per-trigger job latencies are its floor) measures
    // 8.3-9.2 s across same-code runs under the documented ~1.5×
    // same-code spread (SCALING.md; d11 itself swings 5.5-8.3 s), so
    // 8 s would false-fail on noise; 10 s still catches the class the
    // cap exists for (q16's 0.33→3.8 s creep, round-4 d23 at 9.2 s
    // before its staged-index fix was itself borderline — anything
    // new above 10 s is a real scale-killer). Checked AFTER the JSON
    // is printed and persisted so the evidence of a breach survives
    // the failure. Other SFs (the 32×/100× stress dirs) are exempt:
    // their per-query walls are the scaling study's subject, not a
    // regression gate. Caps compare each query's NON-staging seconds
    // (wall minus in-window index builds): once-per-era staging cost
    // is gated separately by the staging-phase cap below.
    val cap = sys.env.getOrElse("SPARK_GRAFT_QUERY_CAP_SECS", "10.0").toDouble
    if (sfDir.contains("sf0.1")) {
      // staging gets its own budget: the whole per-era index build for
      // sf0.1 (measured ~60-120 s cold across rounds 5-6; ambient can
      // ~1.5-3x it behind a cache-evicting oracle run)
      val stagingCap = sys.env.getOrElse("SPARK_GRAFT_STAGING_CAP_SECS", "300.0").toDouble
      val stagingTotal = prestageSecs + results.map(_._3).sum
      // per-query caps from the committed reference run (BENCH_REF.json,
      // refreshed each round) — parsing + formula live in [[BenchCaps]]
      // (tested). Round-11 measurement-bug fix, disclosed in
      // bench/OPTIMIZATION_r11.md: the old inline regex required no
      // whitespace after the colon, but BENCH_REF is produced by
      // tools/bench_median.py (python json.dump), which writes
      // `"name": <num>` — so the per-query gate silently parsed ZERO
      // refs and only the global cap ever applied. Now active:
      // cap = max(min(global, max(floor, mult·ref)), 1.6·ref) with
      // mult 4× for batch (above the documented ~1.5-3× ambient band,
      // catching the q16-creep class the global cap is blind to —
      // round-4 q16 crept 0.33→3.8 s unflagged) and 6× for streaming
      // legs, sized from the committed wave evidence: an induced fsync
      // wave inflates trigger-bound legs ~4× over their quiet refs on
      // identical code (BENCH_IOWAVE_r11: s20 8.25 s vs ref 2.00;
      // round 8 measured 6× before the tmpfs scratch), so 4× would
      // false-fail on the environment, not the code. Floors 2 s batch /
      // 3 s sub-second streaming / 5 s trigger-bound streaming; all
      // clipped by the global cap, so the round-10 breach class
      // (s13 13.9 s vs ref 3.9) still fails. Queries absent from the
      // reference (new this round) get the global cap only.
      val refCaps: Map[String, Double] =
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json"))), "UTF-8")
          BenchCaps.parse(txt, cap)
        } catch { case _: Throwable => Map.empty }
      val over = results.collect {
        case (k, v, _, None) if v > refCaps.getOrElse(k, cap) => (k, v, refCaps.getOrElse(k, cap))
      }
      over.foreach { case (k, v, c) =>
        System.err.println(f"[bench] BUDGET BREACH: $k took $v%.2f s > $c%.1f s cap")
      }
      if (stagingTotal > stagingCap)
        System.err.println(f"[bench] BUDGET BREACH: staging took $stagingTotal%.2f s > $stagingCap%.1f s cap")
      if (over.nonEmpty || stagingTotal > stagingCap) sys.exit(1)
    }
  }
}
