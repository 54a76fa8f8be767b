package graft

/** Dev tool: physical-plan audit over every SparkEntry query → a
  * markdown table (PLANS.md) of the scale-relevant plan facts —
  * exchange count, join strategies, scan pushdown, codegen span
  * count — so plan shapes can be reviewed without running anything.
  *
  * Usage: `runMain graft.PlanAudit [sfDir] [outFile]`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = LocalSession(8)

    val joinOps = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val qe = fn(spark, dir).queryExecution
        // structure (exchanges/joins/pushdown) from the PRE-execution
        // plan — the post-AQE string repeats each shuffle as stage +
        // exchange and would double-count
        val p0 = qe.executedPlan.toString
        // codegen marks only materialize in the adaptive plan AFTER
        // execution ("*(n)" operator prefixes; distinct stage ids)
        qe.toRdd.count()
        val p = qe.executedPlan.toString
        val exchanges = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
          .findAllIn(p0).length
        val joins = joinOps.filter(p0.contains).map(_.replace("Join", "")).mkString(" ")
        val pushedMark = if ("PushedFilters: \\[[A-Z]".r.findFirstIn(p0).isDefined) "yes" else ""
        val codegen = """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet.size
        f"| $name | $exchanges | ${if (joins.isEmpty) "—" else joins} | $pushedMark | $codegen |"
      } catch {
        case e: Throwable => s"| $name | — | ERROR ${e.getClass.getSimpleName} | | |"
      }
    }
    val header =
      s"""# Physical-plan audit (generated by `runMain graft.PlanAudit`, $dir)
         |
         |Per-query scale facts from `queryExecution.executedPlan`:
         |exchange count (each is one shuffle/broadcast boundary; the
         |presentation sort's rangepartitioning is included), join
         |strategies present, whether the parquet scan carries pushed
         |filters, and whole-stage-codegen span count. Streaming queries
         |report the FINAL batch plan of their drained result (the
         |streaming micro-batch plans live in the checkpoint, not here);
         |staging queries include their write-side exchanges. Queries whose
         |output is an eager `localCheckpoint` barrier (d61, d71-d75: small
         |bounded results checkpointed to cut multi-reference lineage or
         |pre-sort re-execution) report the materialized leaf — their
         |upstream plan shapes are asserted per stage in their specs
         |(SketchAndLmSpec, CorpusEvalSpec), and their per-stage times
         |are in the Bench record's `trace` section (`top_stages`).
         |
         || query | exchanges | joins | pushed filters | codegen spans |
         ||---|---|---|---|---|""".stripMargin
    val body = (header +: rows).mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
    println(s"[planaudit] wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
