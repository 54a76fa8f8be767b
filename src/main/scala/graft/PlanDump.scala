package graft

/** Dev tool: write each declared query's `.explain("formatted")` output
  * to `<outDir>/<query>_<suffix>.txt` — the per-round optimization
  * evidence (plans/r10/<query>_before.txt / _after.txt).
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> [prefixes]`
  * e.g.   `runMain graft.PlanDump /root/testdata/sf0.1 plans/r10 before q46,t17`
  *
  * Plans are the PRE-execution formatted physical plans (AQE initial
  * plan) — the deterministic artifact `.explain("formatted")` prints;
  * construction alone is enough, queries are not executed (only
  * streaming legs and eager barrier or loop `localCheckpoint`s drain
  * during construction, by their own design).
  *
  * The suffix `executed` dumps the EXECUTED plan instead: each query
  * runs (`toRdd.count` on its own QueryExecution, so that execution is
  * the one finalized) and the AQE-final `executedPlan` is written —
  * where runtime exchange/stage reuse (ReusedExchange, table-cache
  * hits) is visible, unlike the pre-execution formatted plan. E.g.
  * `runMain graft.PlanDump <sfDir> plans/r11 executed q58`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.drop(1).headOption.getOrElse("plans/r10")
    val suffix = args.drop(2).headOption.getOrElse("before")
    val only: String => Boolean = args.drop(3).headOption match {
      case Some(pfx) =>
        val ps = pfx.split(",").map(_.trim).filter(_.nonEmpty)
        name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = LocalSession(8)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val txt =
          if (suffix == "executed") {
            df.queryExecution.toRdd.count(): Unit
            df.queryExecution.executedPlan.toString
          } else df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
