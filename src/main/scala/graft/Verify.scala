package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * trace.json, the [[QueryTrace]] of the run with the plan each query
  * ran.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [prefixes]`; the
  * optional comma-separated name prefixes dump a subset (local
  * iteration only — the driver always runs the full set).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [comma-separated name prefixes]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only = SparkEntry.selected(args.lift(2))
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val trace = QueryTrace.register(spark)
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      // Materialize in parallel BEFORE coalescing: a bare coalesce(1)
      // propagates the 1-partition constraint through narrow deps and
      // serializes whole joins into one task. Coalescing the *cached*
      // partitions merely concatenates them in index order, which also
      // preserves the query's ORDER BY. The cache stays until the trace
      // has read its plan.
      try {
        val t0 = System.nanoTime()
        trace.run(name)(fn(spark, sfDir)) { out =>
          out.persist()
          out.count()
          out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/trace.json"),
      s"""{"sf":${QueryTrace.str(sfDir)},"provenance":${QueryTrace.provenance(spark)},"trace":${trace.section}}""")
    trace.close()
    // every control character escaped: a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${QueryTrace.str(k)}: ${QueryTrace.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
