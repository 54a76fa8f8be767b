package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes to dump a subset
    // (local iteration only — the driver always runs the full set)
    val Array(sfDir, outDir) = args.take(2)
    val only: String => Boolean = args.drop(2).headOption match {
      case Some(p) => name => p.split(",").exists(name.startsWith)
      case None => _ => true
    }
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      // Materialize in parallel BEFORE coalescing: a bare coalesce(1)
      // propagates the 1-partition constraint through narrow deps and
      // serializes whole joins into one task. Coalescing the *cached*
      // partitions merely concatenates them in index order, which also
      // preserves the query's ORDER BY.
      try {
        val t0 = System.nanoTime()
        val out = fn(spark, sfDir).persist()
        out.count()
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        out.unpersist()
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
