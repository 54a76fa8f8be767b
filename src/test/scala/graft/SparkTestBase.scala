package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object SparkTestBase {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = LocalSession(4, "spark.app.name" -> "graft-tests")

  /** Run `f` on a fresh temporary directory and delete it afterwards. */
  def withTempDir[T](prefix: String)(f: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir)
    finally deleteTree(dir)
  }

  /** Copy the fixture's tables into `root` and return it as a dataset
    * dir. The tables named in `asDirs` become directories holding the
    * fixture file as their one part, so a test can append a part.
    */
  def fixtureCopy(root: Path, asDirs: Set[String] = Set.empty): String = {
    val files = Files.list(Path.of(Sf))
    try files.forEach { f =>
      val name = f.getFileName.toString
      if (asDirs(name.stripSuffix(".parquet"))) {
        Files.createDirectories(root.resolve(name))
        Files.copy(f, root.resolve(name).resolve("part-00000.parquet"))
      } else Files.copy(f, root.resolve(name))
    } finally files.close()
    root.toString
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
