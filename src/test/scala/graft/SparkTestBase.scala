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

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
