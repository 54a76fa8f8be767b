package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the mains and the test suite: a
  * local master on `cores` threads with as many shuffle partitions,
  * UTC session time zone, no UI and WARN logging, plus whatever extra
  * confs the caller passes.
  */
object LocalSession {
  def apply(cores: Int, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
