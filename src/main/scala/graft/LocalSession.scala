package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.SparkDateTimeUtils
import org.apache.spark.sql.graftbridge.SessionBridge

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

  /** The one way the engine scopes a SQL conf: a child of `parent` with
    * its current SQL conf, temporary functions and views, and `confs` on
    * top. Setting a conf on the caller's session and restoring it in a
    * `finally` is racy once two queries share it: A saves `true` and
    * sets `false`, B saves `false`, A restores `true`, B restores
    * `false`, and the session keeps `false` for good. Work moves to the
    * child and its result back with [[SessionBridge.rebind]].
    */
  def scoped(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val child = SessionBridge.cloneSession(parent)
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** `spark`'s session time zone, as Spark resolves it. */
  def zone(spark: SparkSession): java.time.ZoneId =
    SparkDateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))

  /** The one width rule: one partition per `perTask` units of `size`,
    * rounded up, at least `floor` and at most `cap` (the cap wins).
    */
  def width(size: Long, perTask: Long, floor: Int, cap: Int): Int =
    math.min(cap.toLong, math.max(floor.toLong, (size + perTask - 1) / perTask)).toInt
}
