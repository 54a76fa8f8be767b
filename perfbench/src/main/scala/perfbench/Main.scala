package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It runs one workload against the engine's
  * public API and writes every raw sample, count and check outcome to a
  * JSON file; `run.py` turns that file into the reported metrics.
  *
  * Usage: Main --workload <name> --data <fixture dir> --warehouse <fixture dir>
  *        --work <scratch dir> --seed <n> --seconds <s> --trace <0|1> --out <file>
  */
object Main {

  /** Set-ups per untraced run; `setup_s` is their median. A traced run
    * sets up once: it reports per-layer metrics only.
    */
  val SetupReps = 3
  /** Days of `events` held back from the working copy for `daily_refresh`. */
  val HeldBackDays = 14
  /** Untimed refresh cycles before `daily_refresh`'s window. */
  val WarmCycles = 5

  final class Run(val spark: SparkSession, val trace: Trace, val opts: Map[String, String]) {
    val data: String = opts("data")
    val work: Path = Paths.get(opts("work"))
    val seed: Long = opts("seed").toLong
    val seconds: Double = opts("seconds").toDouble
    val setupReps: Int = if (trace.enabled) 1 else SetupReps
    val out = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.LinkedHashMap.empty[String, Long]
    private val started = System.nanoTime()
    private val phases = mutable.LinkedHashMap.empty[String, Double]
    out("phase_end_s") = phases

    /** Note the end of a phase, in seconds since the run started. */
    def phase(name: String): Unit = phases(name) = (System.nanoTime() - started) / 1e9

    def fail(kind: String): Unit = {
      failed += 1
      failures(kind) = failures.getOrElse(kind, 0L) + 1
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val trace = new Trace(opts("trace") == "1")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark.sparkContext)
    val run = new Run(spark, trace, opts)
    run.out("session_s") = (System.nanoTime() - t0) / 1e9
    try opts("workload") match {
      case "price_serve" => Serving.priceServe(run)
      case "daily_refresh" => Serving.dailyRefresh(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      // staged indexes live outside the checkout when the JVM could not
      // be given its own /tmp; leave none behind
      graft.ops.BenchHooks.clearEraIndexes(opts("warehouse"))
      spark.stop()
    }

    run.out("attempted") = run.attempted
    run.out("failed") = run.failed
    run.out("failures") = run.failures
    run.out("peak_rss_mb") = peakRssMb
    run.out("cpus") = cpus
    if (trace.enabled) run.out("layers") = Layers.report(run)
    Files.writeString(Paths.get(opts("out")), new ObjectMapper().writeValueAsString(toJava(run.out)))
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def toJava(x: Any): AnyRef = x match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => j.put(k.toString, toJava(v)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case o: AnyRef => o
  }
}
