package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** INI-style config source (SURVEY §2 S9) — the engine analog of the
  * reference's `configparser` bootstrap (reference `api.py:12-13`,
  * `config.cfg:1-6`: `[Section]` headers, `key = value` pairs). The
  * reference reads its warehouse project and service address from it;
  * here it carries the same class of deployment knobs: data directory,
  * pricing constants, shuffle sizing.
  *
  * Parsing is strict where it matters (bad numerics throw with the
  * offending key) and the whole object is immutable — config is read
  * once on the driver and closed over by the plans it parameterizes,
  * never consulted per-row.
  */
final case class AppConfig(sections: Map[String, Map[String, String]]) {

  def get(section: String, key: String): Option[String] =
    sections.get(section.toLowerCase).flatMap(_.get(key.toLowerCase))

  def getOrElse(section: String, key: String, default: String): String =
    get(section, key).getOrElse(default)

  def getDouble(section: String, key: String, default: Double): Double =
    get(section, key).map { v =>
      try v.toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"config [$section] $key: '$v' is not numeric") }
    }.getOrElse(default)

  def getInt(section: String, key: String, default: Int): Int =
    get(section, key).map { v =>
      try v.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"config [$section] $key: '$v' is not an int") }
    }.getOrElse(default)

  /** Pricing constants with the notice's values as defaults — a config
    * file can re-tariff a deployment without a code change.
    */
  def pricingParams: PricingParams = PricingParams(
    tariff     = getDouble("pricing", "tariff", Pricing.DefaultParams.tariff),
    monthlyFee = getDouble("pricing", "monthly_fee", Pricing.DefaultParams.monthlyFee),
    alphaLo    = getDouble("pricing", "alpha_lo", Pricing.DefaultParams.alphaLo),
    alphaHi    = getDouble("pricing", "alpha_hi", Pricing.DefaultParams.alphaHi))
}

final case class PricingParams(tariff: Double, monthlyFee: Double,
                               alphaLo: Double, alphaHi: Double)

object AppConfig {

  /** Empty config — every getter falls back to its default. */
  val empty: AppConfig = AppConfig(Map.empty)

  /** Parse an INI file: `[section]` headers, `key = value` lines, `#`/`;`
    * comments and blank lines ignored. Keys before any header land in
    * section "" (configparser would reject them; we keep them reachable).
    */
  def load(path: Path): AppConfig = parse(Files.readAllLines(path).asScala.toSeq)

  def load(path: String): AppConfig = load(Paths.get(path))

  def parse(lines: Seq[String]): AppConfig = {
    val sections = scala.collection.mutable.Map[String, Map[String, String]]()
    var current = ""
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith(";"))
      .foreach {
        case header if header.startsWith("[") && header.endsWith("]") =>
          current = header.substring(1, header.length - 1).trim.toLowerCase
        case kv =>
          val eq = kv.indexOf('=')
          require(eq > 0, s"config line is neither [section] nor key = value: '$kv'")
          val (k, v) = (kv.substring(0, eq).trim.toLowerCase, kv.substring(eq + 1).trim)
          sections(current) = sections.getOrElse(current, Map.empty) + (k -> v)
      }
    AppConfig(sections.toMap)
  }
}
