package graft

import graft.ops.{AppConfig, Pricing, PricingParams}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private val sample = Seq(
    "# deployment knobs",
    "[Pricing]",
    "tariff = 0.20",
    "monthly_fee = 8.5",
    "",
    "[Data]",
    "sf_dir = /root/testdata/sf0.001",
    "; trailing comment")

  test("INI parse: sections, case-insensitive keys, comments, defaults") {
    val cfg = AppConfig.parse(sample)
    assert(cfg.get("pricing", "TARIFF").contains("0.20"))
    assert(cfg.getOrElse("data", "sf_dir", "x") == "/root/testdata/sf0.001")
    assert(cfg.getDouble("pricing", "monthly_fee", 0.0) == 8.5)
    assert(cfg.getDouble("pricing", "absent", 1.25) == 1.25)
    assert(cfg.getInt("nosuch", "key", 7) == 7)
  }

  test("bad numeric values fail loudly with the offending key") {
    val cfg = AppConfig.parse(Seq("[p]", "x = notanumber"))
    val e = intercept[IllegalArgumentException](cfg.getDouble("p", "x", 0.0))
    assert(e.getMessage.contains("x"))
  }

  test("file round trip") {
    SparkTestBase.withTempDir("graft_cfg") { dir =>
      val f = dir.resolve("app.cfg")
      java.nio.file.Files.write(f, String.join("\n", sample: _*).getBytes)
      assert(AppConfig.load(f).pricingParams.tariff == 0.20)
    }
  }

  test("config-driven pricing params flow into the priced result") {
    import spark.implicits._
    val defaults = AppConfig.empty.pricingParams
    assert(defaults == PricingParams(Pricing.Tariff, Pricing.MonthlyFee, 1.0, 1.3))
    val custom = AppConfig.parse(Seq("[pricing]", "tariff = 0.3116", "monthly_fee = 12.0")).pricingParams
    val df = Seq((1.0, 0.0, 12000.0)).toDF("alpha", "m", "x")
    val Array(defPrice, cfgPrice) = df.select(
      Pricing.monthlyPrice(defaults)(col("alpha"), col("m"), col("x")),
      Pricing.monthlyPrice(custom)(col("alpha"), col("m"), col("x")))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    // doubling the tariff doubles the consumption term; fee shifts by 6
    assert(math.abs((defPrice - 6.0) * 2 + 12.0 - cfgPrice) < 1e-9)
  }

  test("q62: the staged INI re-tariffs the flagship query (never the compiled defaults)") {
    val sf = SparkTestBase.Sf
    val cfg = Pricing.priceBatchFromConfig(spark, sf)
      .select("c_custkey", "price").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val def_ = Pricing.priceBatch(spark, sf)
      .select("c_custkey", "price").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cfg.keySet == def_.keySet)
    // CfgTariff > Tariff and CfgFee > MonthlyFee: every priced row moves up
    assert(cfg.forall { case (k, p) => p > def_(k) },
      "config override must change every price upward")
  }
}
