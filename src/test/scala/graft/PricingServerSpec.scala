package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ops.{Pricing, PricingServer, PricingService}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end HTTP serving contract, mirroring the reference's API
  * tests (`tests/test_api.py`): every served price equals the q13
  * batch price bit-for-bit, 10 concurrent clients are served
  * correctly, the 400/500 error contract holds, and per-request
  * latency is far inside the reference's < 6 s SLO
  * (`tests/test_api.py:32`). Requests are real `GET /price` with a
  * JSON body — the reference's own `requests.get(json=…)` shape.
  */
class PricingServerSpec extends AnyFunSuite {
  import SparkTestBase.{Sf, spark}

  private def get(client: HttpClient, port: Int, body: String,
                  path: String = "/price"): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .method("GET", HttpRequest.BodyPublishers.ofString(body))
        .build(),
      HttpResponse.BodyHandlers.ofString())

  private def quote(client: HttpClient, port: Int, mapper: ObjectMapper,
                    region: String, persons: Int, m2: Int): (Double, Long) = {
    val t0 = System.nanoTime()
    val resp = get(client, port,
      s"""{"libelle_region":${mapper.writeValueAsString(region)},"nb_personne":$persons,"nb_m2":$m2}""")
    val elapsed = System.nanoTime() - t0
    assert(resp.statusCode() == 200, s"expected 200, got ${resp.statusCode()}: ${resp.body()}")
    val node = mapper.readTree(resp.body())
    assert(node.has("price"), s"expected a price, got ${resp.body()}")
    (node.get("price").asDouble(), elapsed)
  }

  test("served prices over HTTP equal the q13 batch prices; latency well under the 6 s SLO") {
    val srv = new PricingServer(PricingService.build(spark, Sf))
    try {
      val batch = Pricing.priceBatch(spark, Sf).collect()
      assert(batch.length == 150)
      val client = HttpClient.newHttpClient()
      val mapper = new ObjectMapper()
      // the first requests pay one-time JIT + HttpClient/Jackson
      // classload (~10 ms); warm past that so the SLO assertion
      // measures the serving loop
      (1 to 5).foreach(_ => quote(client, srv.port, mapper, "EUROPE", 2, 50))
      val latencies = batch.map { r =>
        val (price, ns) = quote(client, srv.port, mapper, r.getString(1), r.getInt(2), r.getInt(3))
        assert(price == r.getDouble(6),
          s"custkey ${r.getLong(0)}: served $price != batch ${r.getDouble(6)}")
        ns
      }
      // the reference's SLO is 6 s per request; a warm request here is
      // parse + map lookup + arithmetic. Assert a 100x margin on the
      // MEDIAN (robust to a single GC/scheduler stall on a loaded box —
      // a 79 ms max flaked this test once under ambient load) and a
      // 10x margin on the absolute worst request
      val sorted = latencies.sorted
      val p50 = sorted(sorted.length / 2)
      assert(p50 < 6e7, s"median request ${p50 / 1e6} ms, expected < 60 ms")
      assert(latencies.max < 6e8, s"slowest request ${latencies.max / 1e6} ms, expected < 600 ms")
    } finally srv.close()
  }

  test("10 concurrent clients each get correct prices (the test_api.py:36 simultaneous probe)") {
    val srv = new PricingServer(PricingService.build(spark, Sf))
    try {
      val batch = Pricing.priceBatch(spark, Sf).collect()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 10).map { t =>
        new Thread(() => {
          try {
            val client = HttpClient.newHttpClient()
            val mapper = new ObjectMapper()
            // each client quotes a rotated slice so the 10 streams interleave
            batch.drop(t * 15).take(30).foreach { r =>
              val (price, _) = quote(client, srv.port, mapper, r.getString(1), r.getInt(2), r.getInt(3))
              if (price != r.getDouble(6))
                errors.add(s"client $t custkey ${r.getLong(0)}: $price != ${r.getDouble(6)}")
            }
          } catch { case e: Throwable => errors.add(s"client $t: $e") }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(30000))
      assert(errors.isEmpty, errors.toArray.mkString("; "))
    } finally srv.close()
  }

  test("incomplete and malformed bodies get the reference's 400/500 contract; unknown path 404") {
    val srv = new PricingServer(PricingService.build(spark, Sf))
    try {
      val client = HttpClient.newHttpClient()
      val incomplete = get(client, srv.port, """{"libelle_region":"EUROPE"}""")
      assert(incomplete.statusCode() == 400, s"got ${incomplete.statusCode()}")
      assert(incomplete.body() == """{"error":"Missing fields."}""")
      val malformed = get(client, srv.port, "not json at all")
      assert(malformed.statusCode() == 500, s"got ${malformed.statusCode()}")
      assert(malformed.body().startsWith("""{"error":"""),
        s"expected an error, got ${malformed.body()}")
      // a count that is not a JSON integer is malformed, not read as 0, 1 or truncated
      Seq(""""two"""", "null", "true", "2.5").foreach { v =>
        Seq(s""""nb_personne":$v,"nb_m2":50""", s""""nb_personne":2,"nb_m2":$v""").foreach { counts =>
          val bad = get(client, srv.port, s"""{"libelle_region":"EUROPE",$counts}""")
          assert(bad.statusCode() == 500, s"$counts: got ${bad.statusCode()} ${bad.body()}")
          assert(bad.body().startsWith("""{"error":"""), s"$counts: expected an error, got ${bad.body()}")
        }
      }
      val lost = get(client, srv.port, "{}", path = "/nope")
      assert(lost.statusCode() == 404, s"got ${lost.statusCode()}")
      // the server survives bad requests: a good one still works
      val mapper = new ObjectMapper()
      val (price, _) = quote(client, srv.port, mapper, "EUROPE", 2, 50)
      assert(price > 0)
    } finally srv.close()
  }
}
