package graft.ops

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The HTTP serving loop around [[PricingService]] — the end-to-end
  * analog of the reference's Flask `/price` endpoint (reference
  * `api.py:95-132`, served by gunicorn per `README.md:162`) with its
  * SLO contract (`tests/test_api.py:32`: every request < 6 s; the
  * concurrent probe at `tests/test_api.py:36-58` fires 10 simultaneous
  * requests).
  *
  * Protocol — the reference's actual transport, not an analog:
  * `GET /price` (POST also accepted) with a JSON body
  * `{"libelle_region":…,"nb_personne":N,"nb_m2":N}` (the reference
  * body, `api.py:106-108`; `requests.get(json=…)` sends a GET with a
  * JSON body, which the JDK server delivers like any entity). Three
  * outcomes, mirroring `api.py`'s:
  *   - 200 `{"price":N}` on success (`api.py:128`),
  *   - 400 `{"error":"Missing fields."}` for an incomplete body
  *     (`api.py:107-109`),
  *   - 500 `{"error":…}` for a malformed body (`api.py:130-132`),
  *     including an `nb_personne` or `nb_m2` that is not a JSON integer.
  * Unknown paths get Flask's 404.
  *
  * Serving shape: the heavy lifting (two distributed aggregates over
  * the events fact) happened in `PricingService.build`; each request
  * here is plain JVM arithmetic over the O(regions) collected
  * state, so the per-request cost is parsing + a map lookup + a dozen
  * double ops — microseconds against a 6-second SLO, and INDEPENDENT
  * of fact-table size. The server holds one state for its lifetime:
  * refreshing after a daily ingest is `PricingService.build` again
  * (incremental, O(new day)) and a new `PricingServer` on the result.
  *
  * Transport: the JDK server leaves Nagle on, so a keep-alive reply
  * waits about 44 ms for the client's delayed ACK of its headers; that
  * floor, not the pricing arithmetic, sets `/price` latency.
  *
  * Concurrency: the JDK's `HttpServer` dispatches each exchange onto a
  * fixed pool of 8 threads (`PoolSize`). [[PricingService.price]] is
  * pure (immutable Map + arithmetic) and the shared `ObjectMapper` is
  * thread-safe once configured, so requests need no synchronization.
  */
final class PricingServer(svc: PricingService) {
  import PricingServer.{Json, PoolSize}

  private val pool: ExecutorService = Executors.newFixedThreadPool(PoolSize)
  // loopback-only bind on an ephemeral port: this is a test/serving
  // fixture, never an externally reachable listener
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  server.createContext("/price", (ex: HttpExchange) => handle(ex))
  server.createContext("/", (ex: HttpExchange) =>
    reply(ex, 404, """{"error":"Not Found"}"""))
  server.start()

  /** The bound ephemeral port clients connect to. */
  def port: Int = server.getAddress.getPort

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    } catch {
      case _: java.io.IOException => // client went away mid-response
    } finally ex.close()
  }

  /** One exchange → one JSON response with the reference's status
    * codes (200 / 400 / 500, `api.py:107-132`).
    */
  private def handle(ex: HttpExchange): Unit = {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val node = Json.readTree(body)
      val ok = node != null && node.has("libelle_region") &&
        node.has("nb_personne") && node.has("nb_m2")
      if (!ok) reply(ex, 400, """{"error":"Missing fields."}""")
      else {
        def int(field: String): Int = node.get(field) match {
          case v if v.isIntegralNumber && v.canConvertToInt => v.intValue
          case v => throw new IllegalArgumentException(s"$field is not an integer: $v")
        }
        val req = PriceRequest(node.get("libelle_region").asText(), int("nb_personne"), int("nb_m2"))
        reply(ex, 200, s"""{"price":${svc.price(req)}}""")
      }
    } catch {
      case e: Exception =>
        reply(ex, 500,
          s"""{"error":${Json.writeValueAsString(String.valueOf(e.getMessage))}}""")
    }
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS): Unit
  }
}

object PricingServer {
  /** Handler threads per server. */
  private val PoolSize = 8
  private val Json = new ObjectMapper()
}
