package graft

import graft.api.{EveGraph, HttpApi}
import graft.fixtures.StarMap
import graft.store.EveStore
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Drives the HTTP surface over real sockets: route queries, 404 semantics,
  * refresh endpoints changing subsequent answers (reference §2.11). */
class HttpApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val (api, port) = {
    val dir = java.nio.file.Files.createTempDirectory("evestore-http").toString
    val eng = new EveGraph(new EveStore(spark, dir))
    eng.bootstrap(StarMap.source(withWormholes = false))
    val a = new HttpApi(eng, () => StarMap.source(withWormholes = true))
    (a, a.start())
  }

  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("GET /shortest-route returns the JSON name array") {
    assert(get("/shortest-route/Jita/to/Amarr") ===
      (200, """["Jita","Perimeter","Urlen","Amarr"]"""))
  }

  test("GET /safest-route avoids the corridor (lazy risk projection)") {
    assert(get("/safest-route/Jita/to/Amarr") ===
      (200, """["Jita","SafeA","SafeB","SafeC","Amarr"]"""))
  }

  test("unreachable or unknown → 404 route not found") {
    assert(get("/shortest-route/Jita/to/Island1") ===
      (404, """{"error":"route not found"}"""))
    assert(get("/shortest-route/Jita/to/Nowhere")._1 === 404)
  }

  test("the server runs with TCP_NODELAY (no delayed-ACK stall per response)") {
    assert(port > 0)
    assert(System.getProperty("sun.net.httpserver.nodelay") === "true")
  }

  test("unknown path and wrong method → 404") {
    assert(get("/nonsense")._1 === 404)
    assert(post("/shortest-route/Jita/to/Amarr")._1 === 404)
  }

  test("POST /wormholes/refresh changes the next shortest answer") {
    assert(post("/wormholes/refresh")._1 === 200)
    assert(get("/shortest-route/Jita/to/Amarr") ===
      (200, """["Jita","Thera","Amarr"]"""))
  }
}
