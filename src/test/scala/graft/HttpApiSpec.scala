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

  /** A second server over the same map with names that need escaping:
    * the shortest Jita→Amarr corridor becomes Jita, "Peri+meter",
    * "Ur%len", "Am arr". */
  private lazy val oddPort = {
    import graft.sources.FixtureSource
    val renamed = Map(StarMap.Perimeter -> "Peri+meter", StarMap.Urlen -> "Ur%len",
      StarMap.Amarr -> "Am arr")
    val src = new FixtureSource(
      systems = StarMap.systemResponses.map(s =>
        renamed.get(s.system_id).fold(s)(n => s.copy(name = Some(n)))),
      stargates = StarMap.stargateResponses,
      kills = StarMap.killSnapshots,
      jumps = StarMap.jumpSnapshots)
    val dir = java.nio.file.Files.createTempDirectory("evestore-http-names").toString
    val eng = new EveGraph(new EveStore(spark, dir))
    eng.bootstrap(src)
    new HttpApi(eng, () => src).start()
  }

  private val client = HttpClient.newHttpClient()

  private def get(path: String, at: Int = port): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$at$path")).GET().build(),
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

  test("route names are percent-decoded once: '+' stays a plus") {
    assert(get("/shortest-route/Peri+meter/to/Am%20arr", oddPort) ===
      (200, """["Peri+meter","Ur%len","Am arr"]"""))
    assert(get("/shortest-route/Jita/to/Peri%2Bmeter", oddPort) ===
      (200, """["Jita","Peri+meter"]"""))
  }

  test("route names are percent-decoded once: '%' (sent as %25) is a name character") {
    assert(get("/shortest-route/Ur%25len/to/Am%20arr", oddPort) ===
      (200, """["Ur%len","Am arr"]"""))
    assert(get("/safest-route/Ur%25len/to/Jita", oddPort)._1 === 200)
  }

  test("route names are percent-decoded once: a space arrives as %20") {
    assert(get("/shortest-route/Am%20arr/to/Jita", oddPort) ===
      (200, """["Am arr","Ur%len","Peri+meter","Jita"]"""))
    assert(get("/shortest-route/Am+arr/to/Jita", oddPort)._1 === 404)
  }

  test("POST /wormholes/refresh changes the next shortest answer") {
    assert(post("/wormholes/refresh")._1 === 200)
    assert(get("/shortest-route/Jita/to/Amarr") ===
      (200, """["Jita","Thera","Amarr"]"""))
  }
}
