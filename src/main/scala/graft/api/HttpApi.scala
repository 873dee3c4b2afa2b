package graft.api

import graft.sources.EveSource

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

/** Thin HTTP wrapper completing the reference's public contract
  * (SURVEY.md §2.11, `/root/reference/src/main.rs:37-80,125-199`):
  *
  *   GET  /shortest-route/{from}/to/{to} → 200 JSON name array | 404
  *   GET  /safest-route/{from}/to/{to}   → same (lazy risk projection)
  *   POST /systems/refresh | /systems/risk | /stargates/refresh |
  *        /wormholes/refresh             → 200 on success
  *
  * Error mapping mirrors the reference: missing route/name → 404
  * `{"error":"route not found"}`; any engine failure → 500. Uses the JDK
  * server (zero extra dependencies); the engine does the actual work, so
  * this layer is ~100 lines of parsing and JSON.
  */
final class HttpApi(engine: EveGraph, source: () => EveSource) {

  private var server: Option[HttpServer] = None

  private def jsonArray(names: Seq[String]): String =
    names.map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private val RoutePattern = "/([a-z]+)-route/([^/]+)/to/([^/]+)".r

  /** Percent-decodes one raw path segment exactly once, by path rules:
    * `+` stays a literal plus (form decoding would make it a space).
    * Matching the raw path keeps an encoded `/` inside its segment. */
  private def decodeSegment(raw: String): String =
    URLDecoder.decode(raw.replace("+", "%2B"), StandardCharsets.UTF_8)

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getRawPath
      val method = ex.getRequestMethod
      (method, path) match {
        case ("GET", RoutePattern(kind, from, to)) =>
          val route = kind match {
            case "shortest" => engine.shortestRoute(decodeSegment(from), decodeSegment(to))
            case "safest" => engine.safestRoute(decodeSegment(from), decodeSegment(to))
            case _ => None
          }
          route match {
            case Some(names) => respond(ex, 200, jsonArray(names))
            case None => respond(ex, 404, """{"error":"route not found"}""")
          }
        case ("POST", "/systems/refresh") =>
          engine.refreshSystems(source()); respond(ex, 200, """{"ok":true}""")
        case ("POST", "/systems/risk") =>
          engine.refreshRisks(source()); respond(ex, 200, """{"ok":true}""")
        case ("POST", "/stargates/refresh") =>
          engine.refreshStargates(source()); respond(ex, 200, """{"ok":true}""")
        case ("POST", "/wormholes/refresh") =>
          engine.refreshWormholes(source()); respond(ex, 200, """{"ok":true}""")
        case _ =>
          respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
    }

  /** Start on the given port (0 = ephemeral); returns the bound port.
    *
    * Turns on TCP_NODELAY unless the JVM already sets it: the JDK server
    * writes the headers and the body as two segments, so with Nagle on the
    * body waits for the client's delayed ACK (~40 ms per response). The
    * server reads the property once, at the first `HttpServer.create` in
    * the JVM. */
  def start(port: Int = 0): Int = {
    val noDelay = "sun.net.httpserver.nodelay"
    if (System.getProperty(noDelay) == null) System.setProperty(noDelay, "true")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/", (ex: HttpExchange) => handle(ex))
    s.setExecutor(null) // single-threaded: route queries serialize like the reference's handler path
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0))
    server = None
  }
}
