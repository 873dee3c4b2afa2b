package graftbench

import graft.api.{EveGraph, HttpApi}
import graft.graph.Dijkstra
import graft.sources.{EveSource, JsonEveSource, Normalize}
import graft.store.EveStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import scala.collection.mutable
import scala.util.Random

/** The route service under load: bootstrap a generated universe, then a
  * closed loop of one client over HTTP. The timed phase starts with one full
  * sync against a churned snapshot (the four refresh POSTs in bootstrap
  * order) and then sends routes, half shortest and half safest, for the
  * run's seconds (at least `minRoutes`). Every answer is judged by
  * [[RouteModel]].
  */
final class EveService(spark: SparkSession, rec: Recorder, work: Path, seed: Long, seconds: Int,
    minRoutes: Int = EveService.MinRoutes) {
  import EveService._

  private val universe = new Universe(seed)
  private val model = new RouteModel
  private val storeRoot = work.resolve("store")
  private val store = new EveStore(spark, storeRoot.toString)
  private val engine = new EveGraph(store)
  @volatile private var current: EveSource = _
  private val api = new HttpApi(engine, () => current)
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var port = 0

  private var attempted = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private val routeMs = mutable.ArrayBuffer.empty[Double]
  private val syncS = mutable.ArrayBuffer.empty[Double]
  // traced run only
  private val plainRouteMs = mutable.ArrayBuffer.empty[Double]
  private val directMs = mutable.ArrayBuffer.empty[Double]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]
  private val pathMs = mutable.ArrayBuffer.empty[Double]
  private val syncWriteMb = mutable.ArrayBuffer.empty[Double]

  private def fail(msg: String): Unit = {
    errors += msg
    if (errors.size <= 5) System.err.println(s"[perfbench] eve_service: $msg")
  }

  private var lastSnapshot: Snapshot = _

  private def snapshotSource(cycle: Int): Unit = {
    val snap = universe.snapshot(cycle)
    lastSnapshot = snap
    val dir = Universe.write(snap, work.resolve(s"snapshot-$cycle"))
    model.sync(snap)
    current = new JsonEveSource(dir.toString)
  }

  /** Universe generation, bootstrap and server start; returns bootstrap
    * seconds. */
  def setup(): Double = {
    snapshotSource(0)
    val boot = Stats.time(rec.span("setup.bootstrap")(engine.bootstrap(current)))
    port = api.start()
    rec.active = false
    routePairs(0, WarmupRoutes).foreach { case (k, f, t) => route(k, f, t, timed = false) }
    rec.active = true
    boot
  }

  private def request(method: String, path: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = if (method == "GET") b.GET().build() else b.POST(HttpRequest.BodyPublishers.noBody()).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def sync(cycle: Int): Unit = {
    snapshotSource(cycle)
    val before = Stats.dirBytes(storeRoot)
    val t = Stats.time {
      if (rec.enabled) tracedSync()
      else SyncPosts.foreach { p =>
        attempted += 1
        val (code, body) = request("POST", p)
        if (code != 200) fail(s"POST $p -> $code $body")
      }
    }
    syncS += t
    syncWriteMb += (Stats.dirBytes(storeRoot) - before) / 1e6
  }

  /** The same four refreshes as direct engine calls, each in its own span,
    * plus the layers beneath them timed on their own. */
  private def tracedSync(): Unit = {
    val src = current
    rec.span("sync") {
      Seq[(String, () => Unit)](
        "api.systems_refresh" -> (() => engine.refreshSystems(src)),
        "api.stargates_refresh" -> (() => engine.refreshStargates(src)),
        "api.risk_refresh" -> (() => engine.refreshRisks(src)),
        "api.wormholes_refresh" -> (() => engine.refreshWormholes(src))).foreach { case (n, f) =>
        attempted += 1
        try rec.span(n)(f()) catch { case e: Exception => fail(s"$n: $e") }
      }
    }
    rec.span("sources.ingest") {
      import spark.implicits._
      Normalize.systems(src.systemDetails(spark, src.systemIds(spark))).count()
      Normalize.stargates(src.stargateDetails(spark,
        spark.createDataset(lastSnapshot.stargates.map(_.stargate_id)))).count()
    }
    rec.span("risk.score")(store.riskBySystem().count())
    // a second facade over the same store: build-then-swap of both
    // projections without disturbing the graphs the service answers from
    val side = new EveGraph(store)
    rec.span("graph.project") { side.refreshSystemMap(); side.refreshJumpRisk() }
    side.catalog.dropAll()
  }

  private def routePairs(cycle: Int, n: Int): Seq[(String, String, String)] = {
    val r = new Random(seed * 7919L + cycle)
    val known = universe.gated.flatMap(model.nameOf)
    val gateless = universe.regularIds.filterNot(universe.gated.toSet).flatMap(model.nameOf)
    (0 until n).map { i =>
      val kind = if (i % 2 == 0) "shortest" else "safest"
      val from = known(r.nextInt(known.size))
      val to = r.nextInt(40) match {
        case 0 => s"ZZ-${r.nextInt(100000)}" // unknown name
        case 1 => gateless(r.nextInt(gateless.size)) // usually unreachable
        case _ => known(r.nextInt(known.size))
      }
      (kind, from, if (to == from) known((known.indexOf(from) + 1) % known.size) else to)
    }
  }

  private def route(kind: String, from: String, to: String, timed: Boolean = true): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val req = rec.newRequest()
    val (code, body) = rec.span("api.http", req)(request("GET", s"/$kind-route/$from/to/$to"))
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) { if (rec.enabled && !rec.active) plainRouteMs += ms else routeMs += ms }
    val served = code match {
      case 200 => Some(parseNames(body))
      case 404 => None
      case other => fail(s"GET $kind $from->$to: HTTP $other $body"); return
    }
    model.check(kind, from, to, served).foreach(fail)
    if (timed && rec.enabled && rec.active) tracedRoute(kind, from, to, req)
  }

  /** The same route through the facade, then its two layers on their own. */
  private def tracedRoute(kind: String, from: String, to: String, req: Long): Unit = {
    directMs += Stats.time(rec.span("api.route", req) {
      if (kind == "shortest") engine.shortestRoute(from, to) else engine.safestRoute(from, to)
    }) * 1e3
    var ids = Option.empty[(Long, Long)]
    lookupMs += Stats.time(rec.span("store.lookup", req) {
      def id(n: String) = store.systems.filter(col("name") === n).select(col("system_id"))
        .limit(1).collect().headOption.map(_.getLong(0))
      ids = for (a <- id(from); b <- id(to)) yield (a, b)
    }) * 1e3
    ids.foreach { case (a, b) =>
      val graph = if (kind == "shortest") "system-map" else "jump-risk"
      pathMs += Stats.time(rec.span("graph.path", req) {
        engine.catalog.withGraph(graph, () => sys.error(s"projection $graph missing"))(
          Dijkstra.autoPath(_, a, b))
      }) * 1e3
    }
  }

  def run(): Unit = {
    sync(1)
    val until = System.nanoTime() + seconds * 1000000000L
    val pairs = routePairs(1, MaxRoutes)
    var i = 0
    while (i < pairs.size && (i < minRoutes || System.nanoTime() < until)) {
      val (k, f, t) = pairs(i)
      // the traced run alternates pairs of traced and plain requests:
      // their difference is the tracing overhead
      rec.active = i % 4 < 2
      route(k, f, t)
      rec.active = true
      i += 1
    }
  }

  def close(): Unit = api.stop()

  /** The run's metrics, taken while the service and its projections are
    * still live. */
  def result(setupS: Double, bootS: Double): Result = {
    val failed = errors.size.toLong
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(routeMs), "ms"),
      Metric("write_s", Stats.median(syncS), "s"),
      Metric("store_mb", Stats.dirBytes(storeRoot) / 1e6, "MB"),
      Metric("heap_mb", Stats.heapMb(), "MB"))
    val layers =
      if (!rec.enabled) Nil
      else {
        Listener.settle(spark.sparkContext)
        def med(xs: collection.Seq[Double]) = Stats.median(xs)
        def spanMed(n: String) = med(rec.spans(n).map(_.seconds))
        def perSpan(n: String)(f: Counts => Double) = med(rec.spans(n).map(s => f(rec.total(s))))
        val (live, all) = Stats.liveBytes(storeRoot)
        Seq(
          Metric("api.http_ms", med(routeMs) - med(directMs), "ms"),
          Metric("api.route_ms", med(directMs), "ms"),
          Metric("graph.path_ms", med(pathMs), "ms"),
          Metric("store.lookup_ms", med(lookupMs), "ms"),
          Metric("spark.route_jobs", perSpan("api.http")(_.jobs.toDouble), "count"),
          Metric("spark.route_tasks", perSpan("api.http")(_.tasks.toDouble), "count"),
          Metric("api.systems_refresh_s", spanMed("api.systems_refresh"), "s"),
          Metric("api.stargates_refresh_s", spanMed("api.stargates_refresh"), "s"),
          Metric("api.risk_refresh_s", spanMed("api.risk_refresh"), "s"),
          Metric("api.wormholes_refresh_s", spanMed("api.wormholes_refresh"), "s"),
          Metric("graph.project_s", spanMed("graph.project"), "s"),
          Metric("sources.ingest_s", spanMed("sources.ingest"), "s"),
          Metric("risk.score_s", spanMed("risk.score"), "s"),
          Metric("spark.sync_jobs", perSpan("sync")(_.jobs.toDouble), "count"),
          Metric("store.sync_write_mb", med(syncWriteMb), "MB"),
          Metric("store.live_frac", live.toDouble / math.max(1L, all), "ratio"),
          Metric("setup.bootstrap_s", bootS, "s"),
          Metric("trace.route_overhead_ms", med(routeMs) - med(plainRouteMs), "ms"))
      }
    Result(attempted, failed, e2e, layers)
  }
}

object EveService {
  /** Set up, run the timed phase and collect the result. */
  def run(spark: SparkSession, rec: Recorder, work: Path, seed: Long, seconds: Int,
      minRoutes: Int): Result = {
    val svc = new EveService(spark, rec, work, seed, seconds, minRoutes)
    try {
      val boot = svc.setup()
      val setupS = Main.sinceStart()
      svc.run()
      svc.result(setupS, boot)
    } finally svc.close()
  }

  val SyncPosts = Seq("/systems/refresh", "/stargates/refresh", "/systems/risk", "/wormholes/refresh")
  val MinRoutes = 16
  /** Untimed routes at the end of set-up, so JIT warm-up of the route path
    * is not timed. */
  val WarmupRoutes = 6
  val MaxRoutes = 400

  /** Decode the service's JSON array of names. */
  def parseNames(body: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = body.indexOf('[') + 1
    while (i > 0 && i < body.length) {
      body.charAt(i) match {
        case '"' =>
          val sb = new StringBuilder
          i += 1
          while (body.charAt(i) != '"') {
            if (body.charAt(i) == '\\') i += 1
            sb += body.charAt(i); i += 1
          }
          out += sb.toString
        case ']' => i = body.length
        case _ =>
      }
      i += 1
    }
    out.toSeq
  }
}
