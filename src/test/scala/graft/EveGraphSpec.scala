package graft

import graft.api.EveGraph
import graft.fixtures.StarMap
import graft.graph.{Dijkstra, GraphCatalog}
import graft.store.EveStore
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** End-to-end fixture tests over the FIXTURES.md mini star map: bootstrap →
  * routes, wormhole snapshot-replace, dedup, island 404 semantics. */
class EveGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def engine(withWormholes: Boolean): EveGraph = {
    val dir = java.nio.file.Files.createTempDirectory("evestore-test").toString
    val eng = new EveGraph(new EveStore(spark, dir))
    eng.bootstrap(StarMap.source(withWormholes))
    eng
  }

  private lazy val plain = engine(withWormholes = false)
  private lazy val wormy = engine(withWormholes = true)

  test("shortest route takes the 3-hop corridor") {
    assert(plain.shortestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "Perimeter", "Urlen", "Amarr")))
  }

  test("safest route avoids the dangerous corridor") {
    assert(plain.safestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr")))
  }

  test("wormholes shorten the shortest route via Thera") {
    assert(wormy.shortestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "Thera", "Amarr")))
  }

  test("non-wormhole signatures are filtered (P7): no route to the island via Thera") {
    assert(wormy.shortestRoute("Jita", "Island1").isEmpty)
  }

  test("unreachable island → None (404)") {
    assert(plain.shortestRoute("Jita", "Island1").isEmpty)
    assert(plain.shortestRoute("Island1", "Island2") ===
      Some(Seq("Island1", "Island2")))
  }

  test("unknown system name → None (404)") {
    assert(plain.shortestRoute("Jita", "Nowhere").isEmpty)
  }

  test("duplicate system rows are deduped to one survivor") {
    import spark.implicits._
    val n = plain.store.systems.filter($"system_id" === StarMap.SafeA).count()
    assert(n === 1L)
  }

  test("sentinel normalization applied during sync") {
    import spark.implicits._
    val row = plain.store.systems.filter($"system_id" === StarMap.Island2).head()
    assert(row.constellation_id === -1L)
    assert(row.security_class === "undefined")
    assert(row.planets === Seq.empty)
  }

  test("edge risk = destination-system E1 risk") {
    import spark.implicits._
    // baseline = Σkills/Σjumps = 75/1100; Perimeter risk = 30²/100 + b
    val b = 75.0 / 1100.0
    val edge = plain.store.jumps
      .filter($"src_system_id" === StarMap.Jita && $"dst_system_id" === StarMap.Perimeter)
      .head()
    assert(math.abs(edge.risk - (9.0 + b)) < 1e-12)
    // quiet SafeA: 0 kills, 100 jumps → baseline only
    val safe = plain.store.jumps
      .filter($"src_system_id" === StarMap.Jita && $"dst_system_id" === StarMap.SafeA)
      .head()
    assert(math.abs(safe.risk - b) < 1e-12)
  }

  test("wormhole refresh is snapshot-replace: no duplicate edges on re-refresh") {
    import spark.implicits._
    val eng = engine(withWormholes = true)
    val before = eng.store.jumps.count()
    eng.refreshWormholes(StarMap.source(withWormholes = true))
    assert(eng.store.jumps.count() === before)
    // and each wormhole edge exists exactly once per direction
    val theraEdges = eng.store.jumps
      .filter($"src_system_id" === StarMap.Thera || $"dst_system_id" === StarMap.Thera)
    assert(theraEdges.count() === 4L) // Jita↔Thera, Thera↔Amarr
  }

  test("wormhole refresh rewrites only the wormhole partition") {
    val eng = engine(withWormholes = true)
    val gateV = eng.store.version("jumps_gate")
    val whV = eng.store.version("jumps_wormhole")
    // wormhole snapshot-replace: drops Thera/Turnur edges + re-adds sigs —
    // the (at scale, huge) gate partition must not be rewritten
    eng.refreshWormholes(StarMap.source(withWormholes = true))
    assert(eng.store.version("jumps_gate") === gateV, "gate partition was rewritten")
    assert(eng.store.version("jumps_wormhole") !== whV)
    // and the reverse: gate re-derivation leaves the wormhole partition alone
    val whV2 = eng.store.version("jumps_wormhole")
    eng.store.deriveJumps()
    assert(eng.store.version("jumps_wormhole") === whV2, "wormhole partition was rewritten")
  }

  test("stargate refresh preserves active wormhole edges (provenance)") {
    import spark.implicits._
    val eng = engine(withWormholes = true)
    assert(eng.shortestRoute("Jita", "Amarr") === Some(Seq("Jita", "Thera", "Amarr")))
    // a gates-only refresh must not wipe the wormhole overlay
    eng.refreshStargates(StarMap.source(withWormholes = true))
    assert(eng.store.jumps.filter($"kind" === "wormhole").count() === 4L)
    assert(eng.shortestRoute("Jita", "Amarr") === Some(Seq("Jita", "Thera", "Amarr")))
  }

  test("wormholes expire when the next refresh has no signatures") {
    import spark.implicits._
    val eng = engine(withWormholes = true)
    eng.refreshWormholes(StarMap.source(withWormholes = false))
    assert(eng.store.jumps
      .filter($"src_system_id" === StarMap.Thera || $"dst_system_id" === StarMap.Thera)
      .count() === 0L)
    assert(eng.shortestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "Perimeter", "Urlen", "Amarr")))
  }

  test("diff-sync removes systems absent from the source (DETACH semantics)") {
    import spark.implicits._
    val eng = engine(withWormholes = false)
    val smaller = new graft.sources.FixtureSource(
      systems = StarMap.systemResponses.filterNot(_.system_id == StarMap.Perimeter),
      stargates = StarMap.stargateResponses)
    eng.refreshSystems(smaller)
    assert(eng.store.systems.filter($"name" === "Perimeter").count() === 0L)
    // incident edges detached both directions
    assert(eng.store.jumps
      .filter($"src_system_id" === StarMap.Perimeter || $"dst_system_id" === StarMap.Perimeter)
      .count() === 0L)
    // graph projections rebuilt on next query: corridor now broken → Safe chain
    eng.refreshSystemMap()
    assert(eng.shortestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr")))
  }

  test("per-row 404 is skipped, sync continues (S8 policy)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evestore-404").toString
    val eng = new EveGraph(new EveStore(spark, dir))
    val lossy = new graft.sources.FixtureSource(
      systems = StarMap.systemResponses, stargates = StarMap.stargateResponses,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots,
      missingIds = Set(StarMap.Island1))
    eng.bootstrap(lossy)
    // the missing system is simply absent; everything else synced
    assert(eng.store.systems.filter($"system_id" === StarMap.Island1).count() === 0L)
    assert(eng.store.systems.count() === 10L)
    assert(eng.shortestRoute("Jita", "Amarr").nonEmpty)
  }

  test("edge derivation validates both endpoints (S11/J3)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evestore-j3").toString
    val eng = new EveGraph(new EveStore(spark, dir))
    // stargate whose destination system does not exist anywhere
    val ghostGate = graft.model.StargateResponse(59999999L, "Stargate (Ghost)",
      StarMap.Jita, 29624L, graft.model.Position(0, 0, 0),
      graft.model.StargateDestination(59999998L, 77777777L))
    val src = new graft.sources.FixtureSource(
      systems = StarMap.systemResponses.map(s =>
        if (s.system_id == StarMap.Jita) s.copy(stargates = s.stargates.map(_ :+ ghostGate.stargate_id)) else s),
      stargates = StarMap.stargateResponses :+ ghostGate,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots)
    eng.bootstrap(src)
    // ghost gate row lands in the stargate table…
    assert(eng.store.stargates.filter($"stargate_id" === ghostGate.stargate_id).count() === 1L)
    // …but no edge to the nonexistent endpoint is created
    assert(eng.store.jumps.filter($"dst_system_id" === 77777777L).count() === 0L)
  }

  test("rate-limited source aborts the sync (S7 policy)") {
    val eng = engine(withWormholes = false)
    val limited = new graft.sources.FixtureSource(
      systems = StarMap.systemResponses, stargates = StarMap.stargateResponses,
      rateLimited = true)
    assertThrows[graft.sources.SourceRateLimited] {
      eng.refreshSystems(limited)
    }
  }

  test("streaming risk refresh equals the batch refresh (foreachBatch cadence)") {
    import spark.implicits._
    // engine bootstrapped with NO kill/jump data
    val dir = java.nio.file.Files.createTempDirectory("evestore-rs").toString
    val eng = new EveGraph(new EveStore(spark, dir))
    eng.bootstrap(new graft.sources.FixtureSource(
      systems = StarMap.systemResponses, stargates = StarMap.stargateResponses))
    // snapshots arrive as a stream
    val snapDir = java.nio.file.Files.createTempDirectory("snapshots").toString
    val kills = StarMap.killSnapshots.map(k => k.system_id -> k.ship_kills).toMap
    StarMap.jumpSnapshots
      .map(j => (j.system_id, kills.getOrElse(j.system_id, 0), j.ship_jumps))
      .toDF("system_id", "ship_kills", "ship_jumps")
      .write.mode("append").parquet(snapDir)
    val q = graft.streaming.RiskStream.start(eng, snapDir)
    q.awaitTermination()
    // identical risks to the batch-refreshed engine
    val streamed = eng.store.jumps.toDF()
      .select($"src_system_id", $"dst_system_id", $"risk")
    val batch = plain.store.jumps.toDF()
      .select($"src_system_id", $"dst_system_id", $"risk")
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
    // and the swapped projection answers the safest route identically
    assert(eng.safestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr")))
  }

  test("JSON snapshot source: full bootstrap from .jsonl files") {
    import spark.implicits._
    val snap = java.nio.file.Files.createTempDirectory("eve-json").toString
    // capture the fixture as JSON-lines snapshots (what a REST capture
    // would produce), then bootstrap purely from files
    Seq(
      ("systems.jsonl", StarMap.systemResponses.toDS.toDF()),
      ("stargates.jsonl", StarMap.stargateResponses.toDS.toDF()),
      ("kills.jsonl", StarMap.killSnapshots.toDS.toDF()),
      ("jumps.jsonl", StarMap.jumpSnapshots.toDS.toDF()),
      ("signatures.jsonl", StarMap.wormholeSignatures.toDS.toDF()),
    ).foreach { case (name, df) =>
      val tmp = s"$snap/_w_$name"
      df.coalesce(1).write.json(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".json")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$snap/$name"))
    }
    val eng = {
      val dir = java.nio.file.Files.createTempDirectory("evestore-json").toString
      new EveGraph(new EveStore(spark, dir))
    }
    eng.bootstrap(new graft.sources.JsonEveSource(snap))
    assert(eng.shortestRoute("Jita", "Amarr") ===
      Some(Seq("Jita", "Thera", "Amarr")))
    assert(eng.store.systems.count() === 11L)
  }

  test("graph catalog: lazy build, list, drop") {
    val eng = engine(withWormholes = false)
    assert(!eng.catalog.exists("jump-risk") || eng.catalog.exists("jump-risk"))
    eng.safestRoute("Jita", "Amarr") // G10 lazy build
    assert(eng.catalog.exists("jump-risk"))
    assert(eng.catalog.drop("jump-risk"))
    assert(!eng.catalog.exists("jump-risk"))
    assert(!eng.catalog.drop("jump-risk"))
  }

  /** A one-edge GraphX projection (threshold 0) of weight `w`; `released`
    * counts its lease releases. */
  private def oneEdge(w: Double, released: java.util.concurrent.atomic.AtomicInteger =
      new java.util.concurrent.atomic.AtomicInteger): () => Dijkstra.GraphProjection = () =>
    Dijkstra.project(spark.createDataFrame(Seq((1L, 2L, w))).toDF("src", "dst", "w"), 0L,
      () => released.incrementAndGet()).asInstanceOf[Dijkstra.GraphProjection]

  test("graph catalog: pinned projection survives a mid-query refresh") {
    import org.apache.spark.storage.StorageLevel
    val cat = new GraphCatalog
    val released = new java.util.concurrent.atomic.AtomicInteger
    val g0 = cat.getOrCreate("g", oneEdge(1.0, released)).asInstanceOf[Dijkstra.GraphProjection]
    val res = cat.withGraph("g", () => fail("projection must already exist")) { g =>
      assert(g eq g0)
      cat.refresh("g", oneEdge(2.0)) // swap lands while the query is in flight
      // retired from the catalog, but the pin keeps the snapshot cached and
      // leased — the rest of the query computes on consistent data
      assert(g0.graph.vertices.getStorageLevel !== StorageLevel.NONE)
      assert(g0.graph.edges.getStorageLevel !== StorageLevel.NONE)
      assert(released.get === 0)
      Dijkstra.autoPath(g, 1L, 2L)
    }
    assert(res === Some((1.0, Seq(1L, 2L)))) // the in-flight query answered from its snapshot
    // last pin released → the retired instance is unpersisted, its lease freed once
    assert(g0.graph.vertices.getStorageLevel === StorageLevel.NONE)
    assert(g0.graph.edges.getStorageLevel === StorageLevel.NONE)
    assert(released.get === 1)
    // new queries see the refreshed projection, still cached
    assert(cat.withGraph("g", () => fail("refreshed"))(Dijkstra.autoPath(_, 1L, 2L)) ===
      Some((2.0, Seq(1L, 2L))))
    // drop retires an unpinned instance immediately
    val g2 = cat.getOrCreate("g", () => fail("refreshed")).asInstanceOf[Dijkstra.GraphProjection]
    assert(cat.drop("g"))
    assert(g2.graph.vertices.getStorageLevel === StorageLevel.NONE)
  }

  test("graph catalog: concurrent refresh storm never hands a query an uncached snapshot") {
    // the lookup-to-pin race: a refresh can retire (and, at pins == 0,
    // release) a holder BETWEEN a reader's catalog lookup and its pin.
    // tryPin refuses retired holders and withGraph re-fetches; with an
    // unconditional pin this storm could observe a graph whose cache was
    // already dropped (torn snapshot on the next superstep).
    // One-sided test: correct code can never fail it.
    import org.apache.spark.storage.StorageLevel
    val cat = new GraphCatalog
    cat.getOrCreate("g", oneEdge(0.0))
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 4).map(t => new Thread(() => {
      try {
        for (_ <- 0 until 20) {
          cat.withGraph("g", oneEdge(-1.0)) { p =>
            val g = p.asInstanceOf[Dijkstra.GraphProjection].graph
            if (g.vertices.getStorageLevel == StorageLevel.NONE ||
              g.edges.getStorageLevel == StorageLevel.NONE)
              problems.add(s"reader $t pinned an unpersisted graph")
            g.edges.count()
          }
        }
      } catch { case e: Throwable => problems.add(s"reader $t: $e") }
    }))
    val refresher = new Thread(() => {
      try for (i <- 1 to 20) cat.refresh("g", oneEdge(i.toDouble))
      catch { case e: Throwable => problems.add(s"refresher: $e") }
    })
    (readers :+ refresher).foreach(_.start())
    (readers :+ refresher).foreach(_.join(120000))
    assert(problems.isEmpty, problems.toArray.mkString("; "))
  }

  // ---- warm routes: name index + per-projection adjacency ----

  private def storeDir(): EveStore =
    new EveStore(spark, java.nio.file.Files.createTempDirectory("evestore-warm").toString)

  /** Two systems share the name "Twin": the smaller id gates to Jita, the
    * larger one has no gates at all. */
  private val TwinGated = 30004001L
  private val TwinIsolated = 30004002L

  private def twinSource: graft.sources.FixtureSource = {
    import graft.model._
    val gate = StargateResponse(59100001L, "Stargate (Jita)", TwinGated, 29624L,
      Position(0, 0, 0), StargateDestination(59100002L, StarMap.Jita))
    def twin(id: Long, gates: Seq[Long]) = SystemResponse(id, Some("Twin"), Some(20000020L),
      0.9, Some(40000849L), Some("A"), Position(1, 2, 3), Some(Seq.empty), Some(gates))
    new graft.sources.FixtureSource(
      systems = twin(TwinIsolated, Nil) +: StarMap.systemResponses :+ twin(TwinGated, Seq(gate.stargate_id)),
      stargates = StarMap.stargateResponses :+ gate,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots,
      sigs = StarMap.wormholeSignatures)
  }

  test("warm routes on one snapshot start no Spark job") {
    val eng = engine(withWormholes = false)
    eng.shortestRoute("Jita", "Amarr")
    eng.safestRoute("Jita", "Amarr")
    val (answers, jobs) = JobCount(spark.sparkContext) {
      (1 to 5).map(_ => (eng.shortestRoute("Jita", "Amarr"), eng.safestRoute("Jita", "Amarr")))
    }
    assert(jobs === 0)
    assert(answers.toSet === Set((
      Some(Seq("Jita", "Perimeter", "Urlen", "Amarr")),
      Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr")))))
  }

  test("warm routes reflect every refresh") {
    import graft.model._
    val eng = engine(withWormholes = true)
    assert(eng.shortestRoute("Jita", "Amarr") === Some(Seq("Jita", "Thera", "Amarr")))
    assert(eng.shortestRoute("Newcomer", "Jita").isEmpty)
    // a new system gated to Amarr becomes routable by name
    val newcomer = 30003001L
    val gate = StargateResponse(59000001L, "Stargate (Amarr)", newcomer, 29624L,
      Position(0, 0, 0), StargateDestination(59000002L, StarMap.Amarr))
    val systems = StarMap.systemResponses :+ SystemResponse(newcomer, Some("Newcomer"),
      Some(20000020L), 0.9, Some(40000849L), Some("A"), Position(1, 2, 3),
      Some(Seq.empty), Some(Seq(gate.stargate_id)))
    val stargates = StarMap.stargateResponses :+ gate
    val grown = new graft.sources.FixtureSource(systems, stargates,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots,
      sigs = StarMap.wormholeSignatures)
    eng.refreshSystems(grown)
    eng.refreshStargates(grown)
    assert(eng.shortestRoute("Newcomer", "Jita") === Some(Seq("Newcomer", "Amarr", "Thera", "Jita")))
    // Thera rotates from Amarr to Island1
    val rotated = new graft.sources.FixtureSource(systems, stargates,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots,
      sigs = Seq(StarMap.wormholeSignatures(0),
        StarMap.wormholeSignatures(2).copy(signature_type = "wormhole")))
    eng.refreshWormholes(rotated)
    assert(eng.shortestRoute("Jita", "Amarr") === Some(Seq("Jita", "Perimeter", "Urlen", "Amarr")))
    assert(eng.shortestRoute("Jita", "Island1") === Some(Seq("Jita", "Thera", "Island1")))
    // SafeB turns dangerous: the safest route moves to the corridor
    assert(eng.safestRoute("Jita", "Amarr") === Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr")))
    eng.refreshRisks(new graft.sources.FixtureSource(systems, stargates,
      kills = StarMap.killSnapshots.map(k =>
        if (k.system_id == StarMap.SafeB) k.copy(ship_kills = 50) else k),
      jumps = StarMap.jumpSnapshots))
    assert(eng.safestRoute("Jita", "Amarr") === Some(Seq("Jita", "Perimeter", "Urlen", "Amarr")))
  }

  // ---- one sync, table by table ----

  private val Tables = Seq("systems", "stargates", "jumps_gate", "jumps_wormhole")

  /** What one fixture engine records on its way through bootstrap, a
    * stargate refresh, and one full sync against a source that drops Turnur
    * and adds Newcomer. Its signatures add a Jita ↔ SafeA wormhole parallel
    * to the Jita ↔ SafeA gates. */
  private final case class Churn(
      gateRisks: (Map[(Long, Long), Double], Map[(Long, Long), Double]),
      turnurEdges: Set[(Long, Long)],
      deltas: Map[String, Map[String, Long]],
      afterSystems: Seq[graft.model.Jump],
      idsStorage: org.apache.spark.storage.StorageLevel,
      systemsLeftPersisted: Set[Int],
      firstRouteJobs: Int,
      versionDirs: Map[String, (Long, Set[String])],
      strayRemoved: Boolean,
      aheadKept: Boolean,
      newcomerRoute: Option[Seq[String]])

  private def versionDirs(table: java.nio.file.Path): Set[String] = {
    val ls = java.nio.file.Files.list(table)
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.matches("v\\d+")).toSet
    finally ls.close()
  }

  private lazy val churn: Churn = {
    import graft.model._
    import spark.implicits._
    val newcomer = 30003001L
    val sigs = StarMap.wormholeSignatures :+ StarMap.wormholeSignatures(0).copy(id = "sig4",
      in_system_id = StarMap.Jita, out_system_id = StarMap.SafeA, out_system_name = "SafeA")
    val source = new graft.sources.FixtureSource(StarMap.systemResponses, StarMap.stargateResponses,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots, sigs = sigs)
    val gate = StargateResponse(59000001L, "Stargate (Amarr)", newcomer, 29624L,
      Position(0, 0, 0), StargateDestination(59000002L, StarMap.Amarr))
    val churned = new graft.sources.FixtureSource(
      StarMap.systemResponses.filterNot(_.system_id == StarMap.Turnur) :+ SystemResponse(newcomer,
        Some("Newcomer"), Some(20000020L), 0.9, Some(40000849L), Some("A"), Position(1, 2, 3),
        Some(Seq.empty), Some(Seq(gate.stargate_id))),
      StarMap.stargateResponses :+ gate,
      kills = StarMap.killSnapshots, jumps = StarMap.jumpSnapshots, sigs = sigs)
    val root = java.nio.file.Files.createTempDirectory("evestore-churn")
    val eng = new EveGraph(new EveStore(spark, root.toString))
    eng.bootstrap(source)
    def gateRisks() = eng.store.read("jumps_gate").as[Jump].collect()
      .map(j => (j.src_system_id, j.dst_system_id) -> j.risk).toMap
    val before = gateRisks()
    eng.refreshStargates(source)
    val after = gateRisks()
    def delta(refresh: graft.sources.EveSource => Unit): Map[String, Long] = {
      def versions() = Tables.map(t => t -> eng.store.version(t).get).toMap
      val v0 = versions()
      refresh(churned)
      val v1 = versions()
      Tables.map(t => t -> (v1(t) - v0(t))).toMap
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val systemsDelta = delta(eng.refreshSystems)
    val systemsLeftPersisted = spark.sparkContext.getPersistentRDDs.keySet.toSet -- persisted
    val afterSystems = eng.store.jumps.collect().toSeq
    val idsStorage = churned.systemIds(spark).storageLevel
    val stargatesDelta = delta(eng.refreshStargates)
    val risksDelta = delta(eng.refreshRisks(_))
    val wormholesDelta = delta(eng.refreshWormholes)
    // the first route on the projection the wormhole refresh rebuilt
    val (_, firstRouteJobs) = JobCount(spark.sparkContext)(
      eng.catalog.withGraph("system-map", () => fail("system-map missing"))(
        Dijkstra.autoPath(_, StarMap.Jita, StarMap.Amarr)))
    val dirs = Tables.map(t => t -> (eng.store.version(t).get, versionDirs(root.resolve(t)))).toMap
    // a stray v1 (an orphan of a crash between a swap and its delete) and a
    // directory ahead of the manifest, then one more systems write
    val stray = java.nio.file.Files.createDirectories(root.resolve("systems").resolve("v1"))
    java.nio.file.Files.writeString(stray.resolve("part-00000.parquet"), "stray")
    val ahead = java.nio.file.Files.createDirectories(
      root.resolve("systems").resolve(s"v${eng.store.version("systems").get + 10}"))
    eng.refreshRisks(churned)
    val (strayRemoved, aheadKept) = (!java.nio.file.Files.exists(stray), java.nio.file.Files.exists(ahead))
    java.nio.file.Files.delete(ahead)
    Churn((before, after),
      after.keySet.filter(e => e._1 == StarMap.Turnur || e._2 == StarMap.Turnur),
      Map("systems" -> systemsDelta, "stargates" -> stargatesDelta,
        "risks" -> risksDelta, "wormholes" -> wormholesDelta),
      afterSystems, idsStorage, systemsLeftPersisted, firstRouteJobs, dirs, strayRemoved, aheadKept,
      eng.shortestRoute("Newcomer", "Jita"))
  }

  test("each refresh writes every table it touches once") {
    def d(systems: Long, stargates: Long, gate: Long, wormhole: Long) = Map("systems" -> systems,
      "stargates" -> stargates, "jumps_gate" -> gate, "jumps_wormhole" -> wormhole)
    assert(churn.deltas === Map(
      "systems" -> d(1, 0, 1, 1),
      "stargates" -> d(0, 1, 1, 0),
      "risks" -> d(1, 0, 1, 1),
      // Turnur left with this sync, and Thera has no gates: no gate edge to drop
      "wormholes" -> d(0, 0, 0, 1)))
  }

  test("a systems refresh releases what it caches") {
    assert(churn.idsStorage === org.apache.spark.storage.StorageLevel.NONE)
    // the id diff and the jumps frame are unpersisted before it returns
    assert(churn.systemsLeftPersisted === Set.empty)
  }

  test("after bootstrap and one sync each table keeps only its current and previous version") {
    for ((table, (current, dirs)) <- churn.versionDirs)
      assert(dirs === Set(s"v$current", s"v${current - 1}"), table)
  }

  test("a write reclaims an orphaned old version and keeps a directory ahead of the manifest") {
    assert(churn.strayRemoved)
    assert(churn.aheadKept)
  }

  test("the first route on a projection rebuilt by a refresh starts no Spark job") {
    assert(churn.firstRouteJobs === 0)
  }

  test("building the store's frames starts no Spark job (declared schemas)") {
    val store = plain.store
    val (_, jobs) = JobCount(spark.sparkContext) { store.systems; store.stargates; store.jumps }
    assert(jobs === 0)
  }

  test("a systems refresh keeps one edge per (src, dst), the smallest by (cost, risk)") {
    val edges = churn.afterSystems.groupBy(j => (j.src_system_id, j.dst_system_id))
    assert(edges.values.forall(_.size == 1), edges.filter(_._2.size > 1))
    // the wormhole came after the risk refresh (risk 0), the gate carries SafeA's risk
    for (e <- Seq((StarMap.Jita, StarMap.SafeA), (StarMap.SafeA, StarMap.Jita))) {
      assert(churn.gateRisks._1(e) > 0.0)
      assert(edges(e).map(j => (j.kind, j.cost, j.risk)) === Seq(("wormhole", 1.0, 0.0)))
    }
  }

  test("a stargate refresh keeps every surviving gate edge's risk") {
    val (before, after) = churn.gateRisks
    assert(before.values.exists(_ > 0.0))
    before.foreach { case (edge, risk) => assert(after.get(edge) === Some(risk), edge) }
  }

  test("one sync with stale and fresh systems: stale edges go both ways, the fresh system routes") {
    assert(churn.turnurEdges === Set((StarMap.SafeB, StarMap.Turnur), (StarMap.Turnur, StarMap.SafeB)))
    assert(!churn.afterSystems.exists(j =>
      j.src_system_id == StarMap.Turnur || j.dst_system_id == StarMap.Turnur))
    assert(churn.newcomerRoute === Some(Seq("Newcomer", "Amarr", "Thera", "Jita")))
  }

  /** Routes the name index and the distributed lookups must answer alike. */
  private val branchQueries = Seq(
    ("shortest", "Jita", "Amarr"), ("safest", "Jita", "Amarr"),
    ("shortest", "Jita", "Island1"), ("shortest", "Jita", "Nowhere"),
    ("shortest", "Island1", "Island2"), ("shortest", "Twin", "Jita"),
    ("safest", "Twin", "Amarr"))

  private def answer(eng: EveGraph, q: (String, String, String)): Option[Seq[String]] =
    if (q._1 == "shortest") eng.shortestRoute(q._2, q._3) else eng.safestRoute(q._2, q._3)

  private lazy val twinAnswers: Seq[Option[Seq[String]]] = {
    val eng = new EveGraph(storeDir())
    eng.bootstrap(twinSource)
    branchQueries.map(answer(eng, _))
  }

  test("a duplicated name resolves to its smallest system_id") {
    assert(twinAnswers(branchQueries.indexOf(("shortest", "Twin", "Jita"))) ===
      Some(Seq("Twin", "Jita")))
    assert(twinAnswers(branchQueries.indexOf(("shortest", "Jita", "Amarr"))) ===
      Some(Seq("Jita", "Thera", "Amarr")))
  }

  /** The twin fixture above the local threshold: filtered lookups and
    * GraphX projections. */
  private lazy val distributedRoot = java.nio.file.Files.createTempDirectory("evestore-dist")
  private lazy val distributed: EveGraph = {
    val eng = new EveGraph(new EveStore(spark, distributedRoot.toString), localThreshold = 0L)
    eng.bootstrap(twinSource)
    eng
  }

  test("above the local threshold, filtered lookups and the distributed search answer the same routes") {
    assert(branchQueries.map(answer(distributed, _)) === twinAnswers)
  }

  test("a GraphX projection keeps the jump versions it leased until it is released") {
    val eng = distributed
    val partitions = Seq("jumps_gate", "jumps_wormhole")
    def current(t: String) = eng.store.version(t).get
    eng.refreshJumpRisk()
    val leased = partitions.map(t => t -> current(t)).toMap
    val want = eng.safestRoute("Jita", "Amarr")
    // two more writes of each partition put the leased versions below the
    // previous one
    eng.refreshStargates(twinSource)
    eng.refreshStargates(twinSource)
    eng.refreshWormholes(twinSource)
    eng.refreshWormholes(twinSource)
    val dirs = partitions.map(t => distributedRoot.resolve(t).resolve(s"v${leased(t)}"))
    partitions.foreach(t => assert(current(t) >= leased(t) + 2, t))
    assert(dirs.forall(java.nio.file.Files.exists(_)))
    // evict the projection's cache: the route recomputes it from the leased files
    eng.catalog.withGraph("jump-risk", () => fail("jump-risk missing"))(
      _.asInstanceOf[Dijkstra.GraphProjection].graph.unpersist(blocking = true))
    assert(eng.safestRoute("Jita", "Amarr") === want)
    // the risk refresh retires the projection; the next write of each
    // partition reclaims what it leased
    eng.refreshRisks(twinSource)
    eng.refreshStargates(twinSource)
    eng.refreshWormholes(twinSource)
    assert(dirs.forall(!java.nio.file.Files.exists(_)), dirs)
  }
}
