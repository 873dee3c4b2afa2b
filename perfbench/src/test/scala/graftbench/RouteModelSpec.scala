package graftbench

import graft.fixtures.StarMap
import org.scalatest.funsuite.AnyFunSuite

/** The route check against the FIXTURES.md mini star map: its golden
  * routes pass, corrupted answers fail. */
class RouteModelSpec extends AnyFunSuite {

  private def starMap(withWormholes: Boolean) = Snapshot(StarMap.systemResponses,
    StarMap.stargateResponses, StarMap.killSnapshots, StarMap.jumpSnapshots,
    if (withWormholes) StarMap.wormholeSignatures else Nil)

  private val model = new RouteModel
  model.sync(starMap(withWormholes = false))

  test("golden routes pass") {
    assert(model.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "Perimeter", "Urlen", "Amarr"))) === None)
    assert(model.check("safest", "Jita", "Amarr", Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr"))) === None)
    assert(model.check("shortest", "Jita", "Island1", None) === None)
    assert(model.check("shortest", "Jita", "Nowhere", None) === None)
  }

  test("corrupted answers fail") {
    // a valid path that is not the shortest
    assert(model.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr"))).nonEmpty)
    // the shortest path is not the safest
    assert(model.check("safest", "Jita", "Amarr", Some(Seq("Jita", "Perimeter", "Urlen", "Amarr"))).nonEmpty)
    // a hop that is not an edge
    assert(model.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "Urlen", "Amarr"))).nonEmpty)
    // wrong endpoints
    assert(model.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "Perimeter", "Urlen"))).nonEmpty)
    // 404 for a reachable pair, a route for an unreachable one
    assert(model.check("shortest", "Jita", "Amarr", None).nonEmpty)
    assert(model.check("shortest", "Jita", "Island1", Some(Seq("Jita", "Island1"))).nonEmpty)
  }

  test("a sync with Thera wormholes shortens the cost route only") {
    val m = new RouteModel
    m.sync(starMap(withWormholes = false))
    m.sync(starMap(withWormholes = true))
    assert(m.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "Thera", "Amarr"))) === None)
    // the risk projection is taken before the wormhole refresh
    assert(m.check("safest", "Jita", "Amarr", Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr"))) === None)
  }

  test("risk follows E1/E2: k²/j plus Σkills/Σjumps, 0.01 without jumps") {
    val r = RouteModel.risks(Seq((1L, 10, 200), (2L, 5, 0), (3L, 0, 0)))
    val baseline = 15.0 / 200.0
    assert(r(1L) === 10.0 * 10.0 / 200.0 + baseline)
    assert(r(2L) === 25.0 + baseline)
    assert(RouteModel.risks(Seq((1L, 5, 0)))(1L) === 25.01)
  }

  test("route bodies decode") {
    assert(EveService.parseNames("""["Jita","A \"B\"","C\\D"]""") === Seq("Jita", "A \"B\"", "C\\D"))
    assert(EveService.parseNames("[]") === Nil)
  }
}
