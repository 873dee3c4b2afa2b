package graftbench

import org.scalatest.funsuite.AnyFunSuite

class UniverseSpec extends AnyFunSuite {
  private val u = new Universe(42L)
  private val snap0 = u.snapshot(0)

  test("the same seed gives identical snapshots; another seed does not") {
    val again = new Universe(42L)
    assert(again.snapshot(0) === snap0)
    assert(again.snapshot(3) === u.snapshot(3))
    assert(new Universe(43L).snapshot(0) !== snap0)
  }

  test("system, gate-pair and edge counts match an EVE-scale map") {
    assert(snap0.systems.size === Universe.Systems)
    assert(snap0.systems.map(_.system_id).distinct.size === snap0.systems.size)
    assert(snap0.systems.flatMap(_.name).distinct.size === snap0.systems.size)
    val gatedCount = snap0.systems.count(_.stargates.exists(_.nonEmpty))
    assert(gatedCount > 5200 && gatedCount < 5600, s"gated $gatedCount")
    assert(u.gatePairs.size > 6700 && u.gatePairs.size < 7100, s"pairs ${u.gatePairs.size}")
    // two stargates, hence two directed JUMP edges, per pair
    assert(snap0.stargates.size === 2 * u.gatePairs.size)
    val edges = snap0.stargates.map(g => (g.system_id, g.destination.system_id)).toSet
    assert(edges.size === 2 * u.gatePairs.size)
  }

  test("the gated component is connected") {
    val adj = u.gatePairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val seen = scala.collection.mutable.HashSet(u.gated.head)
    var frontier = List(u.gated.head)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).filter(seen.add)
    }
    assert(seen.size === u.gated.size)
  }

  test("Thera is gateless and Turnur gated; signatures reach Thera") {
    val byName = snap0.systems.map(s => s.name.get -> s).toMap
    assert(byName("Thera").system_id === Universe.TheraId)
    assert(byName("Thera").stargates === Some(Nil))
    assert(byName("Turnur").system_id === Universe.TurnurId)
    assert(byName("Turnur").stargates.exists(_.nonEmpty))
    assert(snap0.signatures.count(s => s.in_system_id == Universe.TheraId &&
      s.signature_type == "wormhole") === Universe.TheraSignatures)
  }

  test("churn adds, removes and retires systems and rotates signatures") {
    val s1 = u.snapshot(1)
    val s2 = u.snapshot(2)
    val ids = (s: Snapshot) => s.systems.map(_.system_id).toSet
    val added1 = ids(s1) -- ids(snap0)
    assert(added1.size === Universe.AddedPerCycle)
    assert((ids(s2) & added1).isEmpty, "last cycle's additions leave again")
    // one gated and one gateless base system retired per cycle
    assert((ids(snap0) -- ids(s2)).size === 4)
    assert(s1.signatures.map(_.out_system_id) !== snap0.signatures.map(_.out_system_id))
  }

  test("snapshots round-trip through the JsonEveSource files") {
    val dir = java.nio.file.Files.createTempDirectory("universe")
    try {
      Universe.write(snap0, dir)
      val lines = java.nio.file.Files.readAllLines(dir.resolve("systems.jsonl"))
      assert(lines.size === snap0.systems.size)
      assert(lines.get(0).startsWith("""{"system_id":"""))
    } finally Stats.deleteTree(dir)
  }
}
