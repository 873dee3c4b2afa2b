package graftbench

import graft.model._

import scala.collection.mutable

/** Independent model of what the route service must answer after each sync.
  *
  * It replays the reference's diff-sync semantics on plain collections —
  * nothing here calls the engine — so a route the engine serves can be
  * judged against it:
  *  - systems: stale ids leave (with every edge touching them), new ids
  *    join with the details of the snapshot they first appear in; details
  *    of systems already stored are never refreshed;
  *  - stargates: the expected ids are the stored systems' stargate lists;
  *    gate edges are the stored stargates whose two endpoints exist;
  *  - risk: kills/jumps come from the latest snapshot that reports them,
  *    risk(s) = k²/j (k² when j = 0) + Σkills/Σjumps (0.01 when Σjumps = 0);
  *  - the risk projection is taken after the risk refresh, before the
  *    wormhole refresh: current gate edges plus the previous wormhole edges,
  *    each weighted by its destination's risk;
  *  - the wormhole refresh drops every edge touching Thera or Turnur (gate
  *    edges included) and adds the current wormhole signatures whose two
  *    endpoints exist, both directions; the cost projection (weight 1) is
  *    taken after it.
  */
final class RouteModel {
  private val systems = mutable.LinkedHashMap.empty[Long, SystemResponse]
  private val stargates = mutable.HashMap.empty[Long, StargateResponse]
  private val kills = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  private val jumps = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  private var gateEdges = Set.empty[(Long, Long)]
  private var wormholeEdges = Set.empty[(Long, Long)]

  private var idByName = Map.empty[String, Long]
  private var nameById = Map.empty[Long, String]
  private var costAdj = Map.empty[Long, Array[(Long, Double)]]
  private var riskAdj = Map.empty[Long, Array[(Long, Double)]]

  def nameOf(id: Long): Option[String] = nameById.get(id)

  /** Apply one full sync (systems, stargates, risk, wormholes). */
  def sync(snap: Snapshot): Unit = {
    // systems: dedup the snapshot the way the store does (min name, then
    // constellation, per id), drop stale, add fresh
    val snapSystems = snap.systems.groupBy(_.system_id).map { case (id, rows) =>
      id -> rows.minBy(s => (s.name.getOrElse("undefined"), s.constellation_id.getOrElse(-1L)))
    }
    val stale = systems.keySet.toSet -- snapSystems.keySet
    stale.foreach { id => systems.remove(id); kills.remove(id); jumps.remove(id) }
    val touchesStale = (e: (Long, Long)) => stale(e._1) || stale(e._2)
    gateEdges = gateEdges.filterNot(touchesStale)
    wormholeEdges = wormholeEdges.filterNot(touchesStale)
    snapSystems.keys.toSeq.sorted.filterNot(systems.contains).foreach(id => systems(id) = snapSystems(id))

    // stargates
    val expected = systems.values.flatMap(_.stargates.getOrElse(Nil)).toSet
    stargates.keySet.toSeq.filterNot(expected).foreach(stargates.remove)
    val snapGates = snap.stargates.groupBy(_.stargate_id).map { case (id, rows) => id -> rows.minBy(_.name) }
    expected.filterNot(stargates.contains).foreach(id => snapGates.get(id).foreach(g => stargates(id) = g))
    gateEdges = stargates.values
      .map(g => (g.system_id, g.destination.system_id))
      .filter { case (a, b) => systems.contains(a) && systems.contains(b) }
      .toSet

    // risk
    snap.kills.foreach(k => if (systems.contains(k.system_id)) kills(k.system_id) = k.ship_kills)
    snap.jumps.foreach(j => if (systems.contains(j.system_id)) jumps(j.system_id) = j.ship_jumps)
    val risk = RouteModel.risks(systems.keys.map(id => (id, kills(id), jumps(id))).toSeq)
    riskAdj = adjacency(gateEdges ++ wormholeEdges, e => risk(e._2))

    // wormholes
    val dropIds = systems.values.filter(s => s.name.contains("Thera") || s.name.contains("Turnur"))
      .map(_.system_id).toSet
    val touchesDropped = (e: (Long, Long)) => dropIds(e._1) || dropIds(e._2)
    gateEdges = gateEdges.filterNot(touchesDropped)
    val fresh = snap.signatures
      .filter(_.signature_type == "wormhole")
      .map(s => (s.in_system_id, s.out_system_id))
      .filter { case (a, b) => systems.contains(a) && systems.contains(b) }
    wormholeEdges = wormholeEdges.filterNot(touchesDropped) ++ fresh ++ fresh.map(_.swap)
    costAdj = adjacency(gateEdges ++ wormholeEdges, _ => 1.0)

    nameById = systems.map { case (id, s) => id -> s.name.getOrElse("undefined") }.toMap
    idByName = nameById.groupBy(_._2).map { case (n, m) => n -> m.keys.min }
  }

  private def adjacency(edges: Set[(Long, Long)], w: ((Long, Long)) => Double) =
    edges.toSeq.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, w(e))).toArray }

  private def graphOf(kind: String) = kind match {
    case "shortest" => costAdj
    case "safest" => riskAdj
    case other => throw new IllegalArgumentException(s"unknown route kind $other")
  }

  /** Optimal total weight from `from` to `to`, or None when either name is
    * unknown or `to` is unreachable (the service must answer 404). */
  def optimum(kind: String, from: String, to: String): Option[Double] =
    for {
      s <- idByName.get(from)
      t <- idByName.get(to)
      d <- RouteModel.dijkstra(graphOf(kind), s).get(t)
    } yield d

  /** Judge one served answer: `None` is a 404. Returns an error message, or
    * None when the answer is correct. */
  def check(kind: String, from: String, to: String, served: Option[Seq[String]]): Option[String] =
    (optimum(kind, from, to), served) match {
      case (None, None) => None
      case (None, Some(p)) => Some(s"$kind $from->$to: expected 404, got ${p.mkString(",")}")
      case (Some(d), None) => Some(s"$kind $from->$to: expected a route of weight $d, got 404")
      case (Some(d), Some(path)) =>
        val adj = graphOf(kind)
        val ids = path.map(idByName.get)
        if (path.isEmpty || path.head != from || path.last != to)
          Some(s"$kind $from->$to: wrong endpoints ${path.mkString(",")}")
        else if (ids.exists(_.isEmpty))
          Some(s"$kind $from->$to: unknown system in ${path.mkString(",")}")
        else {
          val hops = ids.flatten.sliding(2).filter(_.size == 2).toSeq
          val weights = hops.map { case Seq(a, b) =>
            adj.getOrElse(a, Array.empty[(Long, Double)]).filter(_._1 == b).map(_._2).minOption
          }
          if (weights.exists(_.isEmpty)) Some(s"$kind $from->$to: missing edge in ${path.mkString(",")}")
          else {
            val total = weights.flatten.sum
            if (math.abs(total - d) > 1e-9 * math.max(1.0, math.abs(d)))
              Some(s"$kind $from->$to: weight $total, optimum $d")
            else None
          }
        }
    }
}

object RouteModel {

  /** E1 risk with the E2 baseline, per system. */
  def risks(rows: Seq[(Long, Int, Int)]): Map[Long, Double] = {
    val tk = rows.map(_._2.toLong).sum
    val tj = rows.map(_._3.toLong).sum
    val baseline = if (tj > 0L) tk.toDouble / tj.toDouble else 0.01
    rows.map { case (id, k, j) =>
      val kd = k.toDouble
      id -> ((if (j > 0) kd * kd / j.toDouble else kd * kd) + baseline)
    }.toMap
  }

  /** Plain binary-heap Dijkstra: distance to every reachable vertex. */
  def dijkstra(adj: Map[Long, Array[(Long, Double)]], source: Long): Map[Long, Double] = {
    val dist = mutable.HashMap(source -> 0.0)
    val done = mutable.HashSet.empty[Long]
    val heap = mutable.PriorityQueue((0.0, source))(Ordering.by[(Double, Long), Double](_._1).reverse)
    while (heap.nonEmpty) {
      val (d, v) = heap.dequeue()
      if (done.add(v)) adj.getOrElse(v, Array.empty[(Long, Double)]).foreach { case (u, w) =>
        val nd = d + w
        if (dist.get(u).forall(nd < _)) { dist(u) = nd; heap.enqueue((nd, u)) }
      }
    }
    dist.toMap
  }
}
