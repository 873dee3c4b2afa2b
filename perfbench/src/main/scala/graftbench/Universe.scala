package graftbench

import graft.model._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** One upstream snapshot of the star map: what the five source endpoints
  * would return at one moment. */
final case class Snapshot(
    systems: Seq[SystemResponse],
    stargates: Seq[StargateResponse],
    kills: Seq[SystemKills],
    jumps: Seq[SystemJumps],
    signatures: Seq[EveScoutSignature])

/** Seeded EVE-scale universe plus its churn, written in the
  * `JsonEveSource` layout (one JSON object per line per endpoint).
  *
  * The base map has `Systems` systems: about two thirds are gated and
  * joined into one connected gate network (a random spanning tree plus
  * extra pairs between nearby systems), the rest are gateless. Thera is
  * gateless and reachable only through wormhole signatures; Turnur is
  * gated. Snapshot `c > 0` churns the base: new kills/jumps, a fresh set of
  * Thera signatures, a few gated systems added (and the previous cycle's
  * additions removed), and a few base systems retired for good.
  */
final class Universe(seed: Long) {
  import Universe._

  /** Regular system `i` has id `BaseId + i`; the last slot is Thera. */
  val regularIds: IndexedSeq[Long] = (0 until Systems - 1).map(i => BaseId + i)

  private val base = new Random(seed)

  val names: Map[Long, String] =
    (regularIds.map(id => id -> (if (id == TurnurId) "Turnur" else systemName(id))) :+
      (TheraId -> "Thera")).toMap

  /** Gated regular systems (Turnur always among them), in id order. */
  val gated: IndexedSeq[Long] =
    regularIds.filter(id => id == TurnurId || base.nextDouble() < GatedFraction)

  /** Undirected gate pairs of the base map: a spanning tree over the gated
    * systems (each joins a random earlier one within a short window, so the
    * network is connected with a long diameter) plus extra local pairs. */
  val gatePairs: IndexedSeq[(Long, Long)] = {
    val tree = (1 until gated.size).map { i =>
      val j = math.max(0, i - 1 - base.nextInt(TreeWindow))
      (gated(j), gated(i))
    }
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    tree.foreach(p => seen += norm(p))
    val extraN = math.round(gated.size * ExtraPairsPerGated).toInt
    val extra = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (extra.size < extraN) {
      val i = base.nextInt(gated.size)
      val j = i + 1 + base.nextInt(ExtraWindow)
      if (j < gated.size) {
        val p = norm((gated(i), gated(j)))
        if (seen.add(p)) extra += p
      }
    }
    tree ++ extra
  }

  private val positions: Map[Long, Position] = {
    val r = new Random(seed ^ 0x5eed)
    (regularIds :+ TheraId).map(id =>
      id -> Position(r.nextGaussian() * 1e17, r.nextGaussian() * 1e16, r.nextGaussian() * 1e17)).toMap
  }

  /** Base systems retired by cycle `c` (cumulative): one gated and one
    * gateless per cycle, never Thera or Turnur. Always retiring a gated one
    * keeps the work of a sync (its stale stargates) the same for every
    * seed. */
  private val retireOrder: (IndexedSeq[Long], IndexedSeq[Long]) = {
    val r = new Random(seed ^ 0xdead)
    val gatedSet = gated.toSet
    (r.shuffle(gated.filter(_ != TurnurId)), r.shuffle(regularIds.filterNot(gatedSet)))
  }

  private def retiredBy(cycle: Int): Set[Long] =
    (retireOrder._1.take(cycle) ++ retireOrder._2.take(cycle)).toSet

  /** Systems added in cycle `c`: fresh ids, each gated to one base system. */
  private def addedIn(cycle: Int): Seq[(Long, Long)] = if (cycle == 0) Nil else {
    val r = new Random(seed * 31 + cycle)
    (0 until AddedPerCycle).map { k =>
      (AddedBaseId + cycle.toLong * 100 + k, gated(r.nextInt(gated.size)))
    }
  }

  def snapshot(cycle: Int): Snapshot = {
    val r = new Random(seed * 1000003L + cycle)
    val retired = retiredBy(cycle)
    val added = addedIn(cycle)
    // every undirected pair yields two stargates, one per side
    val pairs = gatePairs.zipWithIndex.map { case ((a, b), k) => (a, b, PairGateId + 2L * k) } ++
      added.zipWithIndex.map { case ((x, b), k) => (x, b, AddedGateId + cycle * 1000L + 2L * k) }
    val live = (regularIds.toSet -- retired) ++ added.map(_._1) + TheraId
    val gates = pairs.flatMap { case (a, b, g) =>
      Seq((g, a, g + 1, b), (g + 1, b, g, a))
    }.filter { case (_, sys, _, _) => live(sys) }
    val gatesBySystem = gates.groupBy(_._2).map { case (s, gs) => s -> gs.map(_._1).sorted }
    val allNames = names ++ added.map { case (x, _) => x -> s"NEW-$x" }
    val allPos = positions ++ added.map { case (x, _) => x -> Position(x.toDouble, 0.0, -x.toDouble) }
    val systems = live.toSeq.sorted.map { id =>
      val sec = if (id == TheraId) -1.0 else ((id * 7919L) % 2001L - 1000L) / 1000.0
      SystemResponse(id, Some(allNames(id)), Some(20000000L + id % 1000L), sec,
        Some(40000000L + id), Some(if (sec >= 0.5) "B" else "C"), allPos(id),
        Some(Seq(PlanetRef(40100000L + id))), gatesBySystem.get(id).orElse(Some(Nil)))
    }
    val stargates = gates.map { case (g, sys, dg, dsys) =>
      StargateResponse(g, s"Stargate (${allNames(dsys)})", sys, GateTypeId,
        allPos(sys), StargateDestination(dg, dsys))
    }
    val liveSeq = live.toSeq.sorted
    // last-hour activity: kills are rare and bursty, jumps common; not
    // every system reports in every snapshot
    val kills = liveSeq.filter(_ => r.nextDouble() < 0.6).map { id =>
      SystemKills(id, if (r.nextDouble() < 0.7) 0 else 1 + r.nextInt(1 + r.nextInt(40)))
    }
    val jumps = liveSeq.filter(_ => r.nextDouble() < 0.8).map { id =>
      SystemJumps(id, if (r.nextDouble() < 0.1) 0 else r.nextInt(600))
    }
    val gatedLive = gated.filter(live).toIndexedSeq
    val regularLive = liveSeq.filter(id => id != TheraId)
    val sigs =
      (0 until TheraSignatures).map { k =>
        // mostly into gated space, some into gateless pockets, a few to
        // ids the map does not know (the endpoint check drops those)
        val out =
          if (k % 10 == 9) UnknownBaseId + r.nextInt(1000)
          else if (k % 5 == 4) regularLive(r.nextInt(regularLive.size))
          else gatedLive(r.nextInt(gatedLive.size))
        signature(s"c$cycle-t$k", TheraId, out, "wormhole", allNames)
      } ++ (0 until TurnurSignatures).map { k =>
        signature(s"c$cycle-u$k", TurnurId, gatedLive(r.nextInt(gatedLive.size)), "wormhole", allNames)
      } ++ (0 until OtherSignatures).map { k =>
        signature(s"c$cycle-o$k", TheraId, gatedLive(r.nextInt(gatedLive.size)),
          if (k % 2 == 0) "data" else "combat", allNames)
      }
    Snapshot(systems, stargates, kills, jumps, sigs)
  }
}

object Universe {
  val Systems = 8000
  val BaseId = 30000001L
  val TheraId = 31000005L
  val TurnurId = 30002086L
  val AddedBaseId = 32000000L
  val UnknownBaseId = 39000000L
  val PairGateId = 50000000L
  val AddedGateId = 58000000L
  val GateTypeId = 29624L
  val GatedFraction = 0.675
  val ExtraPairsPerGated = 0.28
  val TreeWindow = 40
  val ExtraWindow = 60
  val AddedPerCycle = 3
  val TheraSignatures = 40
  val TurnurSignatures = 3
  val OtherSignatures = 4

  private def norm(p: (Long, Long)) = if (p._1 < p._2) p else p.swap

  private val Letters = "ABCDEFGHJKLMNPQRSTUVWXYZ"

  /** Unique EVE-style name derived from the id, e.g. "KQ-4821". */
  def systemName(id: Long): String = {
    val n = id - BaseId
    s"${Letters((n / Letters.length % Letters.length).toInt)}${Letters((n % Letters.length).toInt)}-${1000 + n}"
  }

  private def signature(id: String, in: Long, out: Long, kind: String,
      names: Map[Long, String]): EveScoutSignature =
    EveScoutSignature(id, "2026-01-01T00:00:00Z", "2026-01-01T00:00:00Z", "",
      completed = true, wh_exits_outward = true, "K162", "xlarge",
      "2026-01-02T00:00:00Z", 12L, kind, out, names.getOrElse(out, "unknown"),
      in, 10000002L, "The Forge", None)

  // ---- JSON lines in the JsonEveSource layout ----

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def pos(p: Position): String = s"""{"x":${p.x},"y":${p.y},"z":${p.z}}"""

  private def opt[T](o: Option[T])(f: T => String): String = o.fold("null")(f)

  def systemJson(s: SystemResponse): String =
    s"""{"system_id":${s.system_id},"name":${opt(s.name)(q)},""" +
      s""""constellation_id":${opt(s.constellation_id)(_.toString)},"security_status":${s.security_status},""" +
      s""""star_id":${opt(s.star_id)(_.toString)},"security_class":${opt(s.security_class)(q)},""" +
      s""""position":${pos(s.position)},""" +
      s""""planets":${opt(s.planets)(_.map(p => s"""{"planet_id":${p.planet_id}}""").mkString("[", ",", "]"))},""" +
      s""""stargates":${opt(s.stargates)(_.mkString("[", ",", "]"))}}"""

  def stargateJson(g: StargateResponse): String =
    s"""{"stargate_id":${g.stargate_id},"name":${q(g.name)},"system_id":${g.system_id},""" +
      s""""type_id":${g.type_id},"position":${pos(g.position)},""" +
      s""""destination":{"stargate_id":${g.destination.stargate_id},"system_id":${g.destination.system_id}}}"""

  def signatureJson(s: EveScoutSignature): String =
    s"""{"id":${q(s.id)},"created_at":${q(s.created_at)},"updated_at":${q(s.updated_at)},""" +
      s""""completed_at":${q(s.completed_at)},"completed":${s.completed},""" +
      s""""wh_exits_outward":${s.wh_exits_outward},"wh_type":${q(s.wh_type)},""" +
      s""""max_ship_size":${q(s.max_ship_size)},"expires_at":${q(s.expires_at)},""" +
      s""""remaining_hours":${s.remaining_hours},"signature_type":${q(s.signature_type)},""" +
      s""""out_system_id":${s.out_system_id},"out_system_name":${q(s.out_system_name)},""" +
      s""""in_system_id":${s.in_system_id},"in_region_id":${s.in_region_id},""" +
      s""""in_region_name":${q(s.in_region_name)},"comment":${opt(s.comment)(q)}}"""

  /** Write `snap` under `dir` as the five JsonEveSource files. */
  def write(snap: Snapshot, dir: Path): Path = {
    Files.createDirectories(dir)
    def lines(file: String, rows: Seq[String]): Unit =
      Files.write(dir.resolve(file), rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    lines("systems.jsonl", snap.systems.map(systemJson))
    lines("stargates.jsonl", snap.stargates.map(stargateJson))
    lines("kills.jsonl", snap.kills.map(k => s"""{"system_id":${k.system_id},"ship_kills":${k.ship_kills}}"""))
    lines("jumps.jsonl", snap.jumps.map(j => s"""{"system_id":${j.system_id},"ship_jumps":${j.ship_jumps}}"""))
    lines("signatures.jsonl", snap.signatures.map(signatureJson))
    dir
  }
}
