package graft.api

import graft.graph.{Dijkstra, GraphCatalog}
import graft.model._
import graft.sources.{EveSource, Normalize}
import graft.store.EveStore
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Engine facade mirroring the reference's public contract (SURVEY.md §2.11):
  * route queries + refresh operations + bootstrap, minus the HTTP layer
  * (plain Scala functions; a server would be a thin wrapper).
  *
  * Projections: two weighted graphs, `system-map` (cost) and `jump-risk`
  * (risk), managed by [[GraphCatalog]] with the reference's lifecycle —
  * rebuilt on refresh (`database.rs:468-482`), `jump-risk` built lazily on
  * first safest-route query (`main.rs:178-185`). Each build is one
  * [[Dijkstra.project]] over the jumps table: at or below `localThreshold`
  * edges a driver-side CSR snapshot that reads no store file once built,
  * above it a persisted GraphX graph that leases the jump versions it reads
  * until the catalog releases it.
  *
  * How a route reaches a projection: both names resolve through an
  * in-memory name ↔ id index of the systems table (the reference's name
  * index), rebuilt by one collect after the table's version changes; the
  * search runs [[Dijkstra.autoPath]] on the pinned projection. A route on a
  * CSR snapshot with a current name index therefore starts no Spark job.
  * Above `localThreshold` systems rows or edges, the same fail-closed
  * dispatch keeps the lookups as filtered scans and the search on the
  * cluster.
  */
final class EveGraph private[graft] (val store: EveStore, localThreshold: Long) {

  def this(store: EveStore) = this(store, Dijkstra.DefaultLocalThreshold)

  val catalog = new GraphCatalog

  private val spark = store.spark

  // ---- projections (G1/G2, `database.rs:422-456`) ----

  private def buildProjection(weightCol: String): Dijkstra.Projection = {
    val (jumps, release) = store.leaseJumps()
    Dijkstra.project(jumps.select(col("src_system_id").as("src"), col("dst_system_id").as("dst"),
      col(weightCol).as("w")), localThreshold, release)
  }

  def refreshSystemMap(): Unit = catalog.refresh("system-map", () => buildProjection("cost"))

  def refreshJumpRisk(): Unit = catalog.refresh("jump-risk", () => buildProjection("risk"))

  // ---- route queries (G8/G9/G10, `database.rs:484-544`) ----

  /** Name ↔ id maps over one version of the systems table. A duplicated
    * name resolves to its smallest `system_id`; null names are not indexed. */
  private final class NameIndex(val ids: Map[String, Long], val names: Map[Long, String])

  /** The systems-table version last indexed, and its index (None above
    * `localThreshold` rows, where lookups stay filtered scans). The version
    * is read before the rows, so a refresh landing mid-build only tags the
    * index as older than its rows and costs one extra rebuild. */
  @volatile private var nameIndexAt: (Option[Long], Option[NameIndex]) = (None, None)

  private def nameIndex(): Option[NameIndex] = {
    val version = store.version("systems")
    val (at, index) = nameIndexAt
    if (at == version) index
    else {
      val built =
        if (store.systems.count() > localThreshold) None
        else {
          val rows = store.systems.filter(col("name").isNotNull)
            .select(col("system_id"), col("name"))
            .collect().map(r => (r.getLong(0), r.getString(1)))
          Some(new NameIndex(rows.groupMapReduce(_._2)(_._1)(math.min), rows.toMap))
        }
      nameIndexAt = (version, built)
      built
    }
  }

  private def systemIdByName(index: Option[NameIndex], name: String): Option[Long] = index match {
    case Some(ix) => ix.ids.get(name)
    case None =>
      val r = store.systems.filter(col("name") === name)
        .select(min(col("system_id"))).collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private def namesByIds(index: Option[NameIndex], ids: Seq[Long]): Map[Long, String] = index match {
    case Some(ix) => ix.names
    case None =>
      store.systems.filter(col("system_id").isin(ids: _*))
        .select(col("system_id"), col("name"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  /** Shared route logic: name-resolve both endpoints (missing name → None →
    * the reference's 404), Dijkstra over the named projection, then the
    * id→name mapping (J6). The projection is *pinned* for the duration of
    * the search ([[GraphCatalog.withGraph]]): a refresh landing mid-query
    * retires the old projection from the catalog immediately but cannot
    * release it under the running search, so the answer is computed
    * against one consistent snapshot. */
  private def route(graphName: String, weightCol: String, from: String, to: String): Option[Seq[String]] = {
    val index = nameIndex()
    for {
      src <- systemIdByName(index, from)
      dst <- systemIdByName(index, to)
      res <- catalog.withGraph(graphName, () => buildProjection(weightCol))(
        Dijkstra.autoPath(_, src, dst))
    } yield {
      val names = namesByIds(index, res._2.distinct)
      res._2.map(id => names.getOrElse(id, "undefined"))
    }
  }

  /** GET /shortest-route/{from}/to/{to} — cost-weighted (cost=1 constant in
    * the reference, so fewest jumps). */
  def shortestRoute(from: String, to: String): Option[Seq[String]] =
    route("system-map", "cost", from, to)

  /** GET /safest-route/{from}/to/{to} — risk-weighted; projection built
    * lazily if absent (G10). */
  def safestRoute(from: String, to: String): Option[Seq[String]] =
    route("jump-risk", "risk", from, to)

  // ---- refresh endpoints (§2.11, `main.rs:201-245`) ----

  /** POST /systems/refresh — diff-sync (SURVEY.md §3.2): stale ids removed
    * (DETACH), new ids pulled/normalized/appended, dedup repair — one store
    * call. */
  def refreshSystems(source: EveSource): Unit = {
    import spark.implicits._
    idDiff(store.systems.select($"system_id").as[Long], source.systemIds(spark)) {
      (stale, fresh) => store.syncSystems(stale, Normalize.systems(source.systemDetails(spark, fresh)))
    }
  }

  /** POST /stargates/refresh — stargate diff-sync driven by the systems'
    * stargate-id lists (A4 explode), then edge re-derivation (J3) and
    * system-map rebuild. Per-row 404s (ids the source no longer knows) are
    * skipped, matching `pull_stargate` (`sync.rs:323-350`). */
  def refreshStargates(source: EveSource): Unit = {
    import spark.implicits._
    val expected = store.systems.select(explode($"stargates")).as[Long]
    idDiff(store.stargates.select($"stargate_id").as[Long], expected) {
      (stale, fresh) => store.syncStargates(stale, Normalize.stargates(source.stargateDetails(spark, fresh)))
    }
    refreshSystemMap()
  }

  /** Both sides of an id diff from one shuffle: ids tagged by side (1 =
    * `held`, 2 = `wanted`) and grouped with a `bit_or` of the tags, persisted
    * once. `f` gets (held − wanted, wanted − held), J1 and J2 of the
    * diff-sync; the frame is released before this returns. */
  private def idDiff[T](held: Dataset[Long], wanted: Dataset[Long])(
      f: (Dataset[Long], Dataset[Long]) => T): T = {
    import spark.implicits._
    val sides = held.toDF("id").withColumn("side", lit(1))
      .unionByName(wanted.toDF("id").withColumn("side", lit(2)))
      .groupBy($"id").agg(bit_or($"side").as("sides"))
      .persist()
    def only(side: Int) = sides.filter($"sides" === side).select($"id").as[Long]
    try f(only(1), only(2)) finally sides.unpersist()
  }

  /** POST /systems/risk — kills/jumps snapshot upsert, baseline, edge-risk
    * update join, jump-risk rebuild (SURVEY.md §3.3). */
  def refreshRisks(source: EveSource): Unit =
    refreshRisks(source.systemKills(spark), source.systemJumps(spark))

  /** The risk refresh over given snapshots, shared by the endpoint and
    * [[graft.streaming.RiskStream]]'s micro-batches. The projection swap is
    * build-then-swap: readers never see a half-refresh. */
  def refreshRisks(kills: Dataset[SystemKills], jumps: Dataset[SystemJumps]): Unit = {
    store.updateRisks(kills, jumps)
    refreshJumpRisk()
  }

  /** POST /wormholes/refresh — snapshot-replace protocol (`sync.rs:66-94`):
    * drop all Thera/Turnur edges, re-add current wormhole signatures
    * bidirectionally, then rebuild system-map. */
  def refreshWormholes(source: EveSource): Unit = {
    import spark.implicits._
    store.replaceWormholes(Seq("Thera", "Turnur"), source.signatures(spark)
      .filter($"signature_type" === "wormhole") // P7
      .select($"in_system_id", $"out_system_id").as[(Long, Long)])
    refreshSystemMap()
  }

  /** Startup bootstrap, reference order (`main.rs:27-34,83-107`):
    * systems → stargates (+cost graph) → risks (+risk graph) → wormholes
    * (+cost graph rebuild). Any failure propagates (process aborts). */
  def bootstrap(source: EveSource): Unit = {
    store.initEmpty()
    refreshSystems(source)
    refreshStargates(source)
    refreshRisks(source)
    refreshWormholes(source)
  }
}
