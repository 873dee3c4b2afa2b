package graft.store

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Parquet-backed mutable tables with the reference's write semantics
  * re-expressed as bulk relational rewrites (SURVEY.md §2.1 S9-S12, §4).
  *
  * The reference mutates its graph with a chain of Cypher statements
  * (`SET`, `DETACH DELETE`, `MERGE`), one per step. Here each refresh is one
  * store call that builds one plan per table it touches and writes that
  * table once: deletes, inserts, dedup repair and risk updates fold into the
  * same read→transform→overwrite. Each overwrite writes a fresh
  * versioned directory and then atomically swaps a manifest pointer, so a
  * reader started against version N never observes a half-written version
  * N+1 — the refresh-atomicity fix called out in SURVEY.md §7.4. At cluster
  * scale the same protocol works over any shared filesystem because the
  * manifest move is a single-file rename.
  *
  * Reclamation: after each swap the table's directory is listed and every
  * version older than the previous one is deleted, orphans of a crash
  * between an earlier swap and its delete included; a version newer than
  * the current one is never touched. A plain reader resolved against
  * version N therefore stays valid until version N+2 commits. A reader that
  * must outlive that — a GraphX projection, whose evicted partitions
  * recompute from its files — takes a lease ([[leaseJumps]]): a leased
  * version is kept until the lease is released. Reads declare each table's
  * schema from its model encoder, so building a frame starts no job.
  */
final class EveStore(val spark: SparkSession, root: String) {
  import spark.implicits._

  Files.createDirectories(Paths.get(root))
  private val versions = TrieMap.empty[String, Long]

  /** Lease counts per (table, version); its lock also orders every lease
    * against every reclaim. */
  private val leases = mutable.Map.empty[(String, Long), Int]

  // ---- versioned table primitives ----

  private def manifest(table: String) = Paths.get(root, table, "MANIFEST")

  private def currentVersion(table: String): Option[Long] =
    versions.get(table).orElse {
      val m = manifest(table)
      if (Files.exists(m)) Some(Files.readString(m).trim.toLong) else None
    }

  def write(table: String, df: DataFrame): Unit = {
    val next = currentVersion(table).getOrElse(0L) + 1L
    val dir = Paths.get(root, table, s"v$next")
    df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val tmp = Paths.get(root, table, s".MANIFEST.$next")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, next.toString)
    Files.move(tmp, manifest(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    versions.put(table, next)
    reclaim(table, next)
  }

  /** Deletes every unleased `v<k>` of `table` with k < current − 1. */
  private def reclaim(table: String, current: Long): Unit = leases.synchronized {
    val listing = Files.list(Paths.get(root, table))
    val doomed = try listing.iterator().asScala.toList.filter(_.getFileName.toString match {
      case VersionDir(k) => k.toLong < current - 1 && !leases.contains((table, k.toLong))
      case _ => false
    }) finally listing.close()
    doomed.foreach { d =>
      val tree = Files.walk(d)
      try tree.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally tree.close()
    }
  }

  private val VersionDir = "v(\\d+)".r

  private def readAt(table: String, version: Long): DataFrame =
    spark.read.schema(Schemas(table)).parquet(Paths.get(root, table, s"v$version").toString)

  def read(table: String): DataFrame = currentVersion(table) match {
    case Some(v) => readAt(table, v)
    case None => throw new IllegalStateException(s"table $table not initialized")
  }

  def exists(table: String): Boolean = currentVersion(table).isDefined

  /** Current committed version of a table (None before first write) —
    * lets callers detect whether a snapshot they derived is still fresh. */
  def version(table: String): Option[Long] = currentVersion(table)

  def systems: Dataset[System] = read("systems").as[System]
  def stargates: Dataset[Stargate] = read("stargates").as[Stargate]

  /** The jumps edge table is stored as independently-versioned partitions
    * keyed by edge `kind`: gate re-derivation and wormhole snapshot-replace
    * each rewrite ONLY their own partition. That is the mutation-cost story
    * at 100 TB — the ephemeral wormhole refresh (every few minutes) must
    * not rewrite the massive stable gate partition it shares a logical
    * table with. Readers see the union. */
  private val JumpKinds = Seq("gate", "wormhole")
  private def jumpTable(kind: String) = s"jumps_$kind"

  def jumps: Dataset[Jump] =
    JumpKinds.map(k => read(jumpTable(k))).reduce(_ unionByName _).as[Jump]

  private val Schemas: Map[String, StructType] = Map(
    "systems" -> Encoders.product[System].schema,
    "stargates" -> Encoders.product[Stargate].schema) ++
    JumpKinds.map(k => jumpTable(k) -> Encoders.product[Jump].schema)

  /** [[jumps]] at the current version of each partition, with those
    * versions kept from reclamation until the returned release runs (it is
    * idempotent). */
  def leaseJumps(): (Dataset[Jump], () => Unit) = leases.synchronized {
    val held = JumpKinds.map(k => jumpTable(k)).map(t => (t, currentVersion(t).get))
    held.foreach(h => leases(h) = leases.getOrElse(h, 0) + 1)
    val released = new AtomicBoolean
    val release = () => if (released.compareAndSet(false, true)) leases.synchronized {
      held.foreach(h => if (leases(h) == 1) leases.remove(h) else leases(h) -= 1)
    }
    (held.map { case (t, v) => readAt(t, v) }.reduce(_ unionByName _).as[Jump], release)
  }

  def initEmpty(): Unit = {
    if (!exists("systems")) write("systems", spark.emptyDataset[System].toDF())
    if (!exists("stargates")) write("stargates", spark.emptyDataset[Stargate].toDF())
    JumpKinds.foreach { k =>
      if (!exists(jumpTable(k))) write(jumpTable(k), spark.emptyDataset[Jump].toDF())
    }
  }

  // ---- refresh plans: one write per table ----

  /** A3 keyed dedup (`database.rs:546-578`): one arbitrary-but-deterministic
    * survivor per key. */
  private def keepFirst(df: DataFrame, key: Seq[String], order: Column*): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(key.map(col): _*).orderBy(order: _*)))
      .filter($"rn" === 1).drop("rn")

  /** Runs `f` over `df` persisted, and releases it before returning. */
  private def persisted[T](df: DataFrame)(f: DataFrame => T): T = {
    val p = df.persist()
    try f(p) finally p.unpersist()
  }

  /** Writes each kind partition once, all from one evaluation of `edges`. */
  private def writeJumps(edges: DataFrame): Unit =
    persisted(edges)(e => JumpKinds.foreach(k => write(jumpTable(k), e.filter($"kind" === k))))

  /** Systems diff-sync (S9 + J4/G6 DETACH + A3): the `stale` ids leave the
    * systems table together with every edge touching them, both directions;
    * the `fresh` rows are appended. Then one survivor per `system_id`, and
    * one edge per (src, dst) across kinds, the smallest by (cost, risk) —
    * the relational form of the reference's per-instance DETACH (SURVEY.md
    * §7.4 "Dedup + DETACH"). `stale` is read by both plans, so a caller
    * that derives it through a shuffle persists it. */
  def syncSystems(stale: Dataset[Long], fresh: Dataset[System]): Unit = {
    val ids = stale.toDF("rid")
    write("systems", keepFirst(
      systems.toDF().join(ids, $"system_id" === $"rid", "left_anti").unionByName(fresh.toDF()),
      Seq("system_id"), $"name", $"constellation_id"))
    writeJumps(keepFirst(
      jumps.toDF()
        .join(ids, $"src_system_id" === $"rid", "left_anti")
        .join(ids, $"dst_system_id" === $"rid", "left_anti"),
      Seq("src_system_id", "dst_system_id"), $"cost", $"risk"))
  }

  /** Stargate diff-sync (S10 + J4 + A3): drop `stale`, append `fresh`, one
    * survivor per `stargate_id`; then the gate edges are re-derived. */
  def syncStargates(stale: Dataset[Long], fresh: Dataset[Stargate]): Unit = {
    write("stargates", keepFirst(
      stargates.toDF().join(stale.toDF("rid"), $"stargate_id" === $"rid", "left_anti")
        .unionByName(fresh.toDF()),
      Seq("stargate_id"), $"name"))
    deriveJumps()
  }

  // ---- edge derivation (S11/J3, `database.rs:367-385`) ----

  /** Derive JUMP edges from stargate rows, validating that *both* endpoints
    * exist (the reference's double MATCH), then dedup on (src,dst) — which
    * also gives the idempotence its `jump_exists` probe provided. */
  def deriveJumps(): Unit = {
    val sys = systems.select($"system_id").distinct()
    val candidates = stargates.select(
      $"system_id".as("src_system_id"),
      $"destination_system_id".as("dst_system_id"))
    val validated = candidates
      .join(sys.toDF("sid"), $"src_system_id" === $"sid", "left_semi")
      .join(sys.toDF("did"), $"dst_system_id" === $"did", "left_semi")
      .select($"src_system_id", $"dst_system_id",
        lit(1.0).as("cost"), lit(0.0).as("risk"), lit("gate").as("kind"))
    // preserve risk already set on surviving gate edges
    val existing = read(jumpTable("gate"))
      .select($"src_system_id", $"dst_system_id", $"risk".as("old_risk"))
    val gates = validated.join(existing, Seq("src_system_id", "dst_system_id"), "left")
      .select($"src_system_id", $"dst_system_id", $"cost",
        coalesce($"old_risk", lit(0.0)).as("risk"), $"kind")
      .dropDuplicates("src_system_id", "dst_system_id")
    // wormhole edges have their own lifecycle (refreshWormholes) and their
    // own partition: gate re-derivation doesn't even read it
    write(jumpTable("gate"), gates)
  }

  /** Wormhole snapshot-replace (G7 + S12, `sync.rs:66-94`): every edge
    * touching a system named in `hubs` is dropped, both directions
    * (undirected match, `database.rs:458-466`), then each pair whose
    * endpoints both exist (the J3 validation) is inserted in both directions
    * *without* an existence check — idempotence comes from the drop-first
    * protocol. The wormhole partition is rewritten once. The gate partition
    * is probed read-only and rewritten only when a gate edge touches a hub
    * (Turnur's gates, which stay dropped until the next stargate refresh). */
  def replaceWormholes(hubs: Seq[String], pairs: Dataset[(Long, Long)]): Unit = {
    val ids = broadcast(systems.filter($"name".isin(hubs: _*)).select($"system_id".as("rid")))
    val touches = $"src_system_id" === $"rid" || $"dst_system_id" === $"rid"
    val gate = read(jumpTable("gate"))
    if (!gate.join(ids, touches, "left_semi").isEmpty)
      write(jumpTable("gate"), gate.join(ids, touches, "left_anti"))
    val sys = systems.select($"system_id")
    val p = pairs.toDF("in_id", "out_id")
      .join(sys.toDF("a"), $"in_id" === $"a", "left_semi")
      .join(sys.toDF("b"), $"out_id" === $"b", "left_semi")
    val both = p.select($"in_id".as("src_system_id"), $"out_id".as("dst_system_id"))
      .union(p.select($"out_id", $"in_id"))
      .withColumn("cost", lit(1.0)).withColumn("risk", lit(0.0))
      .withColumn("kind", lit("wormhole"))
    write(jumpTable("wormhole"),
      read(jumpTable("wormhole")).join(ids, touches, "left_anti").unionByName(both))
  }

  // ---- risk (J7 + J5 + E1/E2, `database.rs:256-332`, `sync.rs:296-321`) ----

  /** Per-system E1 risk over the current systems snapshot with the E2
    * baseline — (system_id, risk). The single source of truth for risk: the
    * edge-table refresh derives from it, never from previously-written edge
    * rows, which could carry stale or not-yet-refreshed values. */
  def riskBySystem(): DataFrame = {
    val sys = systems.toDF()
    val totals = sys.agg(
      sum($"kills".cast("long")).as("tk"),
      sum($"jumps".cast("long")).as("tj"))
    val baseline = when($"tj" > 0L, $"tk".cast("double") / $"tj".cast("double"))
      .otherwise(lit(0.01))
    sys.crossJoin(broadcast(totals))
      .select($"system_id",
        graft.risk.Risk.totalRisk($"kills", $"jumps", baseline).as("risk"))
  }

  /** Risk refresh over a kills/jumps snapshot. The bulk form of the
    * reference's per-system SET fan-out upserts the snapshot onto systems,
    * one join per snapshot, unmatched systems keeping their previous value
    * (J7). Then one edge-table join replaces the reference's ~8.5k
    * per-system statements (J5): every edge's risk becomes its *destination*
    * system's kills²/jumps + baseline (baseline = Σkills/Σjumps, fallback
    * 0.01), with [[riskBySystem]] evaluated once for both partitions. */
  def updateRisks(kills: Dataset[SystemKills], jumps_ : Dataset[SystemJumps]): Unit = {
    val k = kills.toDF("k_id", "ship_kills")
    val j = jumps_.toDF("j_id", "ship_jumps")
    write("systems", systems.toDF()
      .join(k, $"system_id" === $"k_id", "left")
      .join(j, $"system_id" === $"j_id", "left")
      .withColumn("kills", coalesce($"ship_kills", $"kills"))
      .withColumn("jumps", coalesce($"ship_jumps", $"jumps"))
      .drop("k_id", "ship_kills", "j_id", "ship_jumps"))
    val rbs = riskBySystem().select($"system_id".as("risk_id"), $"risk".as("new_risk"))
    writeJumps(jumps.toDF()
      .join(rbs, $"dst_system_id" === $"risk_id", "left")
      .withColumn("risk", coalesce($"new_risk", $"risk"))
      .drop("risk_id", "new_risk"))
  }
}
