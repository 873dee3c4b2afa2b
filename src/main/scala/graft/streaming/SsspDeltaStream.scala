package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming maintenance of the bounded-cost single-source distance table
  * under edge arrivals AND DELETIONS — the decremental completion of
  * [[SsspStream]], whose whole design (freshest ≡ minimum, relax-only
  * maintenance) rests on insert-only monotonicity. The reference's graph
  * is not insert-only: wormhole expiry DELETES edges
  * (`/root/reference/src/database.rs:458-466`, driven by
  * `sync.rs:71-76`), and a deletion can LENGTHEN distances or disconnect
  * vertices — no relaxation pass can ever discover that. The classical
  * answer (Ramalingam–Reps) is a bounded DAMAGED CONE: only vertices
  * whose settled shortest-path tree ran through a deleted edge can get
  * worse, so maintenance is
  *
  *   1. append the batch's ±edge events under `events/batch=<id>/pbs=<b>`
  *      (src-bucketed, [[EventBucket]]; op = +1 inserts a weighted
  *      edge; op = −1 deletes EVERY edge
  *      between its endpoints — the reference's expiry granularity,
  *      the hub drop in `EveStore.replaceWormholes`; both orientations
  *      stored). An edge is LIVE
  *      at a prefix iff its latest insert outranks the pair's latest
  *      delete (same-batch ties: the insert wins — a batch's deletes
  *      apply before its inserts, deterministically);
  *   2. walk the damaged cone over the maintained PREDECESSOR forest:
  *      directly damaged vertices are those whose tree edge
  *      (pred(v), v) was deleted; transitively, every tree descendant.
  *      Each step is a pred-restricted store probe — cone-sized work,
  *      never store-sized;
  *   3. re-seed: the damaged set's distances are voided; candidate
  *      bounds come from live boundary in-edges (undamaged neighbor's
  *      settled dist + w) plus the batch's new-edge relaxations (the
  *      [[SsspStream]] monotone path, unchanged), then Bellman–Ford
  *      relaxation over live edges to fixpoint within the budget —
  *      strictly-decreasing integer candidates bound termination;
  *   4. write improved rows (node, dist, pred) and an explicit
  *      dist-NULL TOMBSTONE for every damaged vertex not re-reached
  *      within the budget; serving takes each node's freshest row and
  *      drops tombstones. Freshest-wins is correct WITHOUT monotonicity
  *      because every write is the exact value at its prefix.
  *
  * The pred column is what makes deletions affordable: without it the
  * damaged set is not identifiable and every deletion would force a
  * full recompute. Ties are broken deterministically (min (dist, pred)
  * struct), so redelivery of a batch rewrites identical bytes —
  * replay-idempotent like every maintainer in the family. All store
  * reads are restriction-first (endpoint/pred/node semi-joins BEFORE any
  * aggregate or window) AND bucket-pruned ([[Stores.pruneTo]] over the
  * per-batch frames — events on src, dists on node and on pred, the
  * cone probe's key); per-batch cost is the damaged cone plus the
  * delta's adjacency — the working set any exact decremental SSSP must
  * read (the Ramalingam–Reps bound) — and so is the file footprint.
  * Weights must be non-negative (enforced at the door, the
  * [[SsspStream]] contract).
  *
  * SsspDeltaStreamSpec forces a deletion that lengthens a served
  * distance and one that disconnects a vertex, pins equality with an
  * insert-only rebuild on the surviving edge set, and covers
  * delete→re-insert across a compaction; the q100 CORRECTNESS row
  * serves ingest(+delete) → compact → serve against q79's oracle on the
  * surviving pairs.
  */
object SsspDeltaStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("w", LongType, nullable = false),
    StructField("op", IntegerType, nullable = false)))

  /** Sentinel pred of the source row (node ids are non-negative). */
  private val NoPred = -1L

  // Dev-only visibility for tools.ProfileSsspDelta (which term of a
  // batch scales with SF: cone depth, relax rounds, or per-round data
  // volume). Written once per processBatch, read by no serving path.
  @volatile private[graft] var lastConeRounds: Int = 0
  @volatile private[graft] var lastRelaxRounds: Int = 0

  /** Bucketed layout ([[Stores.readPruned]] — restricted reads must
    * prune FILES, not just shuffle): events bucket on src (every edge
    * lookup is src-restricted over the symmetrized rows); distances have
    * TWO restriction keys — node for the freshest-row restriction
    * ([[freshRowsOf]]) and pred for the damaged-cone descendant probe
    * (which asks "whose rows point AT the frontier?") — and since
    * round 12 are kept as dual SINGLE-KEY REPLICAS (`dists` keyed node,
    * `distsp` keyed pred) instead of one store nesting both bucket
    * columns: the nested layout's nb² leaf dirs per batch cost the
    * sssp_delta lane 1.14–1.40× of flat in MAINTAB_r12, write-side
    * dominated (the [[TriangleStream]] measurement and fix, applied to
    * this store's pair). Pre-replica stores keep serving — the cone
    * probe falls back to `dists`, still pruned via its old pbp column —
    * and [[compact]] seeds the missing replica; appends onto the old
    * layout trip [[Stores]]' guard with the fold-through-highest
    * migration. Tombstones' null pred hashes to a fixed bucket — they
    * are only ever read back node-restricted, so the pred replica never
    * has to find them. */
  private[graft] val EventBucket = Stores.Bucket("pbs", "src")
  private[graft] val DistNodeBucket = Stores.Bucket("pbn", "node")
  private[graft] val DistPredBucket = Stores.Bucket("pbp", "pred")
  private[graft] val DistReplicas =
    Seq("dists" -> DistNodeBucket, "distsp" -> DistPredBucket)

  /** Freshest NON-TOMBSTONE (node, dist, pred) rows of `nodes` only,
    * over the per-batch `store` frame (already prefix-bounded to
    * `batch < id` — the bound is what makes redelivery rewrite identical
    * bytes: every in-batch read sees the PRE-batch state, never a
    * previous delivery's own write, the TriangleStream `rawPairsBefore`
    * rule). Node-restricted BEFORE the window (the round-10 discipline);
    * one frame per batch shares its file index across rounds. */
  private[graft] def freshRowsOf(store: Option[DataFrame], nodes: DataFrame): DataFrame =
    store match {
      case None =>
        val s = nodes.sparkSession
        import s.implicits._
        s.emptyDataset[(Long, Long, Long)].toDF("node", "dist", "pred")
      case Some(df) =>
        val s = df.sparkSession
        import s.implicits._
        Stores.freshestPerKey(
            Stores.pruneTo(df, DistNodeBucket, nodes)
              .join(nodes.select($"node"), Seq("node"), "left_semi"), "node")
          .filter($"dist".isNotNull)
          .select($"node", $"dist", $"pred")
    }

  /** LIVE out-edges of `nodes` over the per-batch `eventsDf` frame
    * (prefix ≤ id): the ±event store resolved per (src, dst[, w]) —
    * latest insert vs the pair's latest delete, insert winning ties —
    * AFTER an src-side semi-join (the store is symmetrized, so
    * src-restriction also serves in-edge lookups via the mirrored
    * rows). */
  private[graft] def liveEdgesFrom(eventsDf: DataFrame, nodes: DataFrame): DataFrame = {
    val s = eventsDf.sparkSession
    import s.implicits._
    val ev = Stores.pruneTo(eventsDf, EventBucket, nodes)
      .join(nodes.select($"node".as("src")), Seq("src"), "left_semi")
    Stores.liveAfterDeletes(ev, Seq("src", "dst"), Seq("w"))
  }

  /** Deterministic min per node over (dist, pred) candidates. */
  private def minByDist(cand: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    cand.groupBy($"node").agg(min(struct($"dist", $"pred")).as("m"))
      .select($"node", $"m.dist".as("dist"), $"m.pred".as("pred"))
  }

  /** Ingest one micro-batch of ±edge events and restore exactness for
    * every vertex the batch can have changed. Idempotent under
    * redelivery of identical batch content. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      source: Long, budget: Long): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // reset BEFORE the empty-batch return: an empty batch must report
    // zero rounds, not the previous batch's counts
    lastConeRounds = 0
    lastRelaxRounds = 0
    if (batch.isEmpty) return
    // negative-weight inserts void the relaxation invariants (the
    // SsspStream contract); delete rows carry no meaningful weight
    val valid = batch.filter($"op" === -1 || $"w" >= 0)
    val events = valid.select($"src", $"dst", $"w", $"op")
      .union(valid.select($"dst".as("src"), $"src".as("dst"), $"w", $"op"))
      .localCheckpoint()
    Stores.writeBatch(events, batchId, s"$storeDir/events", Seq(EventBucket))
    // one store frame each per batch, shared across rounds (file index
    // resolved once — per-round cost is a restricted scan, not a
    // listing); the cone probe gets the pred-keyed replica, falling back
    // to the node-keyed primary for pre-replica stores (still pruned
    // there via the legacy pbp column when present)
    val distStore =
      if (Stores.exists(s, s"$storeDir/dists"))
        Some(Stores.read(s, s"$storeDir/dists").filter($"batch" < batchId))
      else None
    val coneStore =
      if (Stores.exists(s, s"$storeDir/distsp"))
        Some(Stores.read(s, s"$storeDir/distsp").filter($"batch" < batchId))
      else distStore
    val eventsDf = Stores.read(s, s"$storeDir/events").filter($"batch" <= batchId)

    // ---- damaged cone: tree edge deleted, then tree descendants ----
    val delPairs = events.filter($"op" === -1)
      .select($"src", $"dst").distinct().localCheckpoint()
    val damaged0 = freshRowsOf(distStore, delPairs.select($"dst".as("node")))
      .join(delPairs.select($"src".as("pred"), $"dst".as("node")),
        Seq("node", "pred"), "left_semi")
      .select($"node").localCheckpoint()
    var damaged = damaged0
    var dFrontier = damaged0
    while (!dFrontier.isEmpty) {
      lastConeRounds += 1
      // nodes with ANY row pointing at the frontier (superset), then the
      // freshest-row check — both restricted, and the descendant probe
      // pruned to the frontier's PRED buckets (checkpointed: candNodes
      // feeds freshRowsOf's bucket-id action AND its semi-join)
      val candNodes = Stores.pruneTo(coneStore.get, DistPredBucket, dFrontier)
        .join(dFrontier.select($"node".as("pred")), Seq("pred"), "left_semi")
        .select($"node").distinct().localCheckpoint()
      val next = freshRowsOf(distStore, candNodes)
        .join(dFrontier.select($"node".as("pred")), Seq("pred"), "left_semi")
        .select($"node")
        .join(damaged, Seq("node"), "left_anti")
        .localCheckpoint()
      // frontiers are node-unique (freshRowsOf is one row per node) and
      // disjoint from the accumulated set (the anti-join above), so the
      // union needs no distinct — and no re-checkpoint: each frontier is
      // already materialized, and re-checkpointing the UNION would copy
      // the settled prefix every iteration (O(|cone| · depth) checkpoint
      // volume instead of O(|cone|) — the round-10 review's polish item).
      // The running union's plan grows one leaf per iteration, bounded
      // by the budgeted cone depth.
      damaged = damaged.union(next)
      dFrontier = next
    }

    // ---- best-known lookup: settled rows minus the damaged set, plus
    // this batch's improvements so far, restricted to the asked nodes ----
    var improvedSoFar = s.emptyDataset[(Long, Long, Long)]
      .toDF("node", "dist", "pred").localCheckpoint()
    def knownFor(cand: DataFrame): DataFrame = {
      val nodes = cand.select($"node").distinct()
      minByDist(
        freshRowsOf(distStore, nodes).join(damaged, Seq("node"), "left_anti")
          .union(improvedSoFar.join(nodes, Seq("node"), "left_semi")))
    }
    def improvements(cand: DataFrame, known: DataFrame): DataFrame =
      minByDist(cand)
        .join(known.select($"node", $"dist".as("old")), Seq("node"), "left")
        .filter($"old".isNull || $"dist" < $"old")
        .select($"node", $"dist", $"pred")
    def relaxFrom(frontier: DataFrame, edges: DataFrame): DataFrame =
      frontier.withColumnRenamed("node", "src")
        .join(edges, Seq("src"))
        .select($"dst".as("node"), ($"dist" + $"w").as("dist"), $"src".as("pred"))
        .filter($"dist" <= budget)

    // ---- seeds ----
    val sourceRow = Seq((source, 0L, NoPred)).toDF("node", "dist", "pred")
    val newLive = events.filter($"op" === 1 && $"w" >= 0)
      .select($"src", $"dst", $"w")
    val insertEps = newLive.select($"src".as("node")).distinct()
    val insertSeeds = relaxFrom(
      knownFor(insertEps).join(damaged, Seq("node"), "left_anti"), newLive)
    // boundary: live in-edges of damaged vertices from settled neighbors
    // (mirrored rows: out-edges OF the damaged set, known dist at dst).
    // Checkpointed: boundary feeds knownFor's bucket-id action AND the
    // seed join; seedCand likewise (the round-11 once-per-round rule)
    val boundary = liveEdgesFrom(eventsDf, damaged)
      .select($"dst".as("node"), $"src".as("into"), $"w")
      .localCheckpoint()
    val boundarySeeds = boundary
      .join(knownFor(boundary.select($"node")).join(damaged, Seq("node"), "left_anti")
          .select($"node", $"dist"), Seq("node"))
      .select($"into".as("node"), ($"dist" + $"w").as("dist"), $"node".as("pred"))
      .filter($"dist" <= budget)
    val seedCand = sourceRow.union(insertSeeds).union(boundarySeeds)
      .localCheckpoint()
    var frontier = improvements(seedCand, knownFor(seedCand)).localCheckpoint()
    improvedSoFar = frontier

    // ---- propagate to fixpoint within the budget ----
    while (!frontier.isEmpty) {
      lastRelaxRounds += 1
      val cand = relaxFrom(frontier,
        liveEdgesFrom(eventsDf, frontier.select($"node"))).localCheckpoint()
      val next = improvements(cand, knownFor(cand)).localCheckpoint()
      improvedSoFar = minByDist(improvedSoFar.union(next)).localCheckpoint()
      frontier = next
    }

    // ---- write: improvements + tombstones for unre-reached damage ----
    val tombstones = damaged.join(improvedSoFar, Seq("node"), "left_anti")
      .select($"node", lit(null).cast("long").as("dist"),
        lit(null).cast("long").as("pred"))
    val out = improvedSoFar.union(tombstones).cache()
    if (!out.isEmpty)
      Stores.writeReplicaBatch(out, batchId, storeDir, DistReplicas)
    out.unpersist(blocking = false)
  }

  /** Served distance table — q79's (node, dist) shape: freshest row per
    * node, tombstones dropped. */
  def snapshot(s: SparkSession, storeDir: String): DataFrame = {
    import s.implicits._
    if (!Stores.exists(s, s"$storeDir/dists"))
      s.emptyDataset[(Long, Long)].toDF("node", "dist")
    else Stores.freshestPerKey(Stores.read(s, s"$storeDir/dists"), "node")
      .filter($"dist".isNotNull)
      .select($"node", $"dist")
  }

  /** File-source wiring ([[Stores.fileStream]]). */
  def start(s: SparkSession, eventsDir: String, storeDir: String,
      source: Long, budget: Long,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, eventSchema, eventsDir, storeDir, trigger)(
      processBatch(_, _, storeDir, source, budget))

  /** Fold batches ≤ `throughBatch` (plus prior generations) of both
    * stores ([[Stores.fold]] — atomic, manifested): events resolve to the
    * prefix's LIVE edges as +1 rows (delete history collapses away — a
    * later delete at a positive id still outranks the folded insert's
    * negative generation in the liveness comparison), dists keep each
    * node's freshest row with tombstone-fresh nodes dropped entirely
    * (everything a tombstone shadowed folds away with it). */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    Stores.fold(s, s"$storeDir/events", throughBatch, Seq(EventBucket))(src =>
      Stores.liveAfterDeletes(src, Seq("src", "dst"), Seq("w"))
        .withColumn("op", lit(1)))
    // each replica folds under ITS key's layout; a pre-replica store has
    // no distsp root — compactReplicas seeds it from the primary's
    // folded rows so the cone probe never silently misses history (the
    // freshest-row stage is idempotent, per the compactReplicas contract)
    Stores.compactReplicas(s, storeDir, DistReplicas, throughBatch)(src =>
      Stores.freshestPerKey(src, "node").filter($"dist".isNotNull)
        .select($"node", $"dist", $"pred"))
  }
}
