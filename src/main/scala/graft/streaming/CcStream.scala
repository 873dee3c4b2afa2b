package graft.streaming

import graft.operators.GraphQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming maintenance of connected-component labels under edge
  * arrivals AND DELETIONS (round 10 — the reference's wormhole expiry,
  * `database.rs:458-466`) — the GRAPH member of the maintained-store
  * family, and a second instance of [[FunnelStream]]'s delta-driven
  * TARGETED-RECOMPUTE pattern: component labels are not a monoid under
  * edge insertion (one new edge can merge two giant components,
  * relabeling millions of vertices neither endpoint "owns") and a
  * deletion can SPLIT a component or isolate a vertex — no bounded
  * per-vertex state folds associatively in either direction. What IS
  * bounded is the blast radius: a batch can only change the components
  * it TOUCHES — every other component's labels are untouched by
  * construction, and because the recompute always re-derives the touched
  * components from the complete SURVIVING edge prefix, merges, splits
  * and isolations all fall out of the same mechanism (a split's halves
  * get their own min labels; an isolated vertex gets a tombstone, since
  * batch q80 excludes edge-less vertices).
  *
  * Per micro-batch:
  *   1. append the batch's edges under `edges/batch=<id>/pbs=<b>`
  *      (dynamic partition overwrite — deterministic bytes, redelivery
  *      converges; `pbs` buckets on src, [[EdgeBuckets]]);
  *   2. find the AFFECTED set RESTRICTION-FIRST: current labels of the
  *      batch's endpoints via a node-restricted freshest-row window, then
  *      every vertex whose CURRENT label is one of those via a component-
  *      restricted candidate semi-join + freshest-row arbitration
  *      ([[membersOf]] — no store-sized window or aggregate runs per
  *      batch, and the store SCAN itself is bucket-pruned: the labels
  *      live as dual single-key replicas — node-keyed and component-
  *      keyed — so each restricted read lists and reads only the touched
  *      buckets' files of ITS replica, [[LabelReplicas]]). Endpoints
  *      never labeled are
  *      new vertices. An edge of the store always joins
  *      same-component vertices, so filtering store edges by src-side
  *      membership captures exactly the affected components' subgraph;
  *   3. rerun [[GraphQueries.minLabelPropagation]] (the q80 engine,
  *      message-pruned Pregel with its round budget as a bound, not a
  *      cost) on that induced subgraph only — labels for untouched
  *      components are never recomputed or rewritten;
  *   4. write the recomputed labels under `labels/batch=<id>`; the
  *      serving view takes each vertex's row from the freshest batch
  *      (live > newest negative generation, the [[FunnelStream]] rule).
  *
  * Exactness under ANY arrival order and ANY batch split: a touched
  * component's labels are always re-derived from the COMPLETE edge
  * prefix of its members, never folded from partials — CcStreamSpec pins
  * equality with the batch q80 result under splits chosen to force
  * cross-batch merges. Per batch the cost is the affected components'
  * edges — the working set any exact maintainer must read, and since
  * round 11 the only files a batch reads: every store read is
  * bucket-pruned by its restriction key ([[Stores.readPruned]];
  * BucketPruningSpec asserts the partition filter and the pruned file
  * count on the executed plans).
  */
object CcStream {

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** File-source schema for ±edge event feeds (op = +1 insert, −1 delete
    * of every edge between the endpoints). */
  val deltaSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("op", IntegerType, nullable = false)))

  /** The stores' bucketed layout ([[Stores.readPruned]]): edges bucket
    * on src (the symmetrized restriction key of every edge read). Labels
    * have two restriction keys — node for the freshest-row restriction
    * ([[labelsOf]]), component for the membership candidate restriction
    * ([[membersOf]]) — and since round 12 are kept as dual SINGLE-KEY
    * REPLICAS (`labels` keyed node, `labelsc` keyed component) instead
    * of one store nesting both bucket columns: MAINTAB_r12 priced the
    * nested nb² leaf-dir layout at 1.46–1.64× of flat on the triangle
    * lanes (write-side dominated, not amortizing with SF), and the same
    * layout served this store. Each consumer prunes the replica keyed by
    * its own restriction. */
  private[graft] val EdgeBuckets = Seq(Stores.Bucket("pbs", "src"))
  private[graft] val NodeBucket = Stores.Bucket("pbn", "node")
  private[graft] val CompBucket = Stores.Bucket("pbc", "component")
  private[graft] val LabelReplicas =
    Seq("labels" -> NodeBucket, "labelsc" -> CompBucket)

  /** Freshest label per vertex: live batches outrank compacted
    * generations; among negative generations the newest (most negative)
    * wins. */
  def snapshot(s: SparkSession, storeDir: String): DataFrame = {
    import s.implicits._
    Stores.freshestPerKey(Stores.read(s, s"$storeDir/labels"), "node")
      .filter($"component".isNotNull)
      .select($"node", $"component")
  }

  /** Freshest label rows of `nodes` ONLY — [[snapshot]]'s window run over
    * a node-restricted slice (row_number partitions by node, so the
    * restriction commutes with the window): the per-batch shuffle is
    * touched-volume, not store-volume. */
  private[graft] def labelsOf(s: SparkSession, storeDir: String,
      nodes: DataFrame): DataFrame = {
    import s.implicits._
    Stores.freshestPerKey(
        Stores.readPruned(s, s"$storeDir/labels", NodeBucket, nodes)
          .join(nodes, Seq("node"), "left_semi"),
        "node")
      .filter($"component".isNotNull)
      .select($"node", $"component")
  }

  /** Every CURRENT member of the components the `touched` nodes belong
    * to, restriction-first — NO store-sized window or aggregate runs.
    * Membership must be FRESHEST-ARBITRATED, not raw-row matched: under
    * deletions a SPLIT leaves stale rows of the split-off half still
    * carrying the surviving half's (live) label, and if that half later
    * MERGES elsewhere, a raw component semi-join would pull those nodes
    * in WITHOUT the rest of their current component — the recompute
    * would then relabel them on a truncated subgraph (the round-10
    * "over-approximation only enlarges the recompute" claim fails
    * exactly there). So: (1) CANDIDATES = nodes with ANY store row
    * carrying a touched label (component-restricted semi-join — a node's
    * freshest row is itself such a row, so candidates cover all true
    * members); (2) the node-restricted freshest-row window over the
    * candidates only ([[labelsOf]]); (3) keep nodes whose CURRENT label
    * is touched. Exact membership, still never store-sized. */
  private[graft] def membersOf(s: SparkSession, storeDir: String,
      touched: DataFrame): DataFrame = {
    import s.implicits._
    // both intermediates are re-referenced (the pruned reads' bucket-id
    // actions, the semi-joins, the final filter) — eager checkpoints keep
    // each store read evaluated ONCE per batch instead of once per
    // downstream action (the round-11 maintbench lesson: un-cut lineage
    // re-ran the whole membership subtree per driver action)
    val touchedComps = labelsOf(s, storeDir, touched)
      .select($"component").distinct().localCheckpoint()
    val candidates = candidateProbe(s, storeDir, touchedComps)
      .select($"node").distinct().localCheckpoint()
    labelsOf(s, storeDir, candidates)
      .join(touchedComps, Seq("component"), "left_semi")
      .select($"node")
  }

  /** The component-restricted candidate rows of [[membersOf]], read
    * from the component-keyed `labelsc` replica. Split out so the spec
    * can assert the pruning on THIS frame's executed plan — inside
    * [[membersOf]] it sits behind an eager localCheckpoint, which hides
    * its scans from the final plan. */
  private[graft] def candidateProbe(s: SparkSession, storeDir: String,
      touchedComps: DataFrame): DataFrame =
    Stores.readPruned(s, s"$storeDir/labelsc", CompBucket, touchedComps)
      .join(touchedComps, Seq("component"), "left_semi")

  /** LIVE symmetrized edges of the store prefix ≤ `batchId`, restricted
    * src-side to `nodes` (one column `node`) BEFORE the per-pair
    * liveness resolution — latest insert vs the pair's latest delete,
    * insert winning same-batch ties ([[Stores.liveAfterDeletes]]). Rows
    * are symmetrized, so src-restriction commutes with the per-(src,
    * dst) aggregate and also serves undirected membership; the per-pair
    * groupBy subsumes the duplicate-edge dedup a post-compaction
    * redelivery can require. Shared with [[KCoreStream]], whose induced
    * peel subgraph is exactly this relation. */
  private[graft] def liveEdgesRestricted(s: SparkSession, storeDir: String,
      batchId: Long, nodes: DataFrame): DataFrame = {
    import s.implicits._
    val restricted = Stores.readPruned(s, s"$storeDir/edges", EdgeBuckets.head, nodes)
      .filter($"batch" <= batchId)
      .join(nodes.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
    Stores.liveAfterDeletes(restricted, Seq("src", "dst"))
  }

  /** Ingest one micro-batch of UNDIRECTED edge rows (each row (a, b) is
    * one undirected edge; both directions are stored, so propagation is
    * undirected even when a pair's arrivals would otherwise split across
    * batches) and relabel every affected component. Rows may carry an
    * `op` column (+1 insert / −1 delete-all-between-endpoints); without
    * one the batch is all inserts. Convergent under redelivery of the
    * same `batchId` (recompute from full surviving history). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      rounds: Int = GraphQueries.ScaleCcRounds): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // an empty batch would dynamic-overwrite ZERO partitions into a fresh
    // store — an all-_SUCCESS root that wedges every later read; the guard
    // lives here, the one entry point start(), MaintBench and the specs
    // all share
    if (batch.isEmpty) return
    // ±op events (round 10): a batch column `op` (+1 insert / −1 delete
    // of EVERY edge between the endpoints — the reference's wormhole
    // expiry granularity) is honored when present; an op-less batch is
    // all inserts, keeping every existing caller byte-compatible
    val withOp = Stores.withOpDefault(batch).select($"src", $"dst", $"op")
    Stores.writeBatch(
      withOp.union(withOp.select($"dst".as("src"), $"src".as("dst"), $"op")),
      batchId, s"$storeDir/edges", EdgeBuckets)
    val touched = batch.select($"src".as("node"))
      .union(batch.select($"dst")).distinct().localCheckpoint()
    // restriction-first (round 10): the affected set is derived without
    // any store-sized window — touched endpoints' freshest labels from a
    // node-restricted window, members via membersOf's freshest-arbitrated
    // component restriction (endpoints with no label yet are new vertices
    // — they join via their own edges below). The arbitration makes the
    // set EXACT: stale rows of a split-off-then-merged half must not pull
    // nodes in without the rest of their current component (see
    // membersOf's scaladoc; CcDeltaSpec's split-then-merge case).
    // eager: affectedNodes feeds the edge read's bucket-id action, the
    // induced semi-join, AND the tombstone anti-join — without the cut
    // each action re-runs the full membership subtree
    val affectedNodes = (
      if (!Stores.exists(s, s"$storeDir/labels")) touched
      else membersOf(s, storeDir, touched).union(touched).distinct()
    ).localCheckpoint()
    // store edges join same-component vertices, and batch edges have both
    // endpoints in `touched` — src-side membership captures the full
    // induced subgraph of the affected components
    val induced = liveEdgesRestricted(s, storeDir, batchId, affectedNodes)
    val labels = GraphQueries.minLabelPropagation(induced, rounds)
      .localCheckpoint()
    // ISOLATION TOMBSTONES: an affected vertex with no surviving edge
    // drops out of the propagation's vertex set entirely — batch q80
    // excludes edge-less vertices, so serving must too; a null-component
    // row shadows its older labels (snapshot/labelsOf filter it out)
    val tombstones = affectedNodes.join(labels, Seq("node"), "left_anti")
      .select($"node", lit(null).cast("long").as("component"))
    // dual single-key replicas (see the layout note): the same rows land
    // in the node-keyed primary and the component-keyed replica —
    // checkpointed first so the tombstone anti-join runs once, not once
    // per replica write (a tombstone's null component hashes to a real
    // bucket and is only ever read back node-restricted)
    val labelRows = labels.union(tombstones).localCheckpoint()
    Stores.writeReplicaBatch(labelRows, batchId, storeDir, LabelReplicas)
  }

  /** File-source stream over an edges directory ([[Stores.fileStream]]:
    * file-sized micro-batches, durable checkpoint beside the store). A
    * fresh-checkpoint restart would re-deliver every file — convergent
    * (each recompute reads full history) but a full relabel of every
    * ever-touched component. */
  def start(s: SparkSession, edgesDir: String, storeDir: String,
      rounds: Int = GraphQueries.ScaleCcRounds,
      trigger: Trigger = Trigger.AvailableNow(),
      withOps: Boolean = false): StreamingQuery =
    Stores.fileStream(s, if (withOps) deltaSchema else edgeSchema,
      edgesDir, storeDir, trigger)(processBatch(_, _, storeDir, rounds))

  /** Fold batches ≤ `throughBatch` (plus prior generations) of BOTH
    * stores into one fresh negative generation — [[FunnelStream.compact]]
    * verbatim: edges dedup (re-delivered duplicates are min-label-
    * invariant but cost scan bytes), labels keep each vertex's freshest
    * row. One compactor at a time (the documented single-maintainer
    * contract). */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    // edges resolve to the prefix's LIVE set as +1 rows (delete history
    // collapses — a later live delete still outranks the folded insert's
    // negative generation in the liveness comparison); labels keep each
    // node's freshest row, with tombstone-fresh nodes dropped entirely
    // (everything a tombstone shadowed folds away with it)
    Stores.fold(s, s"$storeDir/edges", throughBatch, EdgeBuckets)(raw =>
      Stores.liveAfterDeletes(raw, Seq("src", "dst"))
        .withColumn("op", lit(1)))
    // each label replica folds under ITS key's layout
    Stores.compactReplicas(s, storeDir, LabelReplicas, throughBatch)(src =>
      Stores.freshestPerKey(src, "node").filter($"component".isNotNull)
        .select($"node", $"component"))
  }
}
