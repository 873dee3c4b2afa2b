package graft.streaming

import graft.operators.GraphQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming maintenance of q105's bounded k-truss under projected-edge
  * arrivals AND DELETIONS — the tenth maintained-store member, and the
  * second COMPOSED one: like [[KCoreStream]], the peel result (edges
  * surviving [[GraphQueries.TrussRounds]] synchronous support-peels,
  * with their supports) is neither foldable nor monotone per row —
  * dropping one edge destroys triangles through it and cascades — so
  * the exact strategy is the delta-driven TARGETED RECOMPUTE, with the
  * affected-set index DELEGATED to a nested [[CcStream]] over the same
  * edge feed. A batch can only change the truss inside the components
  * it touches: every triangle lies within one component, so a support
  * cascade never crosses a component boundary.
  *
  * The ingest surface is PROJECTED edges (a, b[, op]) — q83/q105's
  * part–part graph, or any undirected simple graph. Deletions are
  * edge-granular here (op = −1 withdraws the pair), the natural
  * granularity of a graph whose edges are first-class; the
  * witness-granular deletion class (a (p, su) row expiring, the
  * reference's `database.rs:458-466` expiry shape) lives one layer
  * down in [[TriangleStream]], which maintains the projection itself.
  *
  * Per micro-batch:
  *   1. [[CcStream.processBatch]] on the nested `cc/` store (orientation
  *      normalized so (b, a) arrivals address the same edge);
  *   2. affected members = every vertex of the touched components ∪ the
  *      batch's endpoints (an isolated endpoint's component row is a
  *      tombstone, so it must be unioned back — the KCoreStream rule);
  *   3. re-run [[GraphQueries.kTrussPeel]] (the q105 engine, round
  *      budget and all) on the affected components' live induced edges
  *      ([[CcStream.liveEdgesRestricted]] — bucket-pruned,
  *      restriction-first, per-pair liveness resolved);
  *   4. write one row PER AFFECTED EDGE under `results/batch=<id>`:
  *      the affected universe is the induced live edges ∪ the batch's
  *      own edges (a just-deleted edge is no longer live, but its old
  *      row must flip) — survivors carry their support with
  *      `alive = true`, peeled or deleted edges an explicit
  *      `alive = false` tombstone. Serving takes each edge's freshest
  *      row ([[Stores.freshestPerKey]] over the composite (a, b) key)
  *      and keeps the alive ones.
  *
  * Exactness under any arrival order/split: a touched component's rows
  * re-derive from its COMPLETE surviving edge prefix (the CcStream
  * argument, verbatim); TrussStreamSpec pins equality with batch
  * [[GraphQueries.kTrussPeel]] under splits that force cross-batch
  * support cascades and deletions that collapse them, and the q106
  * CORRECTNESS row serves an insert/insert/delete/compact/re-insert
  * schedule against q105's SQL on the surviving projected-edge set.
  * Per-batch cost is the affected components' edges — the working set
  * any exact maintainer of a non-local property must read. The
  * KCoreStream giant-component caveat applies verbatim: one giant
  * component means near-whole-graph re-peels by design (see
  * [[KCoreStream]]'s scaladoc for the measured cliff and mitigations).
  */
object TrussStream {

  val edgeSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))

  /** File-source schema for ±edge event feeds (op = +1 insert, −1
    * delete of the pair). */
  val deltaSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("op", IntegerType, nullable = false)))

  private def ccDir(storeDir: String) = s"$storeDir/cc"

  /** Served k-truss: freshest row per EDGE (live > newest negative
    * generation), alive rows only — q105's (a, b, sup) output shape.
    * A store no batch ever created serves the typed empty frame. */
  def snapshot(s: SparkSession, storeDir: String): DataFrame = {
    import s.implicits._
    if (!Stores.exists(s, s"$storeDir/results"))
      return s.emptyDataFrame
        .select(lit(0L).as("a"), lit(0L).as("b"), lit(0L).as("sup")).limit(0)
    Stores.freshestPerKey(Stores.read(s, s"$storeDir/results"), Seq("a", "b"))
      .filter($"alive")
      .select($"a", $"b", $"sup")
  }

  /** Fold one micro-batch of undirected projected-edge rows (a, b[, op]);
    * idempotent under redelivery (the nested CcStream recompute is
    * prefix-convergent and the peel rows re-derive from the same store
    * state). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      k: Int = GraphQueries.TrussK,
      rounds: Int = GraphQueries.TrussRounds): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // empty-batch guard (the KCoreStream rule): a zero-partition results
    // root under a fresh store wedges every later read
    if (batch.isEmpty) return
    // orientation-normalize BEFORE anything keyed sees the pair: (b, a)
    // arrivals must address the same edge row and the same liveness
    // history as (a, b)
    val normalized = Stores.withOpDefault(batch)
      .select(least($"a", $"b").as("src"), greatest($"a", $"b").as("dst"), $"op")
      .localCheckpoint()
    CcStream.processBatch(normalized, batchId, ccDir(storeDir))
    val touched = normalized.select($"src".as("node"))
      .union(normalized.select($"dst")).distinct().localCheckpoint()
    // affected members through the nested index (restriction-first,
    // freshest-arbitrated); touched endpoints unioned back in — an
    // isolated endpoint's CC row is a tombstone membersOf cannot return
    val members = CcStream.membersOf(s, ccDir(storeDir), touched)
      .union(touched).distinct()
      .localCheckpoint()
    // live induced edges of the affected components, each pair once in
    // its a < b orientation (the nested store is symmetrized; both
    // orientations of an intra-component edge survive the src-side
    // membership restriction, so the a < b filter keeps exactly one)
    val induced = CcStream.liveEdgesRestricted(s, ccDir(storeDir), batchId, members)
      .filter($"src" < $"dst")
      .select($"src".as("a"), $"dst".as("b"))
      .localCheckpoint()
    val truss = GraphQueries.kTrussPeel(induced, k, rounds)
    // affected universe: live induced edges ∪ the batch's own pairs —
    // the second leg flips just-deleted edges' rows to tombstones
    val universe = induced
      .union(normalized.select($"src".as("a"), $"dst".as("b"))).distinct()
    Stores.writeBatch(
      universe.join(truss, Seq("a", "b"), "left")
        .select($"a", $"b", coalesce($"sup", lit(0L)).as("sup"),
          $"sup".isNotNull.as("alive")),
      batchId, s"$storeDir/results")
  }

  /** File-source wiring ([[Stores.fileStream]]). */
  def start(s: SparkSession, edgesDir: String, storeDir: String,
      k: Int = GraphQueries.TrussK,
      rounds: Int = GraphQueries.TrussRounds,
      trigger: Trigger = Trigger.AvailableNow(),
      withOps: Boolean = false): StreamingQuery =
    Stores.fileStream(s, if (withOps) deltaSchema else edgeSchema,
      edgesDir, storeDir, trigger)(processBatch(_, _, storeDir, k, rounds))

  /** Fold batches ≤ `throughBatch` of the nested CC store AND the
    * results store into fresh negative generations — results keep each
    * EDGE's freshest row (tombstones included: a folded tombstone must
    * keep shadowing older alive rows). One compactor at a time. */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    CcStream.compact(s, ccDir(storeDir), throughBatch)
    Stores.fold(s, s"$storeDir/results", throughBatch)(src =>
      Stores.freshestPerKey(src, Seq("a", "b"))
        .select($"a", $"b", $"sup", $"alive"))
  }
}
