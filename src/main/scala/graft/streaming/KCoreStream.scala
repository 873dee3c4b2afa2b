package graft.streaming

import graft.operators.GraphQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming maintenance of q84's bounded k-core under edge arrivals
  * AND DELETIONS (round 11 — ±op rows forwarded to the nested CcStream;
  * a deleted edge re-peels its component, since a survivor's degree can
  * fall below k and collapse a cascade, and an isolated endpoint's row
  * must flip to a tombstone) —
  * the seventh maintained-store member and the COMPOSED one: the peel
  * result (survivors of `KCoreRounds` synchronous peels, with induced
  * degrees) is neither foldable (degrees change non-locally as cascades
  * re-run) nor monotone per row (a survivor's degree moves), so the
  * exact maintenance strategy is [[CcStream]]'s delta-driven TARGETED
  * RECOMPUTE — and the component labels that bound the blast radius are
  * maintained by DELEGATING to [[CcStream]] itself over a nested store:
  * one ingest feeds both maintainers, and the CC labels double as the
  * k-core's affected-set index. A batch of edges can only change the
  * peel outcome inside the components it touches (peeling never crosses
  * a component boundary); every other component's rows are untouched.
  *
  * Per micro-batch:
  *   1. [[CcStream.processBatch]] on the nested `cc/` store — appends
  *      symmetrized edges and relabels the touched components;
  *   2. affected members = every vertex of the touched components (from
  *      the refreshed labels);
  *   3. re-run [[GraphQueries.kCorePeel]] (the q84 engine, round budget
  *      and all) on the affected components' induced edge set only;
  *   4. write one row PER AFFECTED MEMBER under `results/batch=<id>`:
  *      survivors carry their induced degree with `alive = true`,
  *      peeled members an explicit `alive = false` TOMBSTONE — the
  *      serving view takes each node's freshest row and keeps the alive
  *      ones. Tombstones make the store faithful to the bounded-peel
  *      semantics unconditionally, not just on the shapes where
  *      insertion-monotonicity happens to hold.
  *
  * Exactness under any arrival order/split: a touched component's rows
  * are always re-derived from its COMPLETE edge prefix (the CcStream
  * argument, verbatim); KCoreStreamSpec pins equality with batch q84
  * under splits that force cross-batch cascade changes (and, round 11,
  * deletions that collapse a cascade), the q98 CORRECTNESS row serves
  * ingest → compact → snapshot against q84's SQL verbatim, and q104
  * serves a delete → compact → re-insert schedule against q84's SQL on
  * the surviving pair set. Per-batch cost is the affected components' edges — the
  * working set any exact maintainer of a non-local graph property must
  * read.
  *
  * DEGENERATE CASE — one giant component: on a graph where a single
  * connected component holds most of the edges (most real graphs), the
  * blast radius of nearly every batch IS that component, so each batch
  * re-peels ~the whole graph — per-batch cost degrades to the full batch
  * q84 and NOTHING is saved by maintenance. That is inherent to exact
  * maintenance of a non-local property under component-granular targeted
  * recompute (a peel cascade can genuinely traverse the component);
  * MaintBench's `kcore_skew` probe measures the cliff on a fixture whose
  * giant holds ~99% of the EDGES (~90% of the nodes — edge share is
  * what governs re-peel cost) rather than implying it away. Deployments facing a
  * giant component should batch coarsely (amortize the re-peel) or accept
  * approximate maintenance — this maintainer intentionally stays exact.
  */
object KCoreStream {

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  private def ccDir(storeDir: String) = s"$storeDir/cc"

  /** Served k-core: freshest row per node (live > newest negative
    * generation), alive rows only — q84's (node, deg) output shape.
    * A store no batch ever created serves the typed empty frame. */
  def snapshot(s: SparkSession, storeDir: String): DataFrame = {
    import s.implicits._
    if (!Stores.exists(s, s"$storeDir/results"))
      return s.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("deg")).limit(0)
    Stores.freshestPerKey(Stores.read(s, s"$storeDir/results"), "node")
      .filter($"alive")
      .select($"node", $"deg")
  }

  /** Fold one micro-batch of UNDIRECTED edge rows; idempotent under
    * redelivery (the nested CcStream recompute is prefix-convergent and
    * the peel rows re-derive from the same store state). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      k: Int = GraphQueries.KCoreK,
      rounds: Int = GraphQueries.KCoreRounds): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // empty-batch guard (ADVICE r9): an empty batch on a fresh store
    // would write a zero-partition results root — only _SUCCESS — that
    // snapshot()'s exists() check passes but the parquet read throws on
    if (batch.isEmpty) return
    // ±op pass-through (round 11): the nested CcStream already maintains
    // labels under deletions; forwarding the op column makes a deleted
    // edge re-peel its component (a survivor's degree can fall below k,
    // collapsing a cascade) via the same targeted recompute
    CcStream.processBatch(batch, batchId, ccDir(storeDir))
    val touched = batch.select($"src".as("node"))
      .union(batch.select($"dst")).distinct().localCheckpoint()
    // restriction-first affected members (round 10): derived through
    // CcStream's node-restricted window + freshest-arbitrated
    // component-restricted semi-join — no store-sized window runs here
    // either. Under deletions membersOf covers every split fragment
    // (each fragment's boundary is a removed edge, so each contains a
    // touched endpoint) but NOT a vertex the batch ISOLATED — its CC row
    // is a tombstone — so the touched endpoints are unioned back in:
    // their k-core rows must flip to alive = false, not linger.
    val members = CcStream.membersOf(s, ccDir(storeDir), touched)
      .union(touched).distinct()
      .localCheckpoint()
    // the nested store's edges are already symmetrized — exactly the
    // bidirected list kCorePeel expects; src-side membership captures
    // the affected components' full induced subgraph. Per-pair liveness
    // resolution (shared with CcStream) both drops deleted edges and
    // subsumes the duplicate-edge dedup a post-compaction redelivery
    // requires (degree COUNTING doubles on duplicates; the per-pair
    // groupBy yields each live pair once).
    val induced = CcStream.liveEdgesRestricted(s, ccDir(storeDir), batchId, members)
    val core = GraphQueries.kCorePeel(induced, k, rounds)
    Stores.writeBatch(
      members.join(core, Seq("node"), "left")
        .select($"node", coalesce($"deg", lit(0L)).as("deg"),
          $"deg".isNotNull.as("alive")),
      batchId, s"$storeDir/results")
  }

  /** File-source wiring ([[Stores.fileStream]]). */
  def start(s: SparkSession, edgesDir: String, storeDir: String,
      k: Int = GraphQueries.KCoreK,
      rounds: Int = GraphQueries.KCoreRounds,
      trigger: Trigger = Trigger.AvailableNow(),
      withOps: Boolean = false): StreamingQuery =
    Stores.fileStream(s, if (withOps) CcStream.deltaSchema else edgeSchema,
      edgesDir, storeDir, trigger)(processBatch(_, _, storeDir, k, rounds))

  /** Fold batches ≤ `throughBatch` of the nested CC store AND the
    * results store into fresh negative generations — results keep each
    * node's freshest row (tombstones included: a folded tombstone must
    * keep shadowing older alive rows). One compactor at a time. */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    CcStream.compact(s, ccDir(storeDir), throughBatch)
    Stores.fold(s, s"$storeDir/results", throughBatch)(src =>
      Stores.freshestPerKey(src, "node").select($"node", $"deg", $"alive"))
  }
}
