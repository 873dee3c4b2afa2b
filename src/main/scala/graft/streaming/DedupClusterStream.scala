package graft.streaming

import graft.functions.HashFamily
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming near-dup CLUSTERING — q63's cluster/canonical table
  * maintained online, and the capstone COMPOSITION of the maintained-
  * store family: three existing maintainers chained behind one ingest,
  * each contributing exactly the contract it already proves.
  *
  *   1. [[DedupStream]] maintains the LSH band index + shingle store and
  *      emits each batch's VERIFIED new pairs exactly once (its spec
  *      pins the accumulated pair set byte-identical to the batch
  *      pipeline under any split; the q57 recall argument makes that
  *      pair set the EXACT n-gram Jaccard pair set at the registered
  *      scales — so the streamed edges equal q63's batch input);
  *   2. the batch's new pairs feed [[CcStream]] over a nested `cc/`
  *      store — cluster labels are connected components of the verified
  *      pair graph, and CcStream's targeted recompute handles the
  *      cross-batch CLUSTER MERGE (two clusters built in earlier
  *      batches joined by one late pair) that makes labels non-foldable;
  *   3. serving derives q63's full output shape from the label store:
  *      cluster id = component min-id (the canonical-survivor rule),
  *      cluster sizes, and the keep flag.
  *
  * Per batch the work is new-docs × bands + matched buckets (DedupStream,
  * index probed never rescanned) plus the touched clusters' edges
  * (CcStream) — dup volume, not corpus volume: the working set any exact
  * online deduper must read. A 100 TB corpus streams through this path
  * with the band index bucketed on the probe key and the cluster store
  * bounded by dup volume. Replay-safe end to end: DedupStream rewrites
  * byte-identical partitions, CcStream's recompute is prefix-convergent.
  */
object DedupClusterStream {

  private def indexDir(root: String) = s"$root/index"
  private def pairsDir(root: String) = s"$root/pairs"
  private def ccDir(root: String) = s"$root/cc"
  private def removedDir(root: String) = s"$root/removed"

  private val pairsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("jaccard", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.LongType)))

  /** Fold one micro-batch of documents: dedup against the index, then
    * fold the new verified pairs into the cluster store.
    *
    * ±op batches (round 14 — the TAKEDOWN surface: a licensing claim or
    * decontamination finding removes documents a cluster consumer must
    * stop seeing): a batch may carry an `op` column; op = −1 rows retire
    * their doc_id. Retirement is TERMINAL (the [[DedupStream]] contract
    * — re-upload under a new id; a retired id re-insert is refused
    * loudly), and REMOVAL WINS inside one micro-batch (a doc added and
    * retired together never enters the index — the terminal-retirement
    * analogue of the family's liveness rule). Per retirement batch:
    *
    *   1. the retired ids land in a batch-partitioned `removed/` store —
    *      the probe mask [[DedupStream.processBatch]] applies, so later
    *      documents can never pair with a retired one;
    *   2. every VERIFIED pair touching a retired doc (from strictly
    *      earlier batches; this batch's own pairs cannot touch retired
    *      docs — the mask precedes them) is withdrawn from the nested
    *      [[CcStream]] as op = −1 edges IN THE SAME CC BATCH as the new
    *      pairs — cluster SPLITS, shrinks, canonical-survivor handoffs
    *      (min-id doc retired → next-smallest takes over) and isolation
    *      tombstones (a doc whose only near-dup was retired leaves the
    *      served table, matching batch q63 on survivors) all fall out of
    *      the q102 machinery;
    *   3. the retired docs' own label rows isolate to tombstones the
    *      same way.
    *
    * Scale: the dead-pair derivation is two broadcast semi-joins of the
    * pair store (dup volume) against the batch's retired set (deletion
    * volume — batch-sized, so those hints are unconditional; the
    * LIFETIME-sized prior-retirement anti-joins are size-gated via
    * [[Stores.broadcastIfUnder]]); everything else is the insert path's
    * working set. Replay-
    * safe: the removed store is a batch-keyed dynamic overwrite, the
    * dead-pair read is prefix-bounded (`batch < id`), and CcStream's
    * recompute converges under redelivery. Op-less callers are
    * byte-compatible (no `op` column → pure insert batch). */
  def processBatch(s: SparkSession, batch: DataFrame, batchId: Long,
      rootDir: String, family: HashFamily = HashFamily.Fast,
      threshold: Double = Dedup.JaccardThreshold): Unit = {
    import s.implicits._
    // ONE materialization + ONE aggregate action where the first cut ran
    // four separate driver probes (batch/dels/adds isEmpty + the cc-batch
    // probe below) — the AnnDeltaStream cached-op-split treatment; every
    // branch below re-reads the checkpointed rows instead of re-executing
    // the micro-batch plan
    val hasOps = batch.columns.contains("op")
    val b = batch.localCheckpoint()
    val opCol = if (hasOps) $"op" else lit(1)
    val split = b.agg(count(lit(1)).as("n"),
      coalesce(sum(when(opCol === -1, 1L).otherwise(0L)), lit(0L)).as("nd")).head()
    val (n, nDel) = (split.getLong(0), split.getLong(1))
    // empty-batch guard (the CcStream note, uniform across the family)
    if (n == 0L) return
    val anyDels = nDel > 0L
    val dels =
      if (anyDels) b.filter($"op" === -1).select($"doc_id")
      else s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
    // removal wins within a batch: terminal retirement admits no
    // same-batch resurrection ordering question
    val adds =
      (if (hasOps) b.filter($"op" =!= -1) else b)
        .select($"doc_id", $"text")
        .join(dels, Seq("doc_id"), "left_anti")
    if (anyDels)
      // recorded BEFORE the insert path runs, so this batch's own new
      // docs already see the mask
      Stores.writeBatch(dels.select($"doc_id", lit(batchId).as("rmb")),
        batchId, removedDir(rootDir))
    // gate on the POST-anti-join add count: op ≠ −1 rows may still
    // anti-join to nothing (every add retired in the same batch), and
    // while the insert path tolerates an empty frame it is not free — it
    // runs the revived probe, the candidate joins, and three dynamic
    // overwrites, and on a store's first such batch would create empty
    // pairs/shingles roots. The count is the op-split arithmetic when the
    // batch has no deletes (nothing can anti-join away); only takedown
    // batches — already the heavy path — pay one extra batch-sized action
    // on the checkpointed rows.
    val nAdds = if (!anyDels) n else adds.count()
    if (nAdds > 0L)
      DedupStream.processBatch(s, adds, batchId,
        indexDir(rootDir), pairsDir(rootDir), family, threshold,
        removedDir = Some(removedDir(rootDir)))
    // explicit schema (no inference): a run prefix that never verified a
    // pair leaves pairsDir missing or an all-_SUCCESS root with no data
    // files — both must read as empty, not throw
    val pairsSrc =
      if (Stores.exists(s, pairsDir(rootDir)))
        s.read.schema(pairsSchema).parquet(pairsDir(rootDir))
      else s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], pairsSchema)
    val newPairs = pairsSrc
      .filter($"batch" === batchId)
      .select($"doc_a".as("src"), $"doc_b".as("dst"), lit(1).as("op"))
    // withdrawals: verified pairs from EARLIER batches touching a doc
    // retired in THIS batch (disjoint semi-join branches — a pair with
    // both endpoints retired must be withdrawn once, not twice). Pairs
    // with an endpoint retired in a PREVIOUS batch were withdrawn back
    // then — the pair store is append-only, so without the anti-join
    // below a later retirement of the other endpoint would re-withdraw
    // the same pair, re-marking its dead component as touched and
    // re-running that component's label recompute on every takedown
    // that grazes it.
    val deadPairs =
      if (!anyDels) newPairs.limit(0)
      else {
        // prior retirements span the store's whole lifetime (terminal,
        // never expired) — broadcast only while the on-disk bytes fit
        // the session threshold; the planner decides past it
        val prevRm = Stores.broadcastIfUnder(
          Stores.read(s, removedDir(rootDir))
            .filter($"batch" < batchId).select($"doc_id".as("__prm")),
          removedDir(rootDir))
        val prior = pairsSrc.filter($"batch" < batchId)
          .select($"doc_a", $"doc_b")
          .join(prevRm, $"doc_a" === $"__prm", "left_anti")
          .join(prevRm, $"doc_b" === $"__prm", "left_anti")
        val rmA = prior.join(broadcast(dels.select($"doc_id".as("__rm"))),
          $"doc_a" === $"__rm", "left_semi")
        val rmBOnly = prior
          .join(broadcast(dels.select($"doc_id".as("__rm"))),
            $"doc_b" === $"__rm", "left_semi")
          .join(broadcast(dels.select($"doc_id".as("__rm"))),
            $"doc_a" === $"__rm", "left_anti")
        rmA.union(rmBOnly)
          .select($"doc_a".as("src"), $"doc_b".as("dst"), lit(-1).as("op"))
      }
    // materialized so the emptiness probe and CcStream's recompute share
    // one execution of the dead-pair derivation instead of paying it twice
    val ccBatch = deadPairs.union(newPairs).localCheckpoint()
    // a batch may move no edge at all — nothing for the cluster store
    // (CcStream's label read path requires at least one prior write)
    if (!ccBatch.isEmpty) CcStream.processBatch(ccBatch, batchId, ccDir(rootDir))
  }

  /** Served cluster table — q63's output shape verbatim: one row per
    * document with at least one near-dup, cluster id = component min-id,
    * keep ⇔ the document IS its cluster's canonical survivor. */
  def snapshot(s: SparkSession, rootDir: String): DataFrame = {
    import s.implicits._
    if (!Stores.exists(s, s"${ccDir(rootDir)}/labels"))
      return s.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0L).as("cluster_id"),
        lit(0L).as("cluster_size"), lit(false).as("keep")).limit(0)
    val lab = CcStream.snapshot(s, ccDir(rootDir))
      .select($"node".as("doc_id"), $"component".as("cluster_id"))
    val sizes = lab.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "cluster_id")
      .select($"doc_id", $"cluster_id", $"cluster_size".cast("long").as("cluster_size"),
        ($"doc_id" === $"cluster_id").as("keep"))
  }

  /** (doc_id, text, op) schema for takedown-carrying streams — op = −1
    * retires the doc_id (text unread on those rows). */
  val opDocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.IntegerType, nullable = false)))

  /** File-source wiring over a documents directory (doc_id, text) —
    * [[Stores.fileStream]]. `withOps = true` reads (doc_id, text, op)
    * event files instead (the takedown surface). */
  def start(s: SparkSession, docsDir: String, rootDir: String,
      family: HashFamily = HashFamily.Fast,
      trigger: Trigger = Trigger.AvailableNow(),
      withOps: Boolean = false): StreamingQuery =
    Stores.fileStream(s, if (withOps) opDocSchema else DedupStream.docSchema,
      docsDir, rootDir, trigger)(processBatch(s, _, _, rootDir, family))

  /** Compact the nested cluster store (the band index and pairs store
    * stay batch-partitioned — they are append-layout by design). */
  def compact(s: SparkSession, rootDir: String, throughBatch: Long): Unit =
    CcStream.compact(s, ccDir(rootDir), throughBatch)

  /** PHYSICALLY purge retired documents' bands/shingles from the index
    * (see [[DedupStream.purgeRetired]] — single-owner maintenance, stream
    * stopped, `throughBatch` at most the last committed batch). No-op on
    * a store that never saw a takedown. */
  def purgeRetired(s: SparkSession, rootDir: String, throughBatch: Long): Unit =
    DedupStream.purgeRetired(s, indexDir(rootDir), removedDir(rootDir), throughBatch)
}
