package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental maintenance of the persisted IVF index for an embedding
  * corpus that grows through the streaming path — the ANN companion of
  * [[DedupStream]]: the batch pipeline builds the partition-pruned index
  * once per snapshot ([[Similarity.buildTrainedIvfIndex]]), but a corpus
  * ingested continuously had no way to admit new vectors short of a full
  * rebuild.
  *
  * Contract — FROZEN centroids: the caller trains centroids offline on a
  * corpus snapshot ([[Similarity.trainCentroids]]) and hands them to the
  * stream; every arriving vector is argmax-cosine-assigned to that fixed
  * codebook and appended under its cell. This is the production split of
  * a real ANN service: retraining is a periodic offline job (it moves
  * every assignment, so it rebuilds the index anyway); ingestion must not
  * wait for it. Because the codebook is frozen, the streamed index is
  * BY CONSTRUCTION the batch index of the union corpus — AnnStreamSpec
  * pins content equality under different batch splits, and probe-query
  * equality against the batch-built index.
  *
  * Layout: parquet partitioned by (batch, cell) — `cell` is the
  * [[Stores.Carried]] layout column, written by [[Stores.writeBatch]]
  * and folded by [[Stores.fold]]. Probes prune on `cell` exactly as the
  * batch index does (Spark prunes any partition column, whatever its
  * depth); `batch` being a partition column is what makes redelivery
  * exactly-once — each micro-batch DYNAMICALLY OVERWRITES only its own
  * `batch=<id>` partitions with deterministic bytes, so a replay (full or
  * after a partial crash) converges instead of double-appending (the
  * [[DedupStream]] recovery design, applied to the index). Every probe
  * reads through [[Stores.read]].
  *
  * Scale shape: per batch the work is O(new vectors × k) comparisons in
  * one zero-shuffle projection ([[Similarity.assignToCentroids]] embeds
  * the k·dim codebook as literals) plus a partitioned write of the new
  * rows only. The existing index is never read, rewritten, or shuffled on
  * ingest — at 10¹⁰ indexed vectors a batch still costs only its own
  * size. Queries scan probed cells across all batches: nprobe pruned
  * directories per batch rather than per corpus, the same I/O bound as
  * the batch layout with file counts governed by ingest granularity (a
  * real deployment compacts old batches periodically; compaction is
  * content-neutral here because the rows carry no batch provenance).
  */
object AnnStream {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Assign one micro-batch to the frozen codebook and overwrite its own
    * index partitions — also the unit the spec drives directly.
    * Idempotent under redelivery of the same `batchId`. */
  def processBatch(batch: DataFrame, batchId: Long, indexDir: String,
      cents: Seq[(Long, Seq[Double])]): Unit = {
    // an empty batch would leave a zero-partition all-_SUCCESS index root
    if (batch.isEmpty) return
    Stores.writeBatch(Similarity.assignToCentroids(batch, cents), batchId, indexDir, Layout)
  }

  /** The index's layout below `batch=<id>`: the assigned cell. */
  private[graft] val Layout = Seq(Stores.Carried("cell"))

  /** File-source stream over a vectors directory: every arriving parquet
    * file of (vec_id, vec) rows is assigned and indexed
    * ([[Stores.fileStream]]).
    *
    * The checkpoint lives beside the index (`<indexDir>.ckpt`) and is as
    * durable as the index — load-bearing once [[compact]] has run: a
    * fresh (temp) checkpoint restarts ids at 0 and re-lists EVERY source
    * file, re-indexing already-folded vectors under ids that need not
    * match the ones the generation's manifest covers, so compacted
    * vectors can appear twice (or new ones hide under covered ids) until
    * the next compaction. A durable checkpoint resumes after the last
    * delivered id, so only genuinely new files index. (Pre-compaction a
    * full re-delivery is merely wasteful — same ids, same bytes,
    * idempotent overwrites.) */
  def start(s: SparkSession, vecsDir: String, indexDir: String,
      cents: Seq[(Long, Seq[Double])],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, vecSchema,
      vecsDir, indexDir, trigger)(processBatch(_, _, indexDir, cents))

  /** Probe the streamed index: identical plan to the batch-index query
    * ([[Similarity.queryIvfIndex]] — cell-pruned scan, exact re-rank)
    * over the store's live batches; the extra `batch` partition column
    * rides along unreferenced. */
  def query(s: SparkSession, indexDir: String, qvec: Seq[Double],
      cells: Seq[Long], k: Int = Similarity.K): DataFrame =
    Similarity.queryIvfIndex(Stores.read(s, indexDir), qvec, cells, k)

  /** q28's serving path over the streamed index (q89): the same
    * [[Similarity.ivfServeTopK]] ranking, handed the live batches. */
  def serveTopK(s: SparkSession, dir: String, indexDir: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    Similarity.ivfServeTopK(s, dir, Stores.read(s, indexDir), cents)

  /** Fold every ingested batch at or below `throughBatch` — plus any
    * previous compaction generation — into one consolidated partition:
    * the periodic maintenance job the ingest layout assumes. Probe cost
    * scales with nprobe × BATCH COUNT (one pruned directory per batch per
    * probed cell), so an always-on stream needs old micro-batches
    * squashed to keep file counts governed by corpus size, not ingest
    * granularity.
    *
    * Content-neutral: rows carry no batch provenance, and probes never
    * reference the column; the stage keeps one row per vec_id (a
    * redelivered batch beside an older generation holds the same rows).
    * Staging ids, crash safety and the one-compactor contract are
    * [[Stores.fold]]'s cover-manifest rules: a fold that dies before its
    * manifest lands is invisible to [[Stores.read]], and the next fold
    * repairs it. */
  def compact(s: SparkSession, indexDir: String, throughBatch: Long): Unit =
    Stores.fold(s, indexDir, throughBatch, Layout)(
      _.select("vec_id", "vec", "cell").dropDuplicates("vec_id"))
}
