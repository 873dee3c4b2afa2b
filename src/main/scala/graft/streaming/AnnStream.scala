package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * Layout: parquet partitioned by (batch, cell). Probes prune on `cell`
  * exactly as the batch index does (Spark prunes any partition column,
  * whatever its depth); `batch` being a partition column is what makes
  * redelivery exactly-once — each micro-batch DYNAMICALLY OVERWRITES only
  * its own `batch=<id>` partitions with deterministic bytes, so a replay
  * (full or after a partial crash) converges instead of double-appending
  * (the [[DedupStream]] recovery design, applied to the index).
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
    Similarity.assignToCentroids(batch, cents)
      .withColumn("batch", lit(batchId))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "cell").parquet(indexDir)
  }

  /** File-source stream over a vectors directory: every arriving parquet
    * file of (vec_id, vec) rows is assigned and indexed
    * ([[Stores.fileStream]]).
    *
    * The checkpoint lives beside the index (`<indexDir>.ckpt`) and is as
    * durable as the index — load-bearing once [[compact]] has run: a
    * fresh (temp) checkpoint restarts ids at 0 and re-lists EVERY source
    * file, re-creating the already-folded batch partitions beside the
    * consolidated negative generation, so every compacted vector is
    * present twice and probes return duplicate candidates until the next
    * compaction dedups them. A durable checkpoint resumes after the last
    * delivered id, so only genuinely new files index. (Pre-compaction a
    * full re-delivery is merely wasteful — same ids, same bytes,
    * idempotent overwrites.) */
  def start(s: SparkSession, vecsDir: String, indexDir: String,
      cents: Seq[(Long, Seq[Double])],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, vecSchema,
      vecsDir, indexDir, trigger)(processBatch(_, _, indexDir, cents))

  /** Probe the streamed index: identical plan to the batch-index query
    * ([[Similarity.queryIvfIndex]] — cell-pruned scan, exact re-rank);
    * the extra `batch` partition column rides along unreferenced. */
  def query(s: SparkSession, indexDir: String, qvec: Seq[Double],
      cells: Seq[Long], k: Int = Similarity.K): DataFrame =
    Similarity.queryIvfIndex(s, indexDir, qvec, cells, k)

  /** Fold every ingested batch at or below `throughBatch` — plus any
    * previous compaction generation — into one consolidated partition:
    * the periodic maintenance job the ingest layout assumes. Probe cost
    * scales with nprobe × BATCH COUNT (one pruned directory per batch per
    * probed cell), so an always-on stream needs old micro-batches
    * squashed to keep file counts governed by corpus size, not ingest
    * granularity.
    *
    * Consolidated generations live at strictly NEGATIVE batch ids (−1,
    * −2, …, each compaction one lower): the streaming engine's live ids
    * are non-negative and monotonically increasing, so a staged
    * generation can never collide with a batch the stream has written or
    * will write — ingest proceeds concurrently, and a checkpoint-resumed
    * stream re-delivering old ids overwrites only its own non-negative
    * partitions. (The first cut of this staged at `throughBatch + 1`,
    * which is exactly the resumed stream's next id — a replay would have
    * overwritten the consolidated corpus.)
    *
    * Content-neutral: rows carry no batch provenance, and probes never
    * reference the column. Crash-safe without a transaction log: rows
    * are staged first (deduplicated on vec_id, so the union of sources
    * and a half-finished previous generation stages the same set), and
    * the source directories are dropped only after; a crash between the
    * two leaves duplicate rows visible to probes until the re-run —
    * which, folding the leftover generation back in, converges.
    *
    * CONTRACT — one compactor at a time (the [[graft.store.Materialized]]
    * concurrent-build note, applied to maintenance): the staging id is
    * derived from a directory listing with no mutual exclusion, so two
    * compactions racing (two JVMs, or a re-run racing a crashed run's
    * leftover delete) can pick the SAME generation id and dynamically
    * overwrite each other's partitions. Compaction is a periodic
    * single-owner maintenance job here and in any real deployment — a
    * multi-maintainer deployment must serialize it externally (a lease
    * on the index root). Ingest needs no such care: live batches touch
    * only their own non-negative ids. */
  def compact(s: SparkSession, indexDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), s.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val batchIds = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
    val sources = batchIds.filter(b => b < 0 || b <= throughBatch)
    if (sources.nonEmpty) {
      val stagingId = batchIds.filter(_ < 0).minOption.getOrElse(0L) - 1L
      // localCheckpoint materializes the slice BEFORE the write: Spark
      // (rightly) refuses a plan that overwrites a path it still reads,
      // and compaction inherently pays one read of the old rows
      val staged = s.read.parquet(indexDir)
        .filter($"batch".isInCollection(sources))
        .select($"vec_id", $"vec", $"cell")
        .dropDuplicates("vec_id").localCheckpoint()
      staged.select($"vec_id", $"vec", lit(stagingId).as("batch"), $"cell")
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "cell").parquet(indexDir)
      sources.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"batch=$b"), true)
      }
    }
  }
}
