package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** DECREMENTAL maintenance of the streamed IVF index — the deletion
  * member of the ANN family, closing the gap the round-13 verdict named:
  * [[AnnStream]] admits vectors but a takedown / decontamination removal
  * (a first-class LLM-pipeline event: a licensing claim against indexed
  * documents, a contaminated shard discovered after ingest) had no path
  * short of a full index rebuild. Accepts ±op batches: op = +1 rows are
  * assigned to the frozen codebook exactly as [[AnnStream]] does; op = −1
  * rows are TOMBSTONES that hide every earlier insert of that vec_id from
  * probes. A vec_id may be deleted and later re-inserted (resurrection);
  * within one micro-batch INSERT WINS (the [[SsspDeltaStream]] liveness
  * convention).
  *
  * Layout: `<dir>/live/batch=<b>/cell=<c>` holds assigned rows
  * (vec_id, vec, srcb); `<dir>/dead/batch=<b>` holds tombstones
  * (vec_id, deadb). Both sides dynamically overwrite only their own
  * batch partitions with deterministic bytes, so redelivery (full or
  * after a partial crash) converges — the [[DedupStream]] recovery
  * design on both stores.
  *
  * EVERY EVENT TOMBSTONES STRICTLY-OLDER COPIES of its vec_id (round
  * 15): a delete hides them; an insert SUPERSEDES them — upsert
  * semantics. Superseding at ingest is what makes the cell-pruned serve
  * exact under CELL DRIFT: a re-insert whose vector assigns to a
  * different cell leaves its stale copy behind in the old cell, where a
  * probe scanning only that cell would otherwise resolve it as the
  * freshest row and serve a vector the caller replaced. The re-insert's
  * own tombstone (`deadb` = its batch) kills the stale copy wherever it
  * sits — no probe ever has to look outside its candidate cells to
  * learn a row is stale — while the fresh copy survives it (`srcb` =
  * `deadb` resolves live; only STRICTLY older copies die). Writing the
  * tombstone costs the batch its own distinct ids — it never reads the
  * index to ask whether a row IS a re-insert, which would defeat the
  * read-free ingest.
  *
  * PER-ROW PROVENANCE (`srcb` = the batch id that inserted the row,
  * carried as a DATA column beside the `batch` layout column) is what
  * makes liveness exact across compaction: a row is dead iff some
  * tombstone's `deadb` is STRICTLY greater than its `srcb`. Compaction
  * folds rows into a negative generation but PRESERVES `srcb`, so a
  * tombstone left behind by a crashed compaction (its target rows
  * already folded) still resolves against the generation's rows exactly
  * as it did against the original batches — it can never kill a
  * re-insert that post-dates it. (Resolving on the layout `batch`
  * column instead would make generation rows look infinitely old and a
  * leftover tombstone would silently kill resurrected vectors.)
  *
  * Scale shape: ingest is O(batch × k) zero-shuffle assignment plus a
  * partitioned write of the batch's own rows — the existing index is
  * never read or rewritten. A probe scans the probed cells across
  * batches (the [[AnnStream]] I/O bound), resolves freshest-insert-per-
  * vec_id over just those CANDIDATE rows (one probe-sized hash
  * exchange), and anti-resolves against the tombstone set — tombstones
  * are EVENTS-SINCE-LAST-SWEEP-sized (upsert semantics write one per
  * event, insert or delete; compaction deletes every tombstone it folds
  * through), so their volume is a compaction-cadence choice: orders
  * below the corpus under any sane cadence, but NOT bounded by deletion
  * volume alone — which is why the serve's tombstone join broadcast is
  * SIZE-GATED on the store's actual bytes rather than hinted
  * unconditionally ([[liveRows]]). They join only the candidates.
  * Compaction pays one read of the folded slice, as all the family's
  * compactors do.
  */
object AnnDeltaStream {

  val evSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    // vec is NULL on tombstone rows (and its element nullability must
    // admit whatever the writer's cast produced)
    StructField("vec", ArrayType(DoubleType, containsNull = true), nullable = true),
    StructField("op", IntegerType, nullable = false)))

  private def livePath(dir: String) = s"$dir/live"
  private def deadPath(dir: String) = s"$dir/dead"

  /** Fold one ±op micro-batch: inserts assigned + appended under their
    * cells with `srcb` provenance; EVERY event id (insert or delete)
    * appended to the tombstone store, superseding strictly-older copies
    * — a same-batch insert survives its own tombstone (`srcb` = `deadb`),
    * so insert wins inside a batch and a bare re-insert retires its
    * stale copy even when cell drift moved it (see class doc).
    * Idempotent under redelivery of the same `batchId`. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      cents: Seq[(Long, Seq[Double])]): Unit = {
    import batch.sparkSession.implicits._
    if (batch.isEmpty) return
    val ins = batch.filter($"op" === 1).select($"vec_id", $"vec")
    // an all-delete batch must not leave a schema-less all-_SUCCESS live
    // root; the tombstone side needs no probe — a non-empty batch always
    // has ids
    if (!ins.isEmpty)
      Similarity.assignToCentroids(ins, cents)
        .withColumn("srcb", lit(batchId))
        .withColumn("batch", lit(batchId))
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "cell").parquet(livePath(storeDir))
    batch.select($"vec_id").distinct()
      .select($"vec_id", lit(batchId).as("deadb"), lit(batchId).as("batch"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(deadPath(storeDir))
  }

  /** File-source stream over an events directory of (vec_id, vec, op)
    * parquet files ([[Stores.fileStream]]; [[AnnStream.start]]'s
    * post-compaction checkpoint contract applies unchanged). */
  def start(s: SparkSession, evDir: String, storeDir: String,
      cents: Seq[(Long, Seq[Double])],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, evSchema,
      evDir, storeDir, trigger)(processBatch(_, _, storeDir, cents))

  /** Liveness-resolved rows of the store, optionally restricted to probed
    * cells (partition-pruned): freshest copy per vec_id within the
    * scanned cells (max `srcb`; duplicate copies a crashed compaction
    * leaves behind are content-identical and collapse here), then
    * tombstone resolution — dead iff some tombstone STRICTLY post-dates
    * the copy's `srcb`. Because every event tombstones older copies (see
    * class doc), the tombstone join — not the window — is what retires a
    * stale copy whose fresher re-insert drifted to an unscanned cell, so
    * the pruned path never serves a replaced vector. */
  def liveRows(s: SparkSession, storeDir: String,
      cells: Option[Seq[Long]] = None): DataFrame = {
    import s.implicits._
    // either side's root can be missing (a store that has only ever seen
    // the other op) or exist with no batch dirs (compaction swept it) —
    // parquet cannot infer a schema from an empty dir, so gate BOTH
    // sides on the batch listing, not bare existence
    val fresh =
      if (batchIdsUnder(s, livePath(storeDir)).isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("vec_id", LongType, nullable = false),
            StructField("vec", ArrayType(DoubleType, containsNull = true)),
            StructField("cell", LongType),
            StructField("srcb", LongType))))
      else {
        val live = s.read.parquet(livePath(storeDir))
        val pruned = cells.fold(live)(cs => live.filter($"cell".isInCollection(cs)))
        pruned
          .withColumn("rn", row_number().over(
            Window.partitionBy($"vec_id").orderBy($"srcb".desc, $"batch".desc)))
          .filter($"rn" === 1)
          .select($"vec_id", $"vec", $"cell", $"srcb")
      }
    val resolved =
      if (batchIdsUnder(s, deadPath(storeDir)).isEmpty) fresh
      else {
        // the tombstone side is events-since-last-sweep (upsert semantics
        // write one per EVENT, not per delete), so its size is a
        // compaction-cadence choice, not a bound — broadcast only when
        // the on-disk bytes (hydration-scaled) fit the session's
        // broadcast threshold, and let the planner (AQE) pick the
        // strategy otherwise; the aggregate below never exceeds its
        // input, so the gate is sound
        val agg = s.read.parquet(deadPath(storeDir))
          .groupBy($"vec_id").agg(max($"deadb").as("deadb"))
        val dead = Stores.broadcastIfUnder(agg, deadPath(storeDir))
        fresh.join(dead, Seq("vec_id"), "left")
          .filter($"deadb".isNull || $"srcb" >= $"deadb")
      }
    resolved.select($"vec_id", $"vec", $"cell")
  }

  private def batchIdsUnder(s: SparkSession, path: String): Array[Long] =
    Stores.batchIdsUnder(s, path)

  /** q28's serving path against the liveness-resolved store: driver-side
    * probe selection, cell-pruned candidate scan, tombstone resolution on
    * the candidates only, exact re-rank ([[Similarity.rankTopK]] — the
    * same tail as q28/q89, so the served result is oracle-comparable by
    * construction). */
  def serveTopK(s: SparkSession, dir: String, storeDir: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val qvec = Similarity.queryVector(s, dir)
    val cells = Similarity.probeCells(qvec, cents)
    Similarity.rankTopK(liveRows(s, storeDir, Some(cells)), qvec)
  }

  /** Fold every live batch at or below `throughBatch` — plus any previous
    * generation — into one consolidated negative-id generation,
    * RESOLVING liveness through the folded tombstones: rows a folded
    * tombstone kills are dropped, surviving rows keep their original
    * `srcb`, and tombstones at or below `throughBatch` are deleted (a
    * tombstone only ever kills inserts with a smaller batch id, all of
    * which are folded here — fresher inserts are resurrections by
    * definition). Tombstones ABOVE `throughBatch` remain and continue to
    * resolve against the generation's preserved `srcb`. Staging id,
    * crash-safety and the one-compactor contract follow
    * [[AnnStream.compact]] verbatim; the extra crash window here —
    * sources deleted after staging, tombstones last — converges because
    * leftover tombstones ≤ `throughBatch` can only re-kill rows the
    * staged generation already excluded (`srcb` provenance), never a
    * fresher row. */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    val root = new org.apache.hadoop.fs.Path(livePath(storeDir))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val batchIds = batchIdsUnder(s, livePath(storeDir))
    val sources = batchIds.filter(b => b < 0 || b <= throughBatch)
    if (sources.nonEmpty) {
      val stagingId = batchIds.filter(_ < 0).minOption.getOrElse(0L) - 1L
      val folded = s.read.parquet(livePath(storeDir))
        .filter($"batch".isInCollection(sources))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"srcb".desc, $"batch".desc)))
        .filter($"rn" === 1)
        .select($"vec_id", $"vec", $"cell", $"srcb")
      val deadIds = batchIdsUnder(s, deadPath(storeDir)).filter(_ <= throughBatch)
      val surv =
        if (deadIds.isEmpty) folded
        else {
          val dead = s.read.parquet(deadPath(storeDir))
            .filter($"batch".isInCollection(deadIds))
            .groupBy($"vec_id").agg(max($"deadb").as("deadb"))
          folded.join(dead, Seq("vec_id"), "left")
            .filter($"deadb".isNull || $"srcb" >= $"deadb")
            .select($"vec_id", $"vec", $"cell", $"srcb")
        }
      // localCheckpoint materializes the slice BEFORE the overwrite of a
      // path the plan still reads (the family-wide compaction rule)
      val staged = surv.localCheckpoint()
      staged.select($"vec_id", $"vec", $"srcb", lit(stagingId).as("batch"), $"cell")
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "cell").parquet(livePath(storeDir))
      sources.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"batch=$b"), true)
      }
      deadIds.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(deadPath(storeDir), s"batch=$b"), true)
      }
    }
  }
}
