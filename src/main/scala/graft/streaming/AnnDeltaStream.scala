package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * (vec_id, vec, srcb) — `cell` is the [[Stores.Carried]] layout column;
  * `<dir>/dead/batch=<b>` holds tombstones (vec_id, deadb). Both sides
  * are [[Stores]] stores: written by [[Stores.writeBatch]] (redelivery
  * overwrites only its own batch partitions with deterministic bytes, so
  * it converges), folded by [[Stores.fold]], read by [[Stores.read]].
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
      Stores.writeBatch(
        Similarity.assignToCentroids(ins, cents).withColumn("srcb", lit(batchId)),
        batchId, livePath(storeDir), AnnStream.Layout)
    Stores.writeBatch(
      batch.select($"vec_id").distinct().select($"vec_id", lit(batchId).as("deadb")),
      batchId, deadPath(storeDir))
  }

  /** File-source stream over an events directory of (vec_id, vec, op)
    * parquet files ([[Stores.fileStream]]; [[AnnStream.start]]'s
    * post-compaction checkpoint contract applies unchanged). */
  def start(s: SparkSession, evDir: String, storeDir: String,
      cents: Seq[(Long, Seq[Double])],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, evSchema,
      evDir, storeDir, trigger)(processBatch(_, _, storeDir, cents))

  /** Liveness-resolved rows of the store STRICTLY BEFORE `horizon`,
    * optionally restricted to probed cells (partition-pruned): the
    * [[resolveLive]] rule over inserts with `srcb < horizon` and
    * tombstones with `deadb < horizon` — the state the store was in when
    * batch `horizon` first arrived, regardless of what has landed since
    * (the [[SemDedupStream]] redelivery contract). The default horizon
    * resolves the current state. Returns (vec_id, vec, cell, srcb);
    * empty-store-safe. */
  def liveRows(s: SparkSession, storeDir: String,
      cells: Option[Seq[Long]] = None, horizon: Long = Long.MaxValue): DataFrame = {
    import s.implicits._
    // a store that has only ever seen deletes has no live side
    if (Stores.batchIdsUnder(s, livePath(storeDir)).isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("vec_id", LongType, nullable = false),
          StructField("vec", ArrayType(DoubleType, containsNull = true)),
          StructField("cell", LongType),
          StructField("srcb", LongType))))
    val live = Stores.read(s, livePath(storeDir)).filter($"srcb" < horizon)
    resolveLive(cells.fold(live)(cs => live.filter($"cell".isInCollection(cs))),
      storeDir, horizon)
  }

  /** THE ANN liveness rule over `rows` of the live store: freshest copy
    * per vec_id by (`srcb`, `batch`) desc (duplicate copies are
    * content-identical and collapse here), then tombstone resolution
    * against the tombstones with `deadb < deadBefore` — dead iff one
    * STRICTLY post-dates the copy's `srcb`. Because every event
    * tombstones older copies (see class doc), the tombstone join — not
    * the window — is what retires a stale copy whose fresher re-insert
    * drifted to an unscanned cell, so a cell-pruned read never serves a
    * replaced vector. Returns (vec_id, vec, cell, srcb). */
  private def resolveLive(rows: DataFrame, storeDir: String,
      deadBefore: Long): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val fresh = rows
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"srcb".desc, $"batch".desc)))
      .filter($"rn" === 1)
      .select($"vec_id", $"vec", $"cell", $"srcb")
    if (Stores.batchIdsUnder(s, deadPath(storeDir)).isEmpty) fresh
    else {
      // the tombstone side is events-since-last-sweep (upsert semantics
      // write one per EVENT, not per delete), so its size is a
      // compaction-cadence choice, not a bound — broadcast only when
      // the on-disk bytes (hydration-scaled) fit the session's
      // broadcast threshold, and let the planner (AQE) pick the
      // strategy otherwise; the aggregate below never exceeds its
      // input, so the gate is sound
      val agg = Stores.read(s, deadPath(storeDir)).filter($"deadb" < deadBefore)
        .groupBy($"vec_id").agg(max($"deadb").as("deadb"))
      fresh.join(Stores.broadcastIfUnder(agg, deadPath(storeDir)), Seq("vec_id"), "left")
        .filter($"deadb".isNull || $"srcb" >= $"deadb")
        .select($"vec_id", $"vec", $"cell", $"srcb")
    }
  }

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
    * RESOLVING liveness through the folded tombstones ([[resolveLive]]
    * with the tombstones at or below `throughBatch`): rows a folded
    * tombstone kills are dropped, surviving rows keep their original
    * `srcb`. Then the tombstones at or below `throughBatch` fold to an
    * empty generation (a tombstone only ever kills inserts with a
    * smaller batch id, all of which are folded here — fresher inserts
    * are resurrections by definition). Tombstones ABOVE `throughBatch`
    * remain and continue to resolve against the generation's preserved
    * `srcb`. Each fold follows [[Stores.fold]]'s cover-manifest rules; a
    * crash between the two folds leaves tombstones ≤ `throughBatch`
    * that can only re-kill rows the generation already excluded (`srcb`
    * provenance), never a fresher row. */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    Stores.fold(s, livePath(storeDir), throughBatch, AnnStream.Layout)(
      resolveLive(_, storeDir, throughBatch + 1))
    Stores.fold(s, deadPath(storeDir), throughBatch)(_.select("vec_id", "deadb").limit(0))
  }
}
