package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** INCREMENTAL maintenance of q129's SemDeDup removed set — the ninth
  * maintained store, extending the deletion/retraction family to the
  * semantic-dedup operator: embeddings arrive as ±op batches (the
  * [[AnnDeltaStream]] event shape — op = +1 insert/upsert, op = −1
  * takedown) and the serve answers q129's question — which live members
  * are τ-close to a lower-id live member of their cluster cell — over
  * exactly the surviving corpus, without ever recomparing the whole
  * corpus on an event.
  *
  * DESIGN: members ride the [[AnnDeltaStream]] store VERBATIM (live
  * cells + tombstones — same upsert/supersede/resurrection semantics,
  * same compactor), and the semantic state is a PAIRS STORE beside it:
  * one row per within-cell τ-duplicate pair, carrying the `srcb`
  * provenance of BOTH endpoint copies at pair time. An insert batch
  * compares its own members against the store's prior live rows in the
  * touched cells only (cell-pruned read) plus itself, and appends the
  * discovered pairs; nothing else is touched. All later life-cycle is
  * RESOLUTION, not rewrite: a pair serves only while BOTH endpoints'
  * current live copy is the copy it was computed against (srcb match) —
  * a takedown kills its pairs via liveness, an upsert/resurrection kills
  * the stale copy's pairs via the srcb mismatch and lays down fresh
  * pairs for the new copy in its (possibly drifted) cell. The serve is
  * then q129's tail verbatim: group the valid pairs by their higher
  * endpoint, min witness + witness count.
  *
  * WHY PAIRS, NOT THE REMOVED SET: the removed set is not incrementally
  * maintainable on its own — a takedown of a witness must DECREMENT
  * n_dups and re-derive dup_of for every member it witnessed, which
  * needs the witness multiset anyway; storing the pairs IS that multiset
  * in its minimal join-resolvable form (the [[DedupClusterStream]]
  * lesson applied to the embedding family).
  *
  * DETERMINISM / REDELIVERY: the prior-live read resolves at the
  * STRICT horizon `srcb < batchId` / `deadb < batchId`, so a redelivered
  * batch sees exactly the state its first delivery saw even though its
  * own rows are already in the store — pair bytes are deterministic and
  * the dynamic partition overwrite converges (the family's recovery
  * contract).
  *
  * SCALE SHAPE: an insert batch reads only the cells it touches
  * (partition-pruned on the live store), joins batch×cell-members on
  * the cell key and batch×batch within itself — Σ|cell| work per
  * touched cell, never corpus×corpus; the τ test is the all-integer
  * [[Similarity.intDupCond]] on int8 codes (8× smaller shuffle bytes
  * than float64). The serve joins pairs→live on vec_id
  * (high-cardinality) twice and aggregates on vec_id — no
  * low-cardinality exchange anywhere; at production k (cells sized
  * O(corpus/k), the SemDeDup contract) every stage stays balanced.
  */
object SemDedupStream {

  val evSchema: StructType = AnnDeltaStream.evSchema

  private def pairsPath(dir: String) = s"$dir/pairs"

  /** (vec_id, cell, qs, nq) of a (vec_id, vec[, …]) frame — assignment,
    * quantization and self-norm in one projection (the q129 shape). */
  private def codesOf(df: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import df.sparkSession.implicits._
    Similarity.withInt8Codes(Similarity.assignToCentroids(df, cents))
      .withColumn("nq", Similarity.longDot($"qs", $"qs"))
      .select($"vec_id", $"cell", $"qs", $"nq")
  }

  /** Fold one ±op micro-batch: members delegate to
    * [[AnnDeltaStream.processBatch]] (same store, same semantics); the
    * pairs side appends this batch's discovered τ-pairs — new×prior-live
    * in the touched cells plus new×new — each endpoint stamped with the
    * srcb of the copy it was computed against. Idempotent under
    * redelivery (strict-horizon prior read + dynamic overwrite of this
    * batch's own partition with deterministic bytes). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      cents: Seq[(Long, Seq[Double])]): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    if (batch.isEmpty) return
    val ins = batch.filter($"op" === 1).select($"vec_id", $"vec")
    if (!ins.isEmpty) {
      // one pass: assignment + codes of the batch, pinned — reused for
      // the cell list, both pair joins and nothing else (batch-sized)
      val nw = codesOf(ins, cents).localCheckpoint()
      // touched-cell list: bounded by min(batch size, k) — the partition-
      // pruning key for the prior-live read
      val touched = nw.select($"cell").distinct().as[Long].collect().toSeq
      // prior live rows already CARRY their cell (assigned at their own
      // ingest against the same frozen centroids) — quantize in place,
      // one projection, no re-assignment and no self-rejoin
      val prior = Similarity.withInt8Codes(
          AnnDeltaStream.liveRows(s, storeDir, Some(touched), horizon = batchId))
        .withColumn("nq", Similarity.longDot($"qs", $"qs"))
      val newSide = nw.select($"vec_id".as("n_id"), $"cell",
        $"qs".as("nqs"), $"nq".as("nn"), lit(batchId).as("n_srcb"))
      // new × prior-live (both orientations resolved into a_id < b_id)
      val cross = newSide.join(
          prior.select($"vec_id".as("o_id"), $"cell", $"qs".as("oqs"),
            $"nq".as("on"), $"srcb".as("o_srcb")), Seq("cell"))
        .filter($"n_id" =!= $"o_id")
        .withColumn("dot", Similarity.longDot($"nqs", $"oqs"))
        .filter(Similarity.intDupCond($"dot", $"nn", $"on"))
        .select($"cell",
          when($"n_id" < $"o_id", $"n_id").otherwise($"o_id").as("a_id"),
          when($"n_id" < $"o_id", $"n_srcb").otherwise($"o_srcb").as("a_srcb"),
          when($"n_id" < $"o_id", $"o_id").otherwise($"n_id").as("b_id"),
          when($"n_id" < $"o_id", $"o_srcb").otherwise($"n_srcb").as("b_srcb"))
      // new × new (strictly ordered, both srcb = this batch)
      val self = newSide.join(
          newSide.select($"n_id".as("m_id"), $"cell", $"nqs".as("mqs"),
            $"nn".as("mn")), Seq("cell"))
        .filter($"n_id" < $"m_id")
        .withColumn("dot", Similarity.longDot($"nqs", $"mqs"))
        .filter(Similarity.intDupCond($"dot", $"nn", $"mn"))
        .select($"cell", $"n_id".as("a_id"), lit(batchId).as("a_srcb"),
          $"m_id".as("b_id"), lit(batchId).as("b_srcb"))
      Stores.writeBatch(cross.unionByName(self), batchId, pairsPath(storeDir))
      nw.unpersist()
    }
    // members AFTER the pair discovery: the prior-live read above must
    // not see this batch's rows on first delivery (redelivery is handled
    // by the strict horizon either way)
    AnnDeltaStream.processBatch(batch, batchId, storeDir, cents)
  }

  /** File-source stream over (vec_id, vec, op) events —
    * [[AnnDeltaStream.start]]'s harness with this fold. */
  def start(s: SparkSession, evDir: String, storeDir: String,
      cents: Seq[(Long, Seq[Double])],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, evSchema,
      evDir, storeDir, trigger)(processBatch(_, _, storeDir, cents))

  /** q129's answer over the maintained store: pairs whose BOTH endpoint
    * copies are still the live ones (vec_id + srcb match — a takedown
    * fails the liveness join, an upsert fails the srcb match), grouped
    * by the higher endpoint: (vec_id, cell, dup_of, n_dups), ordered. */
  def serveRemoved(s: SparkSession, storeDir: String): DataFrame = {
    import s.implicits._
    if (Stores.batchIdsUnder(s, pairsPath(storeDir)).isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("vec_id", LongType, nullable = false),
          StructField("cell", LongType),
          StructField("dup_of", LongType),
          StructField("n_dups", LongType, nullable = false))))
    livePairs(Stores.read(s, pairsPath(storeDir)), storeDir)
      .groupBy($"b_id", $"cell")
      .agg(min($"a_id").as("dup_of"), count(lit(1)).as("n_dups"))
      .select($"b_id".as("vec_id"), $"cell", $"dup_of", $"n_dups")
      .orderBy($"vec_id")
  }

  /** The `pairs` rows whose BOTH endpoint copies are still the live
    * ones — the liveness resolution is materialized once: both endpoint
    * joins reference it (store read + freshest-row window + tombstone
    * join), and uncut, Catalyst re-derives that chain per join side (the
    * q129 plan-cut discipline). */
  private def livePairs(pairs: DataFrame, storeDir: String): DataFrame = {
    import pairs.sparkSession.implicits._
    val live = AnnDeltaStream.liveRows(pairs.sparkSession, storeDir)
      .select($"vec_id", $"srcb")
      .localCheckpoint()
    pairs
      .join(live.select($"vec_id".as("a_id"), $"srcb".as("a_srcb")),
        Seq("a_id", "a_srcb"))
      .join(live.select($"vec_id".as("b_id"), $"srcb".as("b_srcb")),
        Seq("b_id", "b_srcb"))
  }

  /** Compact members through `throughBatch` ([[AnnDeltaStream.compact]]
    * — pair provenance survives it because the member compactor
    * preserves `srcb`), then fold the pair batches at or below it into
    * one negative generation, dropping pairs that no longer resolve
    * (either endpoint dead or superseded as of NOW — a dropped pair can
    * never resolve again: srcb never reverts and resurrection lays down
    * fresh pairs). Both folds follow [[Stores.fold]]'s cover-manifest
    * rules; a redelivered pair batch ≤ throughBatch after the fold
    * rebuilds its partition from the same deterministic inputs, hidden
    * by the manifest and dropped by the next sweep. */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    AnnDeltaStream.compact(s, storeDir, throughBatch)
    Stores.fold(s, pairsPath(storeDir), throughBatch)(
      livePairs(_, storeDir).select("cell", "a_id", "a_srcb", "b_id", "b_srcb"))
  }
}
