package graft.streaming

import graft.operators.TemporalJoins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming maintenance of the q82 funnel table — the DELTA-DRIVEN
  * TARGETED-RECOMPUTE member of the streaming family, a pattern the other
  * monitors don't need: the funnel is not a monoid. q82's greedy
  * first-touch rule anchors at the user's FIRST view, so a late or
  * out-of-order arrival (an earlier view, a click that beats the current
  * one) can INVALIDATE previously derived state — no bounded per-user
  * summary folds it associatively, and a watermark design would have to
  * drop exactly the arrivals that change the answer.
  *
  * Instead, each micro-batch:
  *   1. appends its events under `events/batch=<id>` (dynamic partition
  *      overwrite — deterministic bytes, so redelivery converges);
  *   2. recomputes [[TemporalJoins.funnelStages]] from FULL history for
  *      ONLY the users the batch touched (a left-semi join of history
  *      against the batch's distinct user ids; history is filtered to
  *      `batch <= id`, the [[DedupStream]] discipline that keeps a
  *      crashed later attempt from feeding an earlier replay);
  *   3. writes the recomputed rows under `funnel/batch=<id>` — the
  *      serving view takes each user's row from the LATEST batch, which
  *      by construction reflects every event seen so far.
  *
  * Exactness under ANY arrival order and ANY batch split follows from
  * (2): a touched user's row is always derived from the complete prefix,
  * never folded from per-batch partials. Per batch the cost is the
  * touched users' histories — the working set a funnel upsert pays in any
  * system that maintains it exactly; untouched users are never read — and
  * since round 12 never LISTED either: the events store is bucketed on
  * user_id ([[UserBucket]], the round-11 layout the graph family already
  * carries), so the history read prunes to the touched users' buckets as
  * a partition filter before the semi-join (this was the last maintained
  * store whose restricted per-batch read still listed every file). The
  * per-batch directory growth that the history read and the snapshot
  * would otherwise pay (one partition per batch ever ingested) is bounded
  * by periodic [[compact]]ion into negative-id generations.
  *
  * ±op EVENT RETRACTION (round 15 — the last maintained store that was
  * insert-only): a batch may carry an `op` column; op = −1 RETRACTS the
  * exact (user_id, event_type, ts_us) triple — the funnel analogue of a
  * document takedown (a deleted user, a bot purge, a consent withdrawal
  * must stop counting toward conversion). Retraction is the case the
  * targeted-recompute design absorbs almost for free, because it never
  * folded per-batch partials in the first place:
  *
  *   - events land in the store WITH their op and an `srcb` provenance
  *     column (the batch id that wrote the row — the
  *     [[AnnDeltaStream]] rule, so compaction can fold rows into a
  *     negative generation without making them look infinitely old);
  *   - a triple's liveness is its FRESHEST row: the greatest
  *     (srcb, op) — so a later op decides, and a triple both inserted
  *     and retracted in ONE batch resolves insert-wins (the
  *     [[SsspDeltaStream]] convention). Retraction is NOT terminal:
  *     re-inserting the triple in a later batch resurrects it. Liveness
  *     is SET-semantics per triple (duplicate copies of a triple stand
  *     or fall together — invisible to the MIN/MAX funnel either way);
  *   - the recompute then runs on the touched users' SURVIVING events.
  *     A touched user left with NO surviving events gets a TOMBSTONE
  *     funnel row (null stage) that outranks their stale rows in the
  *     freshest-row serving window — without it the snapshot would keep
  *     serving the last pre-retraction row forever. [[snapshot]] filters
  *     tombstones; batch q82 on the surviving events has no row for such
  *     a user either, so the served table stays oracle-equal.
  *
  * The liveness resolution costs one aggregation over the touched
  * users' histories — and the WHOLE recompute (liveness + the funnel
  * windows + the per-user aggregation) pays exactly ONE data exchange,
  * on user_id: see [[liveEvents]] for why the repartition there is that
  * exchange and how every downstream operator reuses it
  * (FunnelStreamSpec pins the single-exchange plan shape). Retraction
  * support therefore costs the ingest path no additional shuffle.
  */
object FunnelStream {

  /** Bucketed layout of the events store ([[Stores.readPruned]]): every
    * per-batch read is user-restricted, so user_id is the restriction
    * key. The funnel table stays flat — its only read is the full-store
    * serving window. */
  private[graft] val UserBucket = Stores.Bucket("pbu", "user_id")

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("ts_us", LongType, nullable = false)))

  /** (user_id, event_type, ts_us, op) — the ±op retraction surface;
    * op = −1 retracts the exact triple. */
  val opEventSchema: StructType =
    StructType(eventSchema.fields :+ StructField("op", IntegerType, nullable = false))

  /** The surviving events of a (±op, srcb)-carrying history slice: per
    * triple, the freshest (srcb, op) row decides — greater srcb wins;
    * within one batch the insert wins the tie.
    *
    * ONE exchange for the whole recompute: the explicit user_id
    * repartition here is the only data shuffle the funnel derivation
    * pays — hashpartitioning(user_id) satisfies this aggregation's wider
    * (user_id, event_type, ts_us) grouping (the partitioning keys are a
    * subset of the grouping keys) AND every funnelStages window and the
    * final per-user aggregation downstream. Without it, Catalyst keys
    * the liveness aggregation's own exchange on the full triple — which
    * the user_id window then cannot reuse, paying a SECOND
    * corpus-history shuffle (the plan this replaced; FunnelStreamSpec
    * pins the single-exchange shape). The touched-set semi-join
    * broadcasts, so no exchange exists upstream to reuse. */
  /** Normalize a history read over a store that may hold PRE-±op rows
    * (written before round 15, when events carried neither `op` nor
    * `srcb`): default op to +1 ([[Stores.withOpDefault]], the family
    * contract) and srcb to the row's own `batch` — the batch that wrote
    * it, which is exactly what srcb records for rows written since.
    * Without this, the documented migrate-by-compacting path throws on
    * the missing columns, and a mixed read would silently DROP every
    * legacy row at the `op === 1` liveness filter. (The mixed-root
    * hazard itself — parquet's sampled schema choosing a legacy file and
    * dropping the op column entirely — remains governed by the
    * [[Stores.withOpDefault]] MIGRATION CONTRACT: fold-compact a legacy
    * store once before appending ±op batches.) */
  private def withProvenanceDefaults(df: DataFrame): DataFrame = {
    val withOp = Stores.withOpDefault(df)
    // cast: the `batch` PARTITION column is inferred (IntegerType for
    // small ids) while written srcb is always LongType — an uncast
    // default would stamp an INT32 srcb into the migration generation
    // and wedge every later mixed read on a parquet type mismatch
    val default = col("batch").cast(LongType)
    if (!withOp.columns.contains("srcb"))
      withOp.withColumn("srcb", default)
    else withOp.withColumn("srcb", coalesce(col("srcb").cast(LongType), default))
  }

  private def liveEvents(hist: DataFrame): DataFrame = {
    import hist.sparkSession.implicits._
    hist
      .repartition($"user_id")
      .groupBy($"user_id", $"event_type", $"ts_us")
      .agg(max(struct($"srcb", $"op")).as("__m"))
      .filter($"__m.op" === 1)
      .select($"user_id", $"event_type", $"ts_us")
  }

  /** Ingest one micro-batch — optionally ±op-carrying (a missing `op`
    * column means all-inserts) — and refresh the funnel rows of every
    * touched user from their surviving history. Idempotent under
    * redelivery of the same `batchId`. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // empty-batch guard (the CcStream note): a zero-partition dynamic
    // overwrite on a fresh store leaves an all-_SUCCESS events root
    if (batch.isEmpty) return
    Stores.writeBatch(
      Stores.withOpDefault(batch)
        .select($"user_id", $"event_type", $"ts_us", $"op", lit(batchId).as("srcb")),
      batchId, s"$storeDir/events", Seq(UserBucket))
    val touched = batch.select($"user_id").distinct().localCheckpoint()
    // touched feeds the pruned read's bucket-id action AND the semi-join
    // (the round-11 once-per-batch rule) — hence the eager checkpoint
    Stores.writeBatch(recomputeRows(touched, batchId, storeDir), batchId,
      s"$storeDir/funnel")
  }

  /** The touched users' refreshed funnel rows — surviving-history
    * recompute with (null stage) TOMBSTONE rows for touched users whose
    * history emptied (the LEFT join; see class doc). Factored out of
    * [[processBatch]] so FunnelStreamSpec can pin the no-new-shuffle
    * claim on the executed plan. */
  private[graft] def recomputeRows(touched: DataFrame, batchId: Long,
      storeDir: String): DataFrame = {
    val s = touched.sparkSession
    import s.implicits._
    val hist = withProvenanceDefaults(
      Stores.readPruned(s, s"$storeDir/events", UserBucket, touched)
        .filter($"batch" <= batchId))
      .join(touched, Seq("user_id"), "left_semi")
      .select($"user_id", $"event_type", $"ts_us", $"op", $"srcb")
    touched
      .join(TemporalJoins.funnelStages(liveEvents(hist)), Seq("user_id"), "left")
      .select($"user_id", $"stage", $"ttc_us")
  }

  /** File-source stream over an events directory of (user_id, event_type,
    * ts_us) parquet files ([[Stores.fileStream]]).
    *
    * The checkpoint lives beside the store (`<storeDir>.ckpt`) and is as
    * durable as the store: a fresh (temp) checkpoint restarts ids at 0
    * and re-lists every source file, re-appending already-compacted
    * events beside their negative generation. The ANSWER survives that
    * (funnelStages is MIN/MAX aggregation — duplicate events are
    * semantically invisible, as the [[compact]] crash-safety note
    * documents), but the store doubles; a durable checkpoint resumes the
    * id sequence so only new files ingest. */
  def start(s: SparkSession, eventsDir: String, storeDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      withOps: Boolean = false): StreamingQuery =
    Stores.fileStream(s, if (withOps) opEventSchema else eventSchema,
      eventsDir, storeDir, trigger)(processBatch(_, _, storeDir))

  /** The maintained funnel table: each user's freshest row. Live batches
    * (non-negative ids) outrank compacted generations; among generations
    * (negative ids, one LOWER per compaction) the newest — most negative
    * — wins: a generation summarizes everything folded before it, so any
    * leftover older generation a crashed compaction failed to delete
    * carries staler rows. */
  def snapshot(s: SparkSession, storeDir: String): DataFrame = {
    import s.implicits._
    Stores.freshestPerKey(Stores.read(s, s"$storeDir/funnel"), "user_id")
      // a null-stage row is a retraction tombstone: the user's surviving
      // history is empty, so batch q82 has no row for them either
      .filter($"stage".isNotNull)
      .select($"user_id", $"stage", $"ttc_us")
  }

  /** Fold every batch partition at or below `throughBatch` — plus prior
    * compaction generations — of BOTH stores into one fresh generation
    * (negative id, one lower per compaction; live stream ids are
    * non-negative, so a staged generation never collides with anything
    * the stream wrote or will write). Without it, every micro-batch's
    * history read and every snapshot lists one directory per batch ever
    * ingested, so an always-on stream degrades linearly in batch count
    * from listing overhead alone.
    *
    * Crash-safety is [[Stores.fold]]'s manifest contract (round 10): the
    * staged generation becomes visible — and its sources excluded — in
    * one atomic manifest rename, so readers never see staging and
    * sources together and a crash at any point is repaired by the next
    * fold's cleanup pass. (This store's MIN/MAX semantics tolerated the
    * old overlap window anyway; the shared fold makes that tolerance
    * unnecessary rather than load-bearing.)
    *
    * CONTRACT — one compactor at a time (the [[graft.store.Materialized]]
    * concurrent-build note, applied to maintenance): the staging id is
    * derived from a directory listing with no mutual exclusion, so two
    * compactions racing can pick the SAME generation id and overwrite
    * each other. Compaction is a periodic single-owner maintenance job; a
    * multi-maintainer deployment must serialize it externally (a lease on
    * the store root). Ingest needs no such care: live batches touch only
    * their own non-negative ids. */
  def compact(s: SparkSession, storeDir: String, throughBatch: Long): Unit = {
    import s.implicits._
    // events: resolve per-triple liveness over the folded slice and keep
    // only survivors, PRESERVING their original srcb (the AnnDeltaStream
    // provenance rule) — a live retraction above `throughBatch` must
    // still outrank a folded row, and a folded row must still outrank a
    // retraction it post-dated. Retractions at or below `throughBatch`
    // fold away: every row they could kill is folded here with them.
    Stores.fold(s, s"$storeDir/events", throughBatch, Seq(UserBucket)) { src =>
      withProvenanceDefaults(src)
        .groupBy($"user_id", $"event_type", $"ts_us")
        .agg(max(struct($"srcb", $"op")).as("__m"))
        .filter($"__m.op" === 1)
        .select($"user_id", $"event_type", $"ts_us",
          $"__m.op".as("op"), $"__m.srcb".as("srcb"))
    }
    // funnel: freshest row per user, DROPPING resolved tombstones (a
    // tombstone's kill set is folded with it; filtering must run after
    // the freshest-row pick, or an older real row would resurface)
    Stores.fold(s, s"$storeDir/funnel", throughBatch)(src =>
      Stores.freshestPerKey(src, "user_id")
        .filter($"stage".isNotNull)
        .select($"user_id", $"stage", $"ttc_us"))
  }
}
