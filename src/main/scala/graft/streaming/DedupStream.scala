package graft.streaming

import graft.functions.HashFamily
import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental MinHash/LSH dedup for a corpus that grows through the
  * streaming path — the missing half of the batch q25 pipeline: a corpus
  * ingested via streams had no way to dedup new documents against the
  * existing index without a full rebuild (the batch pipeline is the
  * diff-sync-not-full-reload philosophy of `/root/reference/src/sync.rs:126-151`
  * applied to near-dup state).
  *
  * Design — the index IS the LSH bucket table:
  *   - bands: a BUCKETED catalog table at `indexDir/bands`, bucketed on
  *     (band, bhash) — the probe key — and partitioned by the micro-batch
  *     id. Bucketing makes the per-batch probe co-located: the scan
  *     reports hash distribution on the join key, so the sort-merge probe
  *     shuffles only the new batch's band keys (into numBuckets
  *     partitions) and NEVER exchanges the ever-growing index side
  *     (DedupStreamSpec pins this on the executed plan). At 10¹⁰ indexed
  *     docs that is the difference between a probe and re-shuffling the
  *     whole index every batch.
  *   - `indexDir/shingles`: (doc_id, sh), batch-partitioned parquet —
  *     needed because verification is exact Jaccard over raw shingle
  *     sets, not sketch agreement.
  *   - `pairsDir`: verified pairs (doc_a, doc_b, jaccard), batch-
  *     partitioned.
  *
  * Exactly-once under foreachBatch redelivery: every write is a DYNAMIC
  * PARTITION OVERWRITE keyed by the micro-batch id. Replaying a batch
  * rewrites exactly its own `batch=<id>` partitions with byte-identical
  * content (the probe also filters the index to `batch < id`, so a
  * half-written previous attempt can never feed the replay) — no
  * double-appended pairs, no double-indexed documents, regardless of
  * where the previous attempt crashed. Spark's file source guarantees a
  * replayed batch id carries the same files, which is what makes the
  * rewrite deterministic.
  *
  * All filesystem probes go through the Hadoop FileSystem of the path's
  * scheme (NOT `java.io.File`), so `indexDir`/`pairsDir` may live on any
  * Hadoop-compatible store; the spec exercises a scheme-qualified path.
  * One caveat inherited from [[graft.store.Bucketing]]: the bands table's
  * bucket METADATA lives in the session catalog, so a brand-new session
  * re-registers the table before probing (`ensureBandsTable` is
  * idempotent and cheap; a production deployment would back the catalog
  * with a shared metastore).
  *
  * Each micro-batch hashes ONLY its new documents, joins their band keys
  * against (a) the persisted index and (b) themselves, verifies candidates
  * with exact Jaccard, then overwrites its own output partitions. Per
  * batch the work is O(new docs × bands + matched buckets) — the
  * corpus-sized index is only ever *probed* on its bucket key, never
  * rescanned, which is what makes the path viable when the index holds
  * 10¹⁰ documents and a batch holds 10⁴.
  *
  * Determinism: a pair is emitted exactly once — in the micro-batch where
  * its LATER document arrives (the index never contains same-batch docs,
  * and within a batch the self-join is id-ordered) — and pair columns are
  * id-normalized with least/greatest, so the accumulated pair set is
  * independent of how the corpus was split into batches and equals the
  * batch `minhashLshPairs` output exactly (DedupStreamSpec proves
  * byte-identity against the q25 rebuild on every batch partitioning it
  * tries).
  */
object DedupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Buckets for the bands index table. Sized so one bucket of a full
    * index fits an executor core's scan budget; the local harness keeps it
    * small since every batch writes one file per bucket it touches. */
  val IndexBuckets = 8

  private def readIfExists(s: SparkSession, path: String, schema: StructType): DataFrame =
    if (Stores.exists(s, path)) Stores.read(s, path)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** `indexDir/shingles` holds xxhash64-HASHED shingle sets (round 18):
    * the store's only consumer is the verify stage, which compares
    * xxhash64 values (the [[Dedup.verifyPairs]] collision note — banding
    * hashes the STRING shingle via `family.hash63`, so the candidate
    * space is untouched), and the old string layout made every batch
    * re-run the per-shingle hash transform over the ENTIRE store —
    * corpus-sized interpreted-HOF work per batch, measured growing
    * 1.4 → 2.6 s/batch across q112's replay at sf0.1. Hashed at ingest,
    * the per-batch transform is batch-sized and the store is ~4×
    * narrower on disk. Verified pairs are byte-identical (same hash
    * domain, same Jaccard arithmetic — DedupStreamSpec pins equality
    * with the batch pipeline). */
  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(LongType, containsNull = false)),
    StructField("batch", LongType)))

  /** Catalog name for the bands table of a given index location — derived
    * from the path so independent indexes in one session never collide. */
  def bandsTable(indexDir: String): String = {
    val b = indexDir.getBytes("UTF-8")
    "graft_dedup_bands_" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42) & 0xFFFFFFFFL)
  }

  /** Idempotently register the bands table: a bucketed external table at
    * `indexDir/bands`. Safe to call per batch and from a fresh session
    * over an existing index (the data files are the truth; this only
    * restores the catalog entry + bucket spec). Registration is plain
    * DDL, not an empty CTAS write: CTAS refuses a non-empty location, so
    * the empty-write form only ever worked for a BRAND-NEW index — a
    * fresh session re-attaching a populated one needs CREATE TABLE +
    * RECOVER PARTITIONS (the MaterializedSpec re-attach tests surfaced
    * this; DedupStreamSpec now pins it for this table too). */
  private[graft] def ensureBandsTable(s: SparkSession, indexDir: String): String = {
    val name = bandsTable(indexDir)
    if (!s.catalog.tableExists(name)) {
      val bandsPath = s"$indexDir/bands"
      val populated = Stores.exists(s, bandsPath)
      s.sql(s"""CREATE TABLE $name (doc_id BIGINT, band INT, bhash BIGINT, batch BIGINT)
        USING PARQUET
        PARTITIONED BY (batch)
        CLUSTERED BY (band, bhash) SORTED BY (band, bhash) INTO $IndexBuckets BUCKETS
        LOCATION '$bandsPath'""")
      // an existing index's batch=<id> partitions live only in the
      // directory layout until recovered into the fresh catalog entry
      if (populated) s.sql(s"ALTER TABLE $name RECOVER PARTITIONS")
    }
    name
  }

  /** The new↔index probe: a co-located join of the batch's band keys
    * against the bucketed bands table, restricted to strictly earlier
    * batches. The index side is consumed where it is read — no exchange
    * between its scan and this join (DedupStreamSpec pins the executed
    * plan); everything ABOVE the join moves candidate volume only. */
  private[graft] def probeIndex(s: SparkSession, newBands: DataFrame,
      batchId: Long, indexDir: String): DataFrame = {
    val oldBands = s.table(ensureBandsTable(s, indexDir))
      .filter(col("batch") < batchId) // partition-pruned; excludes any half-written replay of this batch
    newBands.as("x").join(oldBands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
  }

  /** LSH candidate pairs of one batch: new↔index ∪ new↔new (id-ordered
    * self-join), deduplicated. */
  private[graft] def candidates(s: SparkSession, newBands: DataFrame,
      batchId: Long, indexDir: String): DataFrame = {
    val newNew = newBands.as("x").join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    probeIndex(s, newBands, batchId, indexDir).union(newNew).distinct()
  }

  /** Process one micro-batch of new documents against the persisted index
    * — also the unit the spec drives directly. Idempotent under
    * redelivery of the same `batchId` (see class doc).
    *
    * `removedDir` (round 14, the takedown surface): a batch-partitioned
    * (doc_id, rmb) store of RETIRED documents. Retirement is TERMINAL —
    * a removed doc_id never comes back (real pipelines re-upload under a
    * new id; content identity is not a mutable key), which is what keeps
    * the mask monotone and this method free of per-doc liveness
    * resolution. Candidates touching a retired doc are masked out before
    * verification (two anti-joins over the retirement mask, broadcast-
    * hinted only while the store's on-disk bytes fit the session
    * threshold — retirement is terminal, so the mask grows for the
    * store's LIFETIME and must not force an unbounded driver collect;
    * candidate-sized work either way, the index itself is still never
    * rescanned); re-inserting a retired id is REFUSED loudly rather than
    * silently resurrecting bands the mask would keep hiding. The
    * retired docs' bands/shingles stay physically in the append-layout
    * index until an index compaction job rewrites it — masking is
    * logical deletion, the probe-correctness half; physical purge is a
    * maintenance rewrite outside the ingest path. */
  def processBatch(s: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String, pairsDir: String, family: HashFamily,
      threshold: Double = Dedup.JaccardThreshold,
      removedDir: Option[String] = None): Unit = {
    // an empty batch would dynamic-overwrite zero partitions: nothing to do
    if (batch.isEmpty) return
    val newSh = Dedup.shinglesOf(batch).cache()
    val newBands = Dedup.bandsOf(newSh, family).cache()
    // hashed ONCE per batch off the cached string shingles — verify and
    // the store write share this batch-sized transform (see shingleSchema)
    val newShH = newSh.select(col("doc_id"),
      expr("transform(sh, s -> xxhash64(s))").as("sh"))
    val table = ensureBandsTable(s, indexDir)

    // an op-less stream never materializes the removed store — one cheap
    // existence probe keeps the mask joins and the revived-check action
    // entirely off the insert-only hot path
    val removedPath = removedDir.filter(Stores.exists(s, _))
    removedPath.map(Stores.read(s, _)).foreach { rm =>
      // loud refusal of retired-id re-inserts (strictly earlier batches:
      // a doc added and removed in ONE batch was already dropped from
      // `batch` by the caller's removal-wins split, and this batch's own
      // removal partition may already exist on replay)
      val revived = batch.select(col("doc_id"))
        .join(rm.filter(col("batch") < batchId).select(col("doc_id")), "doc_id")
        .limit(1).collect()
      require(revived.isEmpty,
        s"DedupStream: doc_id ${revived.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
          s"was retired in an earlier batch and cannot be re-inserted " +
          s"(retirement is terminal; re-upload under a new doc_id)")
    }

    val oldSh = {
      val raw = readIfExists(s, s"$indexDir/shingles", shingleSchema)
      // LOUD refusal of a pre-hashed-layout store (sh: array<string>):
      // readIfExists infers the on-disk schema, and a silent union of
      // string shingles with this batch's hashed longs would coerce to
      // string and verify NOTHING across the boundary (empty intersects,
      // every old-vs-new pair dropped). Terminal stores live for a
      // lifetime — an old index must be rebuilt or purge-rewritten, not
      // silently poisoned.
      raw.schema.find(_.name == "sh").foreach { f =>
        require(f.dataType == ArrayType(LongType, containsNull = false) ||
            f.dataType == ArrayType(LongType, containsNull = true),
          s"DedupStream: shingle store at $indexDir/shingles has element type " +
            s"${f.dataType.simpleString} — a pre-hashed-layout (string) index " +
            "cannot be appended to; rebuild the index or rewrite it via purgeRetired")
      }
      raw.filter(col("batch") < batchId)
        .select(col("doc_id"), col("sh"))
    }

    val cand0 = candidates(s, newBands, batchId, indexDir)
    val cand = removedPath.fold(cand0) { d =>
      // mask = every retirement recorded at or before this batch (the
      // caller records this batch's removals first, so same-batch new
      // docs cannot pair with docs removed beside them). Retirement is
      // terminal, so the store grows monotonically for the store's
      // lifetime — the broadcast is size-gated on its on-disk bytes
      // (years of takedowns must not force an unbounded driver collect;
      // past the threshold the planner picks the join strategy)
      val mask = Stores.read(s, d).filter(col("batch") <= batchId)
      cand0
        .join(Stores.broadcastIfUnder(
            mask.select(col("doc_id").as("__rm_a")), d),
          col("doc_a") === col("__rm_a"), "left_anti")
        .join(Stores.broadcastIfUnder(
            mask.select(col("doc_id").as("__rm_b")), d),
          col("doc_b") === col("__rm_b"), "left_anti")
    }

    val verified = Dedup.verifyHashedPairs(cand, oldSh.unionByName(newShH), threshold)

    // three per-batch-partition dynamic overwrites: each rewrites ONLY
    // partition batch=<id>, so any replay (full or after a partial crash)
    // converges to the same bytes in any write order. The path writes are
    // Stores.writeBatch (dynamic mode PER WRITE — the data-source option
    // outranks any session conf, including the foreachBatch clone-session
    // conf that bit the conf-only approach); only insertInto, whose API
    // carries no write options, still needs the scoped session-conf wrapper
    Stores.writeBatch(verified, batchId, pairsDir)
    graft.store.Bucketing.withDynamicPartitionOverwrite(s, batch.sparkSession) {
      newBands.select(col("doc_id"), col("band"), col("bhash"))
        .withColumn("batch", lit(batchId))
        .write.mode(SaveMode.Overwrite).insertInto(table)
    }
    Stores.writeBatch(newShH, batchId, s"$indexDir/shingles")
    newBands.unpersist()
    newSh.unpersist()
  }

  /** PHYSICAL purge of retired documents from the append-layout index —
    * the other half of the q112 takedown story: the probe MASK makes
    * retired documents logically invisible from the instant of
    * retirement, but their shingles (content n-grams — exactly the bytes
    * a licensing claim or GDPR erasure demands gone) and band hashes
    * stay on disk until this maintenance rewrite drops them. Folds every
    * bands/shingles partition at or below `throughBatch` — plus prior
    * purge generations — into one fresh negative-id generation with the
    * retired doc_ids' rows dropped (retirement is terminal, so EVERY
    * recorded retirement applies, not just those ≤ `throughBatch`).
    *
    * Probe equivalence is by construction: the probe's `batch < id`
    * prefix filter admits negative generations, and retirement is
    * terminal so a purged row could only ever have produced candidates
    * the mask already suppressed. The pairs store is deliberately NOT
    * rewritten: its rows carry ids and a score — no content — and the
    * withdrawal derivation needs the prior-pair record (already guarded
    * against re-withdrawal by the removed-store anti-join).
    *
    * The shingles and removed stores fold through [[Stores.fold]] and
    * are read through [[Stores.read]], so its cover-manifest contract
    * governs them: a crashed fold is invisible and the next one repairs
    * it. The bands table keeps its own loop below: it is a
    * catalog-registered, bucketed and sorted table written by
    * `insertInto` (the co-located probe join depends on that layout),
    * which the plain-parquet fold cannot write — so it has no manifest:
    * run the purge single-owner with the stream stopped and
    * `throughBatch` at most the last COMMITTED batch (a replay of a
    * folded batch would see its own band rows in the generation), and
    * after a crash re-run it to completion before serving resumes
    * (previous generations fold as sources; duplicate band rows collapse
    * in the distinct candidate set).
    *
    * Also folds the REMOVED store itself into one distinct
    * (doc_id, min rmb) generation: the takedown path writes one
    * `batch=<id>` partition per retirement batch, and without compaction
    * every later mask read lists one directory per takedown EVER —
    * unbounded over the store's lifetime. The generation carries a
    * negative id, so every consumer's prefix filter still admits it. */
  def purgeRetired(s: SparkSession, indexDir: String, removedDir: String,
      throughBatch: Long): Unit = {
    import s.implicits._
    if (!Stores.exists(s, removedDir)) return
    // the retirement set is lifetime-unbounded (terminal retirement, no
    // expiry) — size-gate its broadcast like every other removed-store
    // consumer; the distinct set never exceeds the store it came from
    val retired = Stores.broadcastIfUnder(
      Stores.read(s, removedDir).select($"doc_id").distinct().localCheckpoint(),
      removedDir)
    val table = ensureBandsTable(s, indexDir)
    val bandsPath = s"$indexDir/bands"
    val bandIds = Stores.batchIdsUnder(s, bandsPath)
    val bSources = bandIds.filter(b => b < 0 || b <= throughBatch)
    if (bSources.nonEmpty) {
      val stagingId = bandIds.filter(_ < 0).minOption.getOrElse(0L) - 1L
      // localCheckpoint materializes the survivors BEFORE touching the
      // table the plan reads (the family-wide compaction rule)
      val staged = s.table(table)
        .filter($"batch".isInCollection(bSources))
        .join(retired, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"band", $"bhash", lit(stagingId).as("batch"))
        .localCheckpoint()
      graft.store.Bucketing.withDynamicPartitionOverwrite(s) {
        staged.write.mode(SaveMode.Overwrite).insertInto(table)
      }
      val fs = new Path(bandsPath).getFileSystem(s.sparkContext.hadoopConfiguration)
      bSources.foreach { b =>
        s.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (batch=$b)")
        fs.delete(new Path(bandsPath, s"batch=$b"), true)
      }
    }
    Stores.fold(s, s"$indexDir/shingles", throughBatch)(
      _.join(retired, Seq("doc_id"), "left_anti").select($"doc_id", $"sh"))
    // retirement is terminal, so the removed store folds to a plain
    // (doc_id, min rmb) distinct
    Stores.fold(s, removedDir, throughBatch)(
      _.groupBy($"doc_id").agg(min($"rmb").as("rmb")))
  }

  /** File-source stream over a documents directory: every arriving parquet
    * file of (doc_id, text) rows is incrementally deduped against the
    * index ([[Stores.fileStream]] — the checkpoint beside the index,
    * `<indexDir>.ckpt`, makes a restart deliver only unseen files). */
  def start(s: SparkSession, docsDir: String, indexDir: String, pairsDir: String,
      family: HashFamily = HashFamily.Fast,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Stores.fileStream(s, docSchema,
      docsDir, indexDir, trigger)(processBatch(s, _, _, indexDir, pairsDir, family))

  /** Accumulated verified pairs, in the batch pipeline's output shape.
    * (An all-empty run may never have materialized the directory — an
    * empty dynamic overwrite touches no partition — hence the probe.) */
  def pairs(s: SparkSession, pairsDir: String): DataFrame =
    readIfExists(s, pairsDir, StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType),
      StructField("jaccard", DoubleType))))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
}
