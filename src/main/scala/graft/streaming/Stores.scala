package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Shared per-batch write, negative-generation fold and read for the
  * maintained batch-partitioned stores — ONE implementation of the
  * sequence every maintainer once hand-rolled (the copies had already
  * diverged on the missing-store guard before round 9 unified three of
  * them). Every store of CcStream, SsspStream, SsspDeltaStream,
  * TriangleStream, KCoreStream, TrussStream, FunnelStream, AnnStream,
  * AnnDeltaStream, SemDedupStream, DedupStream/DedupClusterStream
  * (shingles, pairs, removed) and ContaminationStream's manifest writes
  * through [[writeBatch]]; every store they compact folds through
  * [[fold]]. The one exception is DedupStream's bands table: a
  * catalog-registered bucketed, sorted table written by `insertInto`,
  * which keeps its own purge loop.
  * The family's other shared decisions live here too: the file-source
  * stream ([[fileStream]]), the ±op liveness rule ([[liveAfterDeletes]]),
  * freshest-row precedence ([[freshestPerKey]]) and the layout columns
  * ([[Bucket]], [[Carried]]).
  *
  * ATOMICITY (round 10): the round-9 fold wrote the staging generation
  * into the live root and only then deleted its sources — any reader in
  * that window saw BOTH and, for SUM-semantics stores (TriangleStream's
  * ±1 edge deltas and per-part count deltas), double-counted; a crash
  * between the write and the deletes left the store permanently folding
  * staging plus sources into a doubled next generation. Freshest-row and
  * distinct-fold stores tolerated the overlap (row_number/distinct pick
  * one); the sum stores made it load-bearing. The fix is a per-generation
  * COVER MANIFEST making the switch a single atomic file rename:
  *
  *   1. the staged fold is written to a temp SIBLING of the root and
  *      renamed in as `batch=<stagingId>` — readers IGNORE a negative
  *      generation with no manifest, so the half-landed generation is
  *      invisible;
  *   2. `_cover_<g>` (underscore-prefixed — invisible to parquet
  *      listings) is renamed into place, naming every source batch the
  *      generation folded. From this instant — one atomic rename —
  *      readers see the generation AND exclude its covered sources;
  *   3. the covered source directories (and folded-away older
  *      generations' manifests) are deleted, purely as space/listing
  *      reclamation: they were already invisible after step 2.
  *
  * A crash anywhere leaves a state the next [[fold]] repairs in its
  * cleanup pass (delete stale temps, finish interrupted deletions, drop
  * unmanifested generations — their rows still live in their sources)
  * and that [[read]] already serves correctly. Every reader of a folded
  * store must go through [[read]] — the graph stores, the ANN index and
  * live/dead stores, the SemDedup pairs and the dedup shingles and
  * removed stores all do; a raw `spark.read.parquet` over the root would
  * double-count exactly the windows the manifest closes.
  *
  * The staged generation always contains at least one real parquet file
  * (an empty fold result is written through a single reserved task, whose
  * writer creates its file eagerly), so a store whose entire content
  * folds to nothing still has a readable schema — the "all-_SUCCESS root
  * wedges later reads" failure cannot be produced by compaction.
  *
  * One compactor at a time (the documented single-maintainer contract of
  * every caller); ingest is unaffected — live batches touch only their
  * own non-negative ids.
  */
private[graft] object Stores {

  private def fsOf(s: SparkSession, root: Path): FileSystem =
    FileSystem.get(root.toUri, s.sparkContext.hadoopConfiguration)

  /** `batch=<id>` partition ids under a store side; empty when the root
    * is absent or holds none. Shared by the delta maintainers' guarded
    * reads (a side that has only ever seen the other op must serve empty,
    * never throw on parquet's cannot-infer-schema). */
  def batchIdsUnder(s: SparkSession, path: String): Array[Long] = {
    val p = new Path(path)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
  }

  /** Total on-disk bytes under a store side (0 when absent). One
    * metadata round-trip; used to size-gate broadcast hints on stores
    * whose volume is workload-dependent (e.g. tombstones between
    * compaction sweeps), where an unconditional hint would force a
    * driver collect of an arbitrarily large side. FAILS CLOSED: when the
    * size cannot be determined (an I/O error, not absence), returns
    * Long.MaxValue so a gate reading it skips the hint and the planner
    * decides — the earlier catch-all-return-0 read a filesystem error as
    * "tiny store" and broadcast unconditionally, the exact failure the
    * gate exists to prevent. ANY non-fatal failure degrades the same way
    * (exotic FileSystem implementations surface sizing errors as
    * RuntimeExceptions, not just IOException — the gate's intent is that
    * sizing failures degrade the optimization, never the read); fatal
    * errors (OutOfMemoryError etc.) propagate. */
  def bytesUnder(s: SparkSession, path: String): Long =
    try {
      val p = new Path(path)
      val fs = fsOf(s, p)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** Bytes of `spark.sql.autoBroadcastJoinThreshold`'s value, honoring
    * the full b/k/m/g/t/p (± trailing b) suffix set Spark's byte-string
    * parser accepts; ≤ 0 means broadcasting is disabled and a gate must
    * not hint. Any string this parser cannot read — including an empty
    * value — returns −1 (no hint, planner decides): an unusual but
    * Spark-legal setting must degrade the OPTIMIZATION, never crash the
    * serve path reading it. */
  private[graft] def broadcastThresholdBytes(conf: String): Long =
    try {
      val t = conf.trim.stripSuffix("b").stripSuffix("B")
      val shift = t.takeRight(1).toLowerCase match {
        case "k" => 10 case "m" => 20 case "g" => 30
        case "t" => 40 case "p" => 50 case _ => 0
      }
      val digits = if (shift == 0) t else t.dropRight(1).trim
      digits.toLong << shift
    } catch { case _: NumberFormatException => -1L }

  /** Conservative hydration factor between compressed on-disk parquet
    * bytes and the in-memory plan-size estimates Spark's own threshold
    * governs: a broadcast hash relation is typically several times its
    * parquet footprint (decompression + row format + hash table), so the
    * gate compares bytes·4 against the threshold rather than raw bytes —
    * a store just under the threshold on disk must not hydrate past it. */
  private val HydrationFactor = 4L

  /** `df` hinted for broadcast iff the on-disk bytes under `path`, scaled
    * by [[HydrationFactor]], fit the session's broadcast threshold; `df`
    * unhinted (planner/AQE decides) otherwise or whenever the decision
    * cannot be made (unparseable threshold, unsizeable store — both fail
    * toward NOT hinting). Sound only when `df` never exceeds the store at
    * `path` (a filter/aggregate/projection of it). This is the one gate
    * for every broadcast of a store whose volume is workload-dependent —
    * tombstones between sweeps, retirement sets over a store's lifetime —
    * where an unconditional hint would force an arbitrarily large driver
    * collect years into a deployment. */
  def broadcastIfUnder(df: DataFrame, path: String): DataFrame = {
    val s = df.sparkSession
    val threshold = broadcastThresholdBytes(
      s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    if (threshold > 0 && bytesUnder(s, path) <= threshold / HydrationFactor)
      broadcast(df)
    else df
  }

  // ---------------------------------------------------------------------
  // Bucketed layout (round 11): restriction-first made per-batch SHUFFLE
  // volume delta-sized, but a restricted scan still LISTED AND READ the
  // whole store's files — the remaining linear-in-store term at 100 TB.
  // Stores are therefore partitioned `batch=<id>/<pb>=<bucket>/…` where
  // <pb> is a deterministic hash bucket of a restriction key; a
  // restricted read turns its (delta-sized) key set into ≤ nb bucket ids
  // and pushes them as a PARTITION filter, so planning prunes the
  // listing and scan to the touched buckets. Dual-keyed stores (labels:
  // node AND component) carry one bucket column per key and prune on
  // whichever the consumer restricts.
  //
  // SIZING — the scale-free part is the MECHANISM (shared hash,
  // partition filter, plan-asserted pruning), NOT the leaf-directory
  // count, which a deployment must budget explicitly: one batch writes
  // up to Π nb_i leaf directories (nb for a single-key store, nb² for a
  // dual-keyed one — the keys NEST). With B live batches between
  // compactions the store holds ≤ (B + generations) · Π nb_i leaf dirs,
  // so the listing bill is bounded by the COMPACTION CADENCE, and nb_i
  // must be sized jointly: hold Π nb_i at or below a leaf budget (a few
  // × the cluster's task count — e.g. dual keys at 32×32 ≈ 10³, NOT
  // 256×256 ≈ 65k, which multiplies into a small-files problem no
  // cadence repairs). A deployment needing hundreds of buckets on BOTH
  // keys of one store should split it into two single-key replicas (2×
  // storage, nb dirs each, same per-consumer pruning) instead of
  // squaring the leaf count. At the local test scale NumBuckets = 8
  // keeps Π nb_i ≤ 64. MAINTAB_r12 measures what the layout itself
  // costs per batch at bench scale (write repartition + extra leaf dirs
  // + per-read bucket-id action) against the flat r10 layout.
  // ---------------------------------------------------------------------

  /** One partition column of a store's layout below `batch=<id>`. */
  sealed trait LayoutCol { def pbCol: String }

  /** A hash-bucket column: `pbCol` is the partition directory column,
    * derived from `keyCol` via [[bucketId]]. */
  case class Bucket(pbCol: String, keyCol: String, nb: Int = NumBuckets)
      extends LayoutCol

  /** A partition column the rows already CARRY — no hash: the IVF
    * stores' `cell` is the assigned centroid, and probes prune on it
    * directly. Written, folded and guarded exactly like a [[Bucket]]
    * column; a zero-row generation keeps it in the directory name only. */
  case class Carried(pbCol: String) extends LayoutCol

  /** Buckets per key at local test scale (see the layout note above).
    * Overridable via `-Dgraft.stores.numBuckets=<n>` — the deployment
    * sizing knob. Read ONCE at class init and
    * process-lifetime by design: a store must be written and pruned
    * under ONE nb for pruning to be sound, so the knob must never change
    * between a store's writes and its reads within a JVM; across JVMs a
    * changed nb is a layout migration like any other (the bucket-id
    * VALUES shift even though the directory names don't, so fold through
    * the highest live batch under the new nb before appending). */
  val NumBuckets: Int =
    sys.props.get("graft.stores.numBuckets").map(_.toInt).getOrElse(8)

  /** THE bucket hash — write layout and read pruning must share it for
    * pruning to be sound. xxhash64 is deterministic across JVMs and
    * never null (a null key hashes to the seed's value — tombstone rows
    * land in a real bucket and are prunable like any other). */
  def bucketId(key: Column, nb: Int): Column =
    pmod(xxhash64(key), lit(nb.toLong)).cast("int")

  private def withBucketCols(df: DataFrame, buckets: Seq[LayoutCol]): DataFrame =
    buckets.foldLeft(df) {
      case (d, b: Bucket) => d.withColumn(b.pbCol, bucketId(col(b.keyCol), b.nb))
      case (d, _: Carried) => d
    }

  /** Write one micro-batch under `batch=<id>[/pb=<bucket>…]` with a
    * dynamic partition overwrite (the family's idempotent-replay
    * primitive) — THE per-batch write of every maintained store, so
    * every append passes the layout guard. Bucketed writes repartition
    * on the bucket columns first so each bucket is written by one task —
    * without it every task writes a sliver of every bucket and the file
    * count multiplies by the task count. */
  def writeBatch(df: DataFrame, batchId: Long, path: String,
      buckets: Seq[LayoutCol] = Nil): Unit = {
    requireLayoutMatches(df.sparkSession, new Path(path), buckets.map(_.pbCol), "writeBatch")
    val parts = "batch" +: buckets.map(_.pbCol)
    val withPb = withBucketCols(df, buckets).withColumn("batch", lit(batchId))
    val out =
      if (buckets.isEmpty) withPb
      else withPb.repartition(buckets.map(b => col(b.pbCol)): _*)
    out.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(path)
  }

  /** Bucket partition columns of EVERY existing batch directory of the
    * store — the distinct `k=v` directory-name chains under each
    * `batch=<id>` (Nil per flat batch; childless dirs contribute
    * nothing). Empty when the store is absent/empty. Checking ALL batch
    * dirs (round 13 — the round-12 version sampled one arbitrary dir)
    * means a root a crashed partial migration already left MIXED is
    * caught HERE, at the append/fold that would compound it, not at the
    * next read. Costs one child-chain walk per live batch dir per
    * append — bounded by the compaction cadence, within the family's
    * documented per-write listing envelope.
    *
    * Object-store note (S3-style semantics): each child-chain walk is a
    * LIST call per layout level, so an append against a store with B
    * live batch dirs and an L-deep bucket chain issues O(B·L) LIST
    * requests — on HDFS-like stores a cheap namenode RPC, on S3-like
    * stores a billed, ~tens-of-ms round trip each. At a production
    * cadence (compaction every few hundred batches, L ≤ 2) that is
    * hundreds of LISTs per append — acceptable for a maintenance write
    * but worth budgeting; a deployment that cannot afford it should
    * tighten compaction cadence (B is the knob) or front the store with
    * a listing cache, NOT disable the guard — the guard is what turns a
    * crashed half-migrated layout into a loud refusal instead of silent
    * wrong reads. */
  private def existingLayouts(fs: FileSystem, root: Path): Set[Seq[String]] = {
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap(st => layoutColsOf(fs, st.getPath))
      .toSet
  }

  /** The `k=v` directory-name chain under one batch directory (Nil for a
    * flat batch); None when empty (nothing to compare). */
  private def layoutColsOf(fs: FileSystem, batchDir: Path): Option[Seq[String]] = {
    var at = batchDir
    val cols = Seq.newBuilder[String]
    while (true) {
      val children = fs.listStatus(at)
      if (children.isEmpty) return None
      children.find(c => c.isDirectory && c.getPath.getName.contains("=")) match {
        case Some(c) =>
          cols += c.getPath.getName.takeWhile(_ != '=')
          at = c.getPath
        case None => return Some(cols.result())
      }
    }
    None
  }

  /** MIGRATION GUARD (round 12): appending under a layout that disagrees
    * with the store's existing batches — bucketed beside flat, or a
    * DIFFERENT bucket-column sequence (a single-key replica beside an
    * old dual-key batch) — makes parquet partition discovery throw
    * "Conflicting directory structures" on every subsequent read — AFTER
    * the append already landed. Fail the append loudly instead, with the
    * documented migration: fold the store through its HIGHEST live batch
    * id, passing the NEW layout's buckets ([[fold]] restages every
    * surviving row under the new layout), before the first append in
    * that layout. Costs a few listing RPCs per write — within the
    * family's existing per-read survey envelope. */
  private def requireLayoutMatches(s: SparkSession, root: Path,
      pbCols: Seq[String], who: String): Unit = {
    val layouts = existingLayouts(fsOf(s, root), root)
    if (layouts.size > 1) throw new IllegalStateException(
      s"$who($root): the store already MIXES batch layouts " +
        layouts.map(_.mkString("[", ",", "]")).mkString("{", " vs ", "}") +
        " — a crashed layout-migration fold left old-layout sources beside " +
        "its new-layout generation. Re-run the migration fold to completion " +
        "(its repair pass deletes the covered sources) before appending.")
    layouts.headOption.foreach { was =>
      if (was != pbCols) throw new IllegalStateException(
        s"$who($root): batch layout [${pbCols.mkString(",")}] conflicts with " +
          s"the store's existing [${was.mkString(",")}] — mixed directory " +
          "layouts wedge every subsequent partition discovery. Migrate first: " +
          "Stores.fold through the store's highest live batch id with the new " +
          "layout's buckets, then append.")
    }
  }

  /** The distinct bucket ids the restriction keys can live in — ≤ nb
    * values, one delta-sized single-stage driver action (collect_set
    * aggregates partially per partition; no distinct shuffle). The key
    * column is resolved BY NAME when the frame carries `b.keyCol`;
    * otherwise the frame must be a bare single-column key list (the
    * documented call-site shape). Anything else fails loudly HERE,
    * because hashing the wrong column would make pruning silently DROP
    * files holding needed rows — wrong results, not an error (the
    * round-11 review's positional-hash risk). */
  private def bucketIdsOf(keys: DataFrame, b: Bucket): Seq[Int] = {
    val k =
      if (keys.columns.contains(b.keyCol)) col(b.keyCol)
      else {
        require(keys.columns.length == 1,
          s"bucket pruning on '${b.keyCol}': restriction frame has columns " +
            s"[${keys.columns.mkString(", ")}] — pass the key column by name " +
            "or a single-column key list")
        col(keys.columns.head)
      }
    keys.select(collect_set(bucketId(k, b.nb)).as("pbs")).head()
      .getSeq[Int](0).toSeq
  }

  /** Prune an ALREADY-RESOLVED store frame to the buckets the
    * restriction `keys` can live in — [[readPruned]]'s filter half, for
    * callers that resolve ONE frame per batch and restrict it per round
    * (the SSSP relaxation loops): the frame's file index is listed once,
    * and each round's bucket-id set still reaches the scan as a
    * PARTITION filter at that action's planning. A frame without the
    * bucket column (a legacy layout, or a spec's hand-built fixture)
    * falls back unfiltered. */
  def pruneTo(df: DataFrame, b: Bucket, keys: DataFrame): DataFrame =
    if (!df.columns.contains(b.pbCol)) df
    else {
      val ids = bucketIdsOf(keys, b)
      // a restriction touching EVERY bucket prunes nothing — skip the
      // filter so planning doesn't carry a vacuous IN over the store
      if (ids.size >= b.nb) df
      else df.filter(col(b.pbCol).isInCollection(ids))
    }

  /** [[read]] pruned to the buckets the restriction `keys` can live in:
    * the bucket ids become a PARTITION filter, so the scan lists and
    * reads only the touched buckets' files — the file-footprint half of
    * restriction-first (round 10 landed the shuffle half; the caller's
    * semi-join still applies, pruning is a superset filter). A store
    * without the bucket column (a legacy layout, or a spec's hand-built
    * fixture) falls back to the unpruned read. */
  def readPruned(s: SparkSession, path: String, b: Bucket,
      keys: DataFrame): DataFrame =
    pruneTo(read(s, path), b, keys)

  /** Store-root existence probe (scheme-qualified paths work). */
  def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---------------------------------------------------------------------
  // Dual SINGLE-KEY replicas (round 12): a relation probed by TWO
  // restriction keys used to nest both bucket columns in one store — up
  // to nb² leaf directories per batch, which MAINTAB_r12 priced at
  // 1.46–1.64× of the flat lane total (write-side dominated, NOT
  // amortizing with SF). The structural fix is the standard index-replica
  // trade: write the relation TWICE, each copy bucketed on ONE key (2·nb
  // linear leaf dirs), and point each consumer at the replica keyed by
  // ITS restriction. The helpers below are the shared write/compact
  // halves TriangleStream, SsspDeltaStream and CcStream each hand-rolled
  // first (three already-diverging copies of the seed rule was the same
  // rot path the fold unification closed in round 9).
  // ---------------------------------------------------------------------

  /** Write one micro-batch into EVERY replica of a dual single-key
    * replica relation — one [[writeBatch]] per copy, each bucketed on its
    * own key. Pass a MATERIALIZED frame (localCheckpoint/cache): the plan
    * executes once per replica.
    *
    * HALF-MIGRATED-STATE GUARD (round 13, review finding): a crash in
    * [[compactReplicas]] between the primary's fold and the seed write
    * leaves a replica root ABSENT while the primary holds folded history
    * — an append here would then CREATE the replica containing only this
    * batch, and existence-based consumer routing would silently serve it
    * missing every folded row (wrong results, not an error — the layout
    * guards can't catch it because each root's layout is internally
    * consistent). So: a non-primary replica that is absent while the
    * primary holds ANY rows below `batchId` fails the append loudly with
    * the repair (re-run the store's compact — [[compactReplicas]] seeds
    * absent replicas). The legitimate absent-replica states pass: a
    * fresh store (primary absent too), redelivery of the crashed FIRST
    * batch (primary holds only `batch = batchId`, rewritten by this
    * replay), and a primary whose content folded to zero rows (nothing
    * to miss — this append correctly starts the replica). Costs one
    * existence probe per non-primary replica per batch; the emptiness
    * read runs only in the rare absent-replica case. */
  def writeReplicaBatch(df: DataFrame, batchId: Long, storeDir: String,
      replicas: Seq[(String, Bucket)]): Unit = {
    val s = df.sparkSession
    val primary = s"$storeDir/${replicas.head._1}"
    if (exists(s, primary)) {
      val missing = replicas.tail.collect {
        case (sub, _) if !exists(s, s"$storeDir/$sub") => sub }
      if (missing.nonEmpty &&
          !read(s, primary).filter(col("batch") < batchId).isEmpty)
        throw new IllegalStateException(
          s"writeReplicaBatch($storeDir): replica(s) ${missing.mkString(", ")} " +
            s"absent while the primary '${replicas.head._1}' holds history below " +
            s"batch $batchId — appending would create a replica missing every " +
            "folded/prior row, which existence-based consumer routing would then " +
            "silently serve. A crashed compactReplicas left the seed unwritten: " +
            "re-run the store's compact() to completion (it seeds absent " +
            "replicas from the primary's folded rows), then resume ingest.")
    }
    replicas.foreach { case (sub, b) =>
      writeBatch(df, batchId, s"$storeDir/$sub", Seq(b)) }
  }

  /** Compact a dual single-key replica relation: [[fold]] EACH replica
    * under its own key's layout with the same `stage` semantics, then
    * SEED every replica still absent — a store predating the replica
    * split — from the FIRST listed replica's folded surviving rows ≤
    * `throughBatch`, written at id = `throughBatch`. Every prefix read
    * (`batch < upTo` with `upTo > throughBatch`) then sees exactly the
    * primary's folded content, while a crashed in-flight batch >
    * `throughBatch` is excluded (its redelivery rewrites all replicas).
    * `stage` must be IDEMPOTENT (stage ∘ stage = stage): the seed path
    * re-applies it to already-folded rows — the family's liveness
    * resolutions and freshest-row folds all are. An empty seed writes
    * nothing (a zero-partition overwrite would wedge the root); the
    * replica stays absent and reads keep falling back to the primary —
    * consistent either way. CRASH WINDOW: a death between the primary's
    * fold and a seed write leaves the replica absent while the primary
    * holds folded history — [[writeReplicaBatch]]'s half-migrated-state
    * guard refuses the next append in that state (re-running this
    * compact writes the seed and repairs it), so the window can no
    * longer produce a silently incomplete replica. */
  def compactReplicas(s: SparkSession, storeDir: String,
      replicas: Seq[(String, Bucket)], throughBatch: Long)(
      stage: DataFrame => DataFrame): Unit = {
    replicas.foreach { case (sub, b) =>
      fold(s, s"$storeDir/$sub", throughBatch, Seq(b))(stage) }
    val primary = s"$storeDir/${replicas.head._1}"
    if (!exists(s, primary)) return
    replicas.tail.foreach { case (sub, b) =>
      if (!exists(s, s"$storeDir/$sub")) {
        val rows = stage(read(s, primary).filter(col("batch") <= throughBatch))
          .cache()
        if (!rows.isEmpty)
          writeBatch(rows, throughBatch, s"$storeDir/$sub", Seq(b))
        rows.unpersist(blocking = false)
      }
    }
  }

  /** THE family's freshest-row precedence, in one place (the round-10
    * review counted eleven hand-rolled copies of this window across the
    * streams — the exact rot path the round-9 fold dedup closed for
    * compaction): live batches (non-negative ids) outrank compacted
    * generations; among generations the newest — most negative — wins
    * (a generation summarizes everything folded before it). Keeps every
    * input column; callers project after. */
  def freshestPerKey(df: DataFrame, keyCol: String): DataFrame =
    freshestPerKey(df, Seq(keyCol))

  /** Composite-key variant — [[TrussStream]]'s EDGE-keyed results store
    * needs the same precedence over (a, b). */
  def freshestPerKey(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((col("batch") >= 0).desc, abs(col("batch")).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** `df` with a guaranteed ±op column: a store written before its
    * maintainer's ±op era carries none — those rows are all inserts.
    * A missing column is defaulted to +1; a present-but-null op (a
    * schema-merged read over mixed generations) likewise — without the
    * default, an `op === 1` liveness filter silently drops every legacy
    * row. MIGRATION CONTRACT: a legacy store must be [[fold]]-compacted
    * ONCE before ±op batches are appended (the fold stage normalizes
    * every surviving row to +1) — parquet's sampled-schema read over a
    * root mixing op-less and op-bearing files is otherwise ambiguous
    * about which files keep their op values. CcDeltaSpec pins the
    * compact-then-± path. */
  def withOpDefault(df: DataFrame): DataFrame =
    if (!df.columns.contains("op")) df.withColumn("op", lit(1))
    else df.withColumn("op", coalesce(col("op"), lit(1)))

  /** THE family's ±op liveness rule: per `key`, the latest insert batch
    * (grouped by `key ++ payload`) must reach the key's latest delete
    * batch (grouped by `key` alone — a delete kills every payload), the
    * insert winning same-batch ties (a batch's deletes apply before its
    * inserts). Folded generations carry only +1 rows at negative ids, so
    * a later live delete still outranks them. Restriction by any subset
    * of `key` commutes with the resolution. `rows` carries `op` and
    * `batch`; returns `key ++ payload`. */
  def liveAfterDeletes(rows: DataFrame, key: Seq[String],
      payload: Seq[String] = Nil): DataFrame = {
    val del = rows.filter(col("op") === -1)
      .groupBy(key.map(col): _*).agg(max(col("batch")).as("bd"))
    rows.filter(col("op") === 1)
      .groupBy((key ++ payload).map(col): _*).agg(max(col("batch")).as("bi"))
      .join(del, key, "left")
      .filter(col("bd").isNull || col("bi") >= col("bd"))
      .select((key ++ payload).map(col): _*)
  }

  /** THE family's file-source stream: one micro-batch per arriving
    * parquet file of `inDir` (`maxFilesPerTrigger = 1` keeps batches
    * file-sized), each handed to `process` with its batch id. The
    * checkpoint lives beside the store (`<storeDir>.ckpt`) and is as
    * durable as it: a fresh checkpoint restarts ids at 0 and re-delivers
    * EVERY file — a full recompute at best, and after a compaction a
    * re-creation of already-folded batches. Resuming the id sequence keeps
    * restarts incremental. `process` owns the empty-batch guard (every
    * `processBatch` returns early on one). */
  def fileStream(s: SparkSession, schema: StructType, inDir: String,
      storeDir: String, trigger: Trigger)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", s"$storeDir.ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) => process(batch, batchId) }
      .trigger(trigger)
      .start()

  private case class Survey(present: Set[Long], validGens: Set[Long],
      covered: Set[Long], staleManifests: Seq[Path], tmps: Seq[Path])

  /** One listing of the store root: batch directories, manifested
    * (= visible) negative generations, the union of their covered source
    * ids, plus the debris a crashed fold can leave.
    *
    * A reader overlapping the single compactor can list a manifest that
    * the fold's reclamation step deletes before the reader opens it —
    * the listing is then stale in a way a fresh one repairs, so the open
    * retries the whole survey (bounded) instead of failing the read.
    * (The manifest rename itself is the atomic visibility switch; this
    * retry only covers the post-switch CLEANUP racing a reader's two
    * non-atomic metadata calls. The data-file window — a reader's
    * resolved file index racing source-directory deletion at action time
    * — is governed by the same single-owner serving contract every
    * maintained store documents for compaction.) */
  private def survey(fs: FileSystem, root: Path): Survey = {
    var attempt = 0
    while (true) {
      try {
        val entries = fs.listStatus(root)
        val present = entries.filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).toSet
        val manifests = entries.filter(!_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith("_cover_"))
          .map(p => (p, -p.getName.stripPrefix("_cover_").toLong))
        val (valid, stale) = manifests.partition { case (_, gen) => present(gen) }
        val covered = valid.flatMap { case (p, _) =>
          val in = fs.open(p)
          val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          body.split(",").filter(_.nonEmpty).map(_.trim.toLong)
        }.toSet
        val tmps = entries.filter(!_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith("_tmpcover_"))
        return Survey(present, valid.map(_._2).toSet, covered,
          stale.map(_._1).toSeq, tmps.toSeq)
      } catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Live batch ids of the store: present directories minus sources
    * covered by a manifested generation; negative ids count only when
    * manifested (an unmanifested generation is a crashed fold's
    * half-landed write — its rows still live in its sources). */
  private def liveBatches(fs: FileSystem, root: Path): Set[Long] = {
    val st = survey(fs, root)
    st.present.filter(b => !st.covered(b) && (b >= 0 || st.validGens(b)))
  }

  /** The store's rows at its live batch set — the one sanctioned read
    * path over a folded store (see the atomicity note above). The caller
    * is responsible for the root's existence (every caller already
    * guards with its typed-empty-frame fallback). */
  def read(s: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val live = liveBatches(fsOf(s, root), root)
    s.read.parquet(path).filter(col("batch").isInCollection(live))
  }

  /** Fold batches ≤ `throughBatch` (plus prior generations) of the
    * batch-partitioned store at `path` into one fresh manifested negative
    * generation, staging the rows through `stage` (whose output must NOT
    * carry the `batch` or [[Bucket]] columns — the generation directories
    * supply them — but MUST carry every [[Carried]] column; pass the
    * store's layout so the generation keeps it and stays prunable). No-op
    * if the store was never created. */
  def fold(s: SparkSession, path: String, throughBatch: Long,
      buckets: Seq[LayoutCol] = Nil)(
      stage: DataFrame => DataFrame): Unit = {
    val root = new Path(path)
    val fs = fsOf(s, root)
    if (!fs.exists(root)) return

    // repair pass: finish whatever a crashed fold left behind
    val parent = root.getParent
    fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(root.getName + ".foldtmp-"))
      .foreach(p => fs.delete(p, true))
    val st0 = survey(fs, root)
    st0.tmps.foreach(p => fs.delete(p, false))
    st0.staleManifests.foreach(p => fs.delete(p, false))
    st0.present.filter(st0.covered).foreach { b =>
      fs.delete(new Path(root, s"batch=$b"), true)
      if (b < 0) fs.delete(new Path(root, s"_cover_${-b}"), false)
    }
    st0.present.filter(b => b < 0 && !st0.validGens(b))
      .foreach(b => fs.delete(new Path(root, s"batch=$b"), true))

    val live = liveBatches(fs, root)
    val sources = live.filter(b => b < 0 || b <= throughBatch)
    if (sources.isEmpty) return
    // mixed-layout guard, fold half (round 12): staging a generation in
    // one layout beside live batches > throughBatch in the OTHER yields
    // the same wedged mixed-depth root a conflicting append would — a
    // layout MIGRATION must fold through the store's highest live batch.
    // (Migration crash window: between the manifest rename and the source
    // deletions below, the root briefly MIXES depths — a crash there
    // wedges read() until the next fold's repair pass deletes the covered
    // sources. Same single-owner compaction contract as ever: re-run the
    // migration fold to completion before serving.)
    val leftover = live -- sources
    // every leftover dir is checked (round 13 — sampling leftover.head
    // let a root already mixed by a crashed partial migration stage yet
    // another layout beside it); deterministic order for a stable message
    leftover.toSeq.sorted.foreach { lb =>
      layoutColsOf(fs, new Path(root, s"batch=$lb")).foreach { was =>
        if (was != buckets.map(_.pbCol)) throw new IllegalStateException(
          s"fold($root): staging a [${buckets.map(_.pbCol).mkString(",")}] generation " +
            s"beside [${was.mkString(",")}] live batch $lb of " +
            s"${leftover.toSeq.sorted.mkString("{", ",", "}")} would mix directory " +
            "layouts and wedge partition discovery. A layout migration must fold " +
            "through the store's HIGHEST live batch id.")
      }
    }
    val stagingId = live.filter(_ < 0).minOption.getOrElse(0L) - 1L

    val src = s.read.parquet(path).filter(col("batch").isInCollection(sources))
    val staged = stage(src).localCheckpoint()
    val tmp = new Path(parent,
      root.getName + ".foldtmp-" + java.util.UUID.randomUUID().toString.take(8))
    if (staged.isEmpty) {
      // a single reserved task creates its parquet file eagerly even with
      // zero rows, keeping the generation's schema readable; bucketed
      // layouts write it under an all-zeros bucket path so partition
      // discovery keeps one consistent directory depth (a carried column
      // lives in that path, not in the file)
      val leaf =
        if (buckets.isEmpty) tmp
        else new Path(tmp, buckets.map(b => s"${b.pbCol}=0").mkString("/"))
      staged.drop(buckets.collect { case c: Carried => c.pbCol }: _*)
        .repartition(1).write.mode(SaveMode.Overwrite).parquet(leaf.toString)
    } else if (buckets.isEmpty) {
      staged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    } else {
      withBucketCols(staged, buckets)
        .repartition(buckets.map(b => col(b.pbCol)): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(buckets.map(_.pbCol): _*)
        .parquet(tmp.toString)
    }
    if (!fs.rename(tmp, new Path(root, s"batch=$stagingId")))
      throw new java.io.IOException(s"fold: rename $tmp -> batch=$stagingId failed")

    val manifestTmp = new Path(root, s"_tmpcover_${-stagingId}")
    val o = fs.create(manifestTmp, true)
    try o.write(sources.toSeq.sorted.mkString(",").getBytes("UTF-8"))
    finally o.close()
    if (!fs.rename(manifestTmp, new Path(root, s"_cover_${-stagingId}")))
      throw new java.io.IOException(s"fold: manifest rename failed for $path")

    sources.foreach { b =>
      fs.delete(new Path(root, s"batch=$b"), true)
      if (b < 0) fs.delete(new Path(root, s"_cover_${-b}"), false)
    }
  }
}
