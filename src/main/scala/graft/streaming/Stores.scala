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
  * ONE LAYOUT PER STORE: every reader reads exactly the layout its writer
  * writes. A pruned read over a frame without its bucket column, or a
  * consumer whose replica root is absent, fails loudly instead of
  * serving some other layout's rows; an op-less INPUT batch is all
  * inserts ([[withOpDefault]]), but every stored row carries its op.
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
  // listing and scan to the touched buckets. A relation probed by two
  // keys is kept as two single-key replicas (see the replica note below).
  //
  // SIZING — the scale-free part is the MECHANISM (shared hash,
  // partition filter, plan-asserted pruning), NOT the leaf-directory
  // count, which a deployment must budget explicitly: one batch writes
  // up to nb leaf directories per store, and with B live batches between
  // compactions a store holds ≤ (B + generations) · nb leaf dirs, so the
  // listing bill is bounded by the COMPACTION CADENCE. At the local test
  // scale NumBuckets = 8. MAINTAB_r12 measures what the layout itself
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
    * bucket column is not the store its writer wrote — it fails loudly,
    * whatever `keys` holds. */
  def pruneTo(df: DataFrame, b: Bucket, keys: DataFrame): DataFrame = {
    require(df.columns.contains(b.pbCol),
      s"bucket pruning on '${b.pbCol}': the store frame has no '${b.pbCol}' " +
        s"column (columns [${df.columns.mkString(", ")}]) — it was not written " +
        s"bucketed on '${b.keyCol}'; rebuild the store from its input")
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
    * semi-join still applies, pruning is a superset filter). */
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
  // halves of TriangleStream, SsspDeltaStream and CcStream.
  // ---------------------------------------------------------------------

  /** Write one micro-batch into EVERY replica of a dual single-key
    * replica relation — one [[writeBatch]] per copy, each bucketed on its
    * own key. Pass a MATERIALIZED frame (localCheckpoint/cache): the plan
    * executes once per replica.
    *
    * The primary (`replicas.head`) is written LAST. Every consumer gates
    * its replica reads on the primary's existence, so a crash between
    * the writes leaves either a store whose primary is still absent
    * (redelivery treats it as fresh) or one whose replicas already hold
    * the crashed batch (every in-batch read is prefix-bounded or
    * over-approximating, and redelivery rewrites the batch in every
    * copy). A present primary therefore implies present replicas.
    *
    * ABSENT-REPLICA GUARD (round 13): a non-primary replica root that is
    * absent while the primary holds rows below `batchId` was removed by
    * something outside the maintainer. An append there would CREATE the
    * replica holding only this batch, and its consumer would silently
    * serve it missing every earlier row (the layout guards cannot catch
    * it: each root's layout is internally consistent). So that state
    * fails the append loudly; the store must be rebuilt from its input.
    * An append that cannot create a short replica passes: a fresh store
    * (primary absent too), a primary holding no row below `batchId`, or
    * one whose content folded to zero rows. Costs one existence probe per
    * non-primary replica per batch; the emptiness read runs only in the
    * rare absent-replica case. */
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
            s"batch $batchId — the maintainer always writes every replica, so the " +
            "store was changed outside it, and appending would create a replica " +
            "missing every prior row. Rebuild the store from its input.")
    }
    (replicas.tail :+ replicas.head).foreach { case (sub, b) =>
      writeBatch(df, batchId, s"$storeDir/$sub", Seq(b)) }
  }

  /** Compact a dual single-key replica relation: [[fold]] EACH replica
    * under its own key's layout with the same `stage` semantics. */
  def compactReplicas(s: SparkSession, storeDir: String,
      replicas: Seq[(String, Bucket)], throughBatch: Long)(
      stage: DataFrame => DataFrame): Unit =
    replicas.foreach { case (sub, b) =>
      fold(s, s"$storeDir/$sub", throughBatch, Seq(b))(stage) }

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

  /** An input batch with a guaranteed ±op column: a batch with no `op`
    * column is all inserts, and so is a row whose `op` is null (a
    * file-source read makes every column nullable). */
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
          // an absent root is no listing race: fail at once, saying what
          // the absence means for a maintained store
          if (!fs.exists(root))
            throw new java.io.FileNotFoundException(s"no store at $root (a " +
              "replica is written before its primary, so one absent beside " +
              "its primary was removed outside the maintainer: rebuild the " +
              "store from its input)")
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
    * path over a folded store (see the atomicity note above). An absent
    * root fails: a caller serving a never-written store guards its
    * primary with a typed empty frame, and reads a replica only once its
    * primary exists, which [[writeReplicaBatch]]'s primary-last order
    * makes imply the replica exists. */
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
