package graft.streaming

import graft.GQuery
import graft.operators.{GraphQueries, Similarity, TemporalJoins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated STREAM-SERVES-BATCH queries: each registered query here
  * ingests a fixture through one of the maintained-store streaming
  * monitors (multi-batch, out-of-order where the semantics care), runs a
  * mid-stream [[FunnelStream.compact]]/[[AnnStream.compact]] so the served
  * store mixes a compacted generation with live batches, and then SERVES
  * the result through the store's read path — compared by the driver
  * against the SAME DuckDB oracle as the batch formulation.
  *
  * This closes the gap the round-6 verdict named: AnnStream / FunnelStream
  * equivalence to batch was pinned by ScalaTest only; here the full
  * ingest → compact → serve path earns a CORRECTNESS row per round,
  * exactly as q36/q37/q54 do for the stateless streaming operators.
  *
  * Mostly not in the bench set: full-pipeline timings would measure
  * stream start-up and temp-dir I/O, not an operator; the serving-path
  * costs are already benched through q28/q82. The EXCEPTIONS are the
  * deletion maintainers q110/q112 (round 15), whose liveness-resolved
  * serve paths exist nowhere else — their bench rows reuse a
  * once-per-session store (see `benchStores`) so warm passes time only
  * the serve.
  */
object StreamServe {

  // ONE static shutdown hook draining a queue of temp roots: repeated
  // invocations in a long session enqueue paths instead of accumulating
  // one JVM hook each (hook count is constant; StreamServeHookSpec pins it)
  private[graft] val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  // observable pin for the one-hook contract (StreamServeHookSpec)
  private[graft] val hookRegistrations =
    new java.util.concurrent.atomic.AtomicInteger(0)
  locally {
    hookRegistrations.incrementAndGet()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = tempRoots.poll()
      while (d != null) {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
        d = tempRoots.poll()
      }
    }))
  }

  /** Fresh per-invocation working directory, reclaimed at JVM exit (the
    * Similarity.ivfIndex temp-store pattern). */
  private[graft] def tempRoot(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(d)
    d.toString
  }

  /** Write each slice as ONE parquet file `<inDir>/<prefix>_<i>.parquet`
    * so `maxFilesPerTrigger=1` turns every slice into its own micro-batch
    * (the FunnelStreamSpec harness shape). Slices are written in sequence,
    * so the file source's (mtime, path) order delivers them in slice
    * order. */
  private def writeSlices(inDir: String, prefix: String, slices: Seq[DataFrame]): Unit = {
    new java.io.File(inDir).mkdirs()
    slices.zipWithIndex.foreach { case (sl, i) =>
      val tmp = s"$inDir/.slice_$i"
      sl.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/${prefix}_$i.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  /** q88 — the q82 funnel SERVED FROM the [[FunnelStream]]-maintained
    * store: events split at the median timestamp and delivered LATEST
    * HALF FIRST (the out-of-order arrival that re-anchors every spanning
    * user's first-view deadline — the case a fold-based maintenance
    * design gets wrong), then the first batch compacted into a negative
    * generation while the second stays live, then served via
    * [[FunnelStream.snapshot]]. Oracle: q82's batch SQL verbatim — the
    * snapshot must equal the batch funnel exactly. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("funnelserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val e = graft.Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts_us").cache()
    val mid = e.agg(expr("percentile_approx(ts_us, 0.5)")).head.getLong(0)
    writeSlices(inDir, "ev", Seq(e.filter($"ts_us" > mid), e.filter($"ts_us" <= mid)))
    FunnelStream.start(s, inDir, storeDir).awaitTermination()
    e.unpersist()
    // fold batch 0 into generation -1; batch 1 stays live — the snapshot
    // must reconcile a compacted generation with a fresher live batch
    FunnelStream.compact(s, storeDir, throughBatch = 0L)
    FunnelStream.snapshot(s, storeDir).orderBy($"user_id")
  }

  /** q89 — q28's ANN retrieval SERVED FROM an [[AnnStream]]-built index:
    * the corpus arrives in three interleaved micro-batches (vec_id mod 3
    * — every cell receives vectors in every batch), assigned against the
    * same frozen trained codebook q28 uses, the first two batches
    * compacted into a consolidated generation with the third left live,
    * then probed through the identical serving path
    * ([[AnnStream.serveTopK]]). Frozen codebook ⇒ the streamed index
    * holds exactly the batch index's (vec_id, cell) assignments, so q28's
    * oracle applies unchanged. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("annserve")
    val (inDir, indexDir) = (s"$root/in", s"$root/index")
    val cents = Similarity.trainedCentroids(s, dir)
    val emb = Similarity.embeddings(s, dir)
    writeSlices(inDir, "vecs", Seq(
      emb.filter($"vec_id" % 3 === 0),
      emb.filter($"vec_id" % 3 === 1),
      emb.filter($"vec_id" % 3 === 2)))
    AnnStream.start(s, inDir, indexDir, cents).awaitTermination()
    // fold batches 0 and 1 into generation -1; batch 2 stays live — the
    // probe scans a mixed generation/live layout
    AnnStream.compact(s, indexDir, throughBatch = 1L)
    AnnStream.serveTopK(s, dir, indexDir, cents)
  }

  /** q92 — the EXACT component of the [[KllStream]] state served across
    * TWO query lifetimes: events (event_type, value) split at the median
    * timestamp, the first half drained by one start(), the second half
    * arriving only after a RESTART over the same state/source dirs. The
    * oracle (per-group COUNT over all events) is satisfiable only if the
    * durable-checkpoint contract holds: a fresh temp checkpoint on the
    * second lifetime would re-list the first file at batch 0 ≤ the
    * persisted high-water mark and the replay guard would DROP the new
    * data (halved counts); re-folding would double them. The approximate
    * quantile estimates ride along spec-gated (KllStreamSpec's rank-error
    * bound) — only the exact-count contract is SQL-expressible. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("kllserve")
    val (inDir, stateDir) = (s"$root/in", s"$root/state")
    val e = graft.Tables.events(s, dir)
      .select($"event_type".as("grp"), $"value".cast("double").as("value"), $"ts_us")
      .cache()
    val mid = e.agg(expr("percentile_approx(ts_us, 0.5)")).head.getLong(0)
    writeSlices(inDir, "m", Seq(e.filter($"ts_us" <= mid).drop("ts_us")))
    KllStream.start(s, inDir, stateDir).awaitTermination()
    // second lifetime: the late half arrives only now — a restarted query
    // must resume the batch-id sequence to fold it exactly once
    writeSlices(inDir, "late", Seq(e.filter($"ts_us" > mid).drop("ts_us")))
    e.unpersist()
    KllStream.start(s, inDir, stateDir).awaitTermination()
    KllStream.estimates(s, stateDir)
      .select(col("grp"), col("n"))
      .orderBy(col("grp"))
  }

  private val q92Sql =
    """SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY grp""".stripMargin

  /** q93 — q80's connected components SERVED FROM the [[CcStream]]-
    * maintained label store: the sparse part⟷supplier pairs arrive in
    * three micro-batches SLICED BY SUPPLIER, so a part whose suppliers
    * land in different batches exists as separate provisional components
    * until the merging batch arrives — the cross-batch component-merge
    * path (the reason labels are not a monoid) is load-bearing, not
    * incidental. Batches 0–1 are compacted into a negative generation
    * with batch 2 live before serving. Oracle: q80's batch SQL verbatim
    * — the final snapshot must equal the from-scratch min-label result
    * exactly. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("ccserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select(($"l_partkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
      .distinct().cache()
    writeSlices(inDir, "edges", Seq(
      pairs.filter(expr("(dst div 2) % 3 = 0")),
      pairs.filter(expr("(dst div 2) % 3 = 1")),
      pairs.filter(expr("(dst div 2) % 3 = 2"))))
    CcStream.start(s, inDir, storeDir).awaitTermination()
    pairs.unpersist()
    CcStream.compact(s, storeDir, throughBatch = 1L)
    CcStream.snapshot(s, storeDir).orderBy($"node")
  }

  /** q94 — q79's bounded-cost distance table SERVED FROM the
    * [[SsspStream]]-maintained store: the weighted part⟷supplier pairs
    * arrive in three micro-batches SLICED BY SUPPLIER, so later batches
    * carry edges that SHORTEN distances already served after earlier
    * ones — the monotone-maintenance path (incremental relaxation, no
    * recompute) is load-bearing. Batches 0–1 compacted, batch 2 live.
    * Oracle: q79's bounded path-enumeration SQL verbatim. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("ssspserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
      .select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"),
        (lit(1L) + ($"p" * 3 + $"su" * 5) % 7).as("w"))
      .cache()
    val source = 2L * graft.Tables.t(s, dir, "lineitem")
      .agg(min($"l_suppkey".cast("long"))).head().getLong(0) + 1L
    writeSlices(inDir, "edges", Seq(
      pairs.filter(expr("(dst div 2) % 3 = 0")),
      pairs.filter(expr("(dst div 2) % 3 = 1")),
      pairs.filter(expr("(dst div 2) % 3 = 2"))))
    SsspStream.start(s, inDir, storeDir, source, GraphQueries.ScaleSsspBudget)
      .awaitTermination()
    pairs.unpersist()
    SsspStream.compact(s, storeDir, throughBatch = 1L)
    SsspStream.snapshot(s, storeDir).orderBy($"node")
  }

  /** q96 — q83's per-part triangle counts SERVED FROM the
    * [[TriangleStream]]-maintained count store: the distinct
    * part⟷supplier pairs arrive in three micro-batches SLICED BY
    * SUPPLIER, so a triangle whose three projected edges are witnessed
    * by suppliers in different batches closes only when the last edge
    * arrives — the cross-batch wedge-closure path (the reason counts are
    * maintained as per-batch deltas over an edge-delta store) is
    * load-bearing. Batches 0–1 compacted into a negative generation,
    * batch 2 live. Oracle: q83's batch SQL verbatim. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("triserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct().cache()
    writeSlices(inDir, "pairs", Seq(
      pairs.filter($"su" % 3 === 0),
      pairs.filter($"su" % 3 === 1),
      pairs.filter($"su" % 3 === 2)))
    TriangleStream.start(s, inDir, storeDir).awaitTermination()
    pairs.unpersist()
    TriangleStream.compact(s, storeDir, throughBatch = 1L)
    TriangleStream.snapshot(s, storeDir).orderBy($"part")
  }

  /** q97 — the APPROXIMATE component of the [[KllStream]] state, served
    * as a TOLERANCE-GATED oracle row (VERDICT r8 directive 3): q92 gates
    * the exact counts; this gates the quantile ESTIMATES. An estimate's
    * value cannot be hash-compared (the compacting sketch's survivor set
    * is merge-order-dependent by design), but its RANK CONTRACT can: for
    * each (group, φ) the served estimate's possible-rank interval
    * [rank_<, rank_≤] — computed EXACTLY over the same events in Spark —
    * must intersect [φ − ε, φ + ε] with ε = [[KllStream.RankEps]], the
    * same constant KllStreamSpec gates. The emitted row is the verdict
    * boolean; the oracle pins every row TRUE from the exact data, so a
    * sketch violating its documented bound hash-mismatches the round's
    * correctness gate. Ingest is split in two value-disjoint slices so
    * the gated state is a genuinely merged sketch, not one batch's. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("kllest")
    val (inDir, stateDir) = (s"$root/in", s"$root/state")
    val e = graft.Tables.events(s, dir)
      .select($"event_type".as("grp"), $"value".cast("double").as("value"))
      .cache()
    val mid = e.agg(expr("percentile_approx(value, 0.5)")).head().getDouble(0)
    writeSlices(inDir, "m", Seq(e.filter($"value" > mid), e.filter($"value" <= mid)))
    KllStream.start(s, inDir, stateDir).awaitTermination()
    val est = KllStream.estimates(s, stateDir)
    val pts = est.select($"grp", lit(0.5).as("phi"), $"est_median".as("est"))
      .union(est.select($"grp", lit(0.9).as("phi"), $"est_p90".as("est")))
    val ranks = pts.join(e, Seq("grp"))
      .groupBy($"grp", $"phi", $"est")
      .agg(count(lit(1)).as("tot"),
        sum(when($"value" <= $"est", 1L).otherwise(0L)).as("le"),
        sum(when($"value" < $"est", 1L).otherwise(0L)).as("lt"))
    e.unpersist()
    ranks.select($"grp", $"phi",
        (($"lt" / $"tot" <= $"phi" + KllStream.RankEps) &&
          ($"le" / $"tot" >= $"phi" - KllStream.RankEps)).as("within_bound"))
      .orderBy($"grp", $"phi")
  }

  private val q97Sql =
    """SELECT event_type AS grp, phi, TRUE AS within_bound
      |FROM (SELECT DISTINCT event_type FROM events) g
      |CROSS JOIN (SELECT CAST(0.5 AS DOUBLE) AS phi
      |            UNION ALL SELECT CAST(0.9 AS DOUBLE)) q
      |ORDER BY grp, phi""".stripMargin

  /** q98 — q84's bounded k-core SERVED FROM the [[KCoreStream]]-
    * maintained result store: the sparse part⟷supplier edges arrive in
    * three micro-batches SLICED BY SUPPLIER, so peel cascades re-run as
    * later suppliers' edges raise degrees — nodes flip from tombstoned
    * to alive and survivors' degrees move across batches (the
    * targeted-recompute + tombstone path is load-bearing). Batches 0–1
    * compacted with batch 2 live. Oracle: q84's batch SQL verbatim. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("kcoreserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select(($"l_partkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
      .distinct().cache()
    writeSlices(inDir, "edges", Seq(
      pairs.filter(expr("(dst div 2) % 3 = 0")),
      pairs.filter(expr("(dst div 2) % 3 = 1")),
      pairs.filter(expr("(dst div 2) % 3 = 2"))))
    KCoreStream.start(s, inDir, storeDir).awaitTermination()
    pairs.unpersist()
    KCoreStream.compact(s, storeDir, throughBatch = 1L)
    KCoreStream.snapshot(s, storeDir).orderBy($"node")
  }

  /** q99 — q63's near-dup cluster/canonical table SERVED FROM the
    * [[DedupClusterStream]] composition: documents arrive in three
    * doc-id-interleaved micro-batches, each deduped against the
    * incrementally-maintained LSH index with the batch's verified new
    * pairs folded into the nested [[CcStream]] cluster store — clusters
    * whose members arrive in different batches exist as separate
    * provisional clusters until the bridging pair's later doc arrives
    * (the cross-batch CLUSTER-MERGE path is load-bearing). Cluster store
    * compacted through batch 1 with batch 2 live. Oracle: q63's batch
    * SQL verbatim (exact-Jaccard transitive closure). */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("dclserve")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val docs = graft.Tables.t(s, dir, "documents")
      .select($"doc_id", $"text").cache()
    writeSlices(inDir, "docs", Seq(
      docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1),
      docs.filter($"doc_id" % 3 === 2)))
    DedupClusterStream.start(s, inDir, store).awaitTermination()
    docs.unpersist()
    DedupClusterStream.compact(s, store, throughBatch = 1L)
    DedupClusterStream.snapshot(s, store).orderBy($"doc_id")
  }

  /** q100 — DECREMENTAL SSSP served from the [[SsspDeltaStream]] store:
    * the q94 weighted graph arrives as two insert batches, then a DELETE
    * batch removing every (p + su) % 5 == 0 pair (the reference's
    * wormhole-expiry path — edges genuinely leave the graph), then a
    * partial RE-INSERT batch restoring the % 10 == 0 half. The store is
    * compacted THROUGH the delete batch (tombstones and dead edges fold
    * away) with the re-insert batch live — so serving exercises damaged-
    * cone recompute, tombstoning, fold-of-deletions, and resurrection
    * against a negative generation in one row. Oracle: q79's bounded
    * path-enumeration SQL on the SURVIVING pair set. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("ssspdeltaserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
      .select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"),
        (lit(1L) + ($"p" * 3 + $"su" * 5) % 7).as("w"),
        (($"p" + $"su") % 5 === 0).as("del"),
        (($"p" + $"su") % 10 === 0).as("reins"))
      .cache()
    val source = 2L * graft.Tables.t(s, dir, "lineitem")
      .agg(min($"l_suppkey".cast("long"))).head().getLong(0) + 1L
    writeSlices(inDir, "ev", Seq(
      pairs.filter(expr("(dst div 2) % 2 = 0"))
        .select($"src", $"dst", $"w", lit(1).as("op")),
      pairs.filter(expr("(dst div 2) % 2 = 1"))
        .select($"src", $"dst", $"w", lit(1).as("op")),
      pairs.filter($"del").select($"src", $"dst", lit(0L).as("w"), lit(-1).as("op")),
      pairs.filter($"reins").select($"src", $"dst", $"w", lit(1).as("op"))))
    SsspDeltaStream.start(s, inDir, storeDir, source, GraphQueries.ScaleSsspBudget)
      .awaitTermination()
    pairs.unpersist()
    SsspDeltaStream.compact(s, storeDir, throughBatch = 2L)
    SsspDeltaStream.snapshot(s, storeDir).orderBy($"node")
  }

  private val q100Sql =
    s"""WITH RECURSIVE pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su FROM lineitem),
       |surv AS (SELECT p, su FROM pairs WHERE (p + su) % 5 <> 0 OR (p + su) % 10 = 0),
       |e0 AS (SELECT CAST(p*2 AS BIGINT) AS src, CAST(su*2+1 AS BIGINT) AS dst,
       |              CAST(1 + (p*3 + su*5) % 7 AS BIGINT) AS w FROM surv),
       |edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
       |s AS (SELECT CAST(MIN(l_suppkey)*2+1 AS BIGINT) AS v FROM lineitem),
       |r(node, dist) AS (
       |  SELECT v, CAST(0 AS BIGINT) FROM s
       |  UNION
       |  SELECT e.dst, r.dist + e.w FROM r JOIN edges e ON e.src = r.node
       |  WHERE r.dist + e.w <= ${graft.operators.GraphQueries.ScaleSsspBudget})
       |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM r GROUP BY node ORDER BY node""".stripMargin

  /** q102 — connected components under DELETIONS served from the
    * [[CcStream]] store: the q93 sparse graph arrives as two insert
    * batches, then a DELETE batch removing every (p + su) % 5 == 0 pair
    * (splits components and isolates vertices — the paths insert-only
    * maintenance cannot express), then a partial RE-INSERT batch
    * restoring the % 10 == 0 half. Compacted THROUGH the delete batch
    * (tombstones and dead edges fold away) with the re-insert batch live
    * — so one row exercises split recompute, isolation tombstoning,
    * fold-of-deletions, and resurrection against a negative generation.
    * Oracle: q80's bounded min-label SQL on the SURVIVING pair set. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("ccdeltaserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
      .select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"),
        (($"p" + $"su") % 5 === 0).as("del"),
        (($"p" + $"su") % 10 === 0).as("reins"))
      .cache()
    writeSlices(inDir, "ev", Seq(
      pairs.filter(expr("(dst div 2) % 2 = 0")).select($"src", $"dst", lit(1).as("op")),
      pairs.filter(expr("(dst div 2) % 2 = 1")).select($"src", $"dst", lit(1).as("op")),
      pairs.filter($"del").select($"src", $"dst", lit(-1).as("op")),
      pairs.filter($"reins").select($"src", $"dst", lit(1).as("op"))))
    CcStream.start(s, inDir, storeDir, withOps = true).awaitTermination()
    pairs.unpersist()
    CcStream.compact(s, storeDir, throughBatch = 2L)
    CcStream.snapshot(s, storeDir).orderBy($"node")
  }

  private val q102Sql = GraphQueries.q80SqlOn(
    " AND ((l_partkey + l_suppkey) % 5 <> 0 OR (l_partkey + l_suppkey) % 10 = 0)")

  /** q103 — per-part triangle counts under witness DELETIONS served from
    * the [[TriangleStream]] store: the q96 pair graph arrives as two
    * insert batches, then a DELETE batch withdrawing every
    * (p + su) % 5 == 0 witness (edges the projection loses, triangles
    * that die — and possibly suppliers dropping back UNDER the degree
    * cap, whose witnesses return), then a partial RE-INSERT batch
    * restoring the % 10 == 0 half. Compacted THROUGH the delete batch
    * (dead witnesses fold away) with the re-insert live — one row
    * exercises deletion deltas, fold-of-deletions, and resurrection
    * against a negative generation. Oracle: q83's SQL on the SURVIVING
    * witness set. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("trideltaserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
      .withColumn("del", ($"p" + $"su") % 5 === 0)
      .withColumn("reins", ($"p" + $"su") % 10 === 0)
      .cache()
    writeSlices(inDir, "ev", Seq(
      pairs.filter($"su" % 2 === 0).select($"p", $"su", lit(1).as("op")),
      pairs.filter($"su" % 2 === 1).select($"p", $"su", lit(1).as("op")),
      pairs.filter($"del").select($"p", $"su", lit(-1).as("op")),
      pairs.filter($"reins").select($"p", $"su", lit(1).as("op"))))
    TriangleStream.start(s, inDir, storeDir, withOps = true).awaitTermination()
    pairs.unpersist()
    TriangleStream.compact(s, storeDir, throughBatch = 2L)
    TriangleStream.snapshot(s, storeDir).orderBy($"part")
  }

  private val q103Sql = GraphQueries.q83SqlOn(
    " AND ((l_partkey + l_suppkey) % 5 <> 0 OR (l_partkey + l_suppkey) % 10 = 0)")

  /** q104 — bounded k-core under edge DELETIONS served from the
    * [[KCoreStream]] store: the q98 sparse graph arrives as two insert
    * batches, then a DELETE batch removing every (p + su) % 5 == 0 pair
    * (survivors' degrees fall below k and peel cascades collapse — the
    * path insert-only maintenance cannot express), then a partial
    * RE-INSERT batch restoring the % 10 == 0 half. Compacted THROUGH the
    * delete batch with the re-insert live — one row exercises cascade
    * collapse, isolation tombstoning through the nested CC store,
    * fold-of-deletions, and resurrection against a negative generation.
    * Oracle: q84's bounded-peel SQL on the SURVIVING pair set. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("kcoredeltaserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
      .select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"),
        (($"p" + $"su") % 5 === 0).as("del"),
        (($"p" + $"su") % 10 === 0).as("reins"))
      .cache()
    writeSlices(inDir, "ev", Seq(
      pairs.filter(expr("(dst div 2) % 2 = 0")).select($"src", $"dst", lit(1).as("op")),
      pairs.filter(expr("(dst div 2) % 2 = 1")).select($"src", $"dst", lit(1).as("op")),
      pairs.filter($"del").select($"src", $"dst", lit(-1).as("op")),
      pairs.filter($"reins").select($"src", $"dst", lit(1).as("op"))))
    KCoreStream.start(s, inDir, storeDir, withOps = true).awaitTermination()
    pairs.unpersist()
    KCoreStream.compact(s, storeDir, throughBatch = 2L)
    KCoreStream.snapshot(s, storeDir).orderBy($"node")
  }

  private val q104Sql = GraphQueries.q84SqlOn(
    " AND ((l_partkey + l_suppkey) % 5 <> 0 OR (l_partkey + l_suppkey) % 10 = 0)")

  /** q106 — bounded k-truss under edge DELETIONS served from the
    * [[TrussStream]] store: q105's capped part–part projection arrives
    * as two insert batches (split by the b endpoint's parity), then a
    * DELETE batch withdrawing every (a + b) % 5 == 0 projected edge
    * (triangles through them die, survivors' supports fall and peel
    * cascades collapse — the path insert-only maintenance cannot
    * express), then a partial RE-INSERT batch restoring the % 10 == 0
    * half. Compacted THROUGH the delete batch with the re-insert live —
    * one row exercises support-cascade collapse, edge tombstoning,
    * fold-of-deletions over the composite edge key, and resurrection
    * against a negative generation. Oracle: q105's unrolled-peel SQL on
    * the SURVIVING projected-edge set (the deletion class here is
    * edge-granular, so the predicate lands on the projection CTE, not
    * the witness set — see [[TrussStream]]'s scaladoc). */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("trussdeltaserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val pairs = graft.Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
    val smallSu = pairs.groupBy($"su").agg(count(lit(1)).as("d"))
      .filter($"d" <= GraphQueries.TriDegreeCap).select($"su")
    val kept = pairs.join(smallSu, Seq("su"), "left_semi")
    val proj = kept.as("x").join(kept.as("y"), $"x.su" === $"y.su" && $"x.p" < $"y.p")
      .select($"x.p".as("a"), $"y.p".as("b")).distinct()
      .withColumn("del", ($"a" + $"b") % 5 === 0)
      .withColumn("reins", ($"a" + $"b") % 10 === 0)
      .cache()
    writeSlices(inDir, "ev", Seq(
      proj.filter($"b" % 2 === 0).select($"a", $"b", lit(1).as("op")),
      proj.filter($"b" % 2 === 1).select($"a", $"b", lit(1).as("op")),
      proj.filter($"del").select($"a", $"b", lit(-1).as("op")),
      proj.filter($"reins").select($"a", $"b", lit(1).as("op"))))
    TrussStream.start(s, inDir, storeDir, withOps = true).awaitTermination()
    proj.unpersist()
    TrussStream.compact(s, storeDir, throughBatch = 2L)
    TrussStream.snapshot(s, storeDir).orderBy($"a", $"b")
  }

  private val q106Sql = GraphQueries.q105SqlOn(
    " AND ((x.p + y.p) % 5 <> 0 OR (x.p + y.p) % 10 = 0)")

  /** q110 — ANN retrieval under vector DELETIONS served from the
    * [[AnnDeltaStream]] store: the q89 corpus arrives as two insert
    * batches (vec_id parity), then a DELETE batch tombstoning every
    * vec_id % 5 == 0 vector (the takedown / decontamination-removal
    * event — indexed vectors genuinely leave the servable corpus), then
    * a partial RE-INSERT batch restoring the % 10 == 0 half
    * (resurrection; the registered query vector 0 is deleted and
    * re-inserted, so the probe side is exercised through the event too).
    * The store is compacted THROUGH the delete batch (tombstones and
    * dead rows fold away, survivors keep their `srcb` provenance) with
    * the re-insert batch live — one row exercises tombstone resolution,
    * fold-of-deletions, and resurrection against a negative generation.
    * Frozen codebook ⇒ training and probe selection are untouched by
    * deletions, so the oracle is q28's SQL with only the CANDIDATE set
    * restricted to the surviving vec_ids. */
  private def q110Store(s: SparkSession, dir: String): String = {
    import s.implicits._
    val root = tempRoot("anndeltaserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val cents = Similarity.trainedCentroids(s, dir)
    val emb = Similarity.embeddings(s, dir)
      .withColumn("del", $"vec_id" % 5 === 0)
      .withColumn("reins", $"vec_id" % 10 === 0)
      .cache()
    writeSlices(inDir, "ev", Seq(
      emb.filter($"vec_id" % 2 === 0).select($"vec_id", $"vec", lit(1).as("op")),
      emb.filter($"vec_id" % 2 === 1).select($"vec_id", $"vec", lit(1).as("op")),
      emb.filter($"del").select($"vec_id",
        lit(null).cast("array<double>").as("vec"), lit(-1).as("op")),
      emb.filter($"reins").select($"vec_id", $"vec", lit(1).as("op"))))
    AnnDeltaStream.start(s, inDir, storeDir, cents).awaitTermination()
    emb.unpersist()
    AnnDeltaStream.compact(s, storeDir, throughBatch = 2L)
    storeDir
  }

  private def q110(s: SparkSession, dir: String): DataFrame =
    AnnDeltaStream.serveTopK(s, dir, q110Store(s, dir),
      Similarity.trainedCentroids(s, dir))

  private val q110Sql = Similarity.q28SqlOn(
    " AND (a.vec_id % 5 <> 0 OR a.vec_id % 10 = 0)")

  /** q112 — near-dup clustering under document TAKEDOWNS served from the
    * [[DedupClusterStream]] composition: the q99 corpus arrives in two
    * doc-id-interleaved insert batches, then a TAKEDOWN batch retires
    * every already-ingested doc_id % 5 == 0 document (the licensing /
    * decontamination removal — pairs through them are withdrawn from the
    * nested CC store, so clusters SPLIT, shrink, hand their canonical
    * survivor to the next-smallest id, or dissolve entirely when a doc's
    * only near-dup is retired), then the LAST third of the corpus
    * arrives — the index-MASK path is load-bearing: the sf0.001/sf0.01
    * fixtures each contain verified pairs between slice-2 docs and
    * retired docs (5 at both SFs, checked offline) that an unmasked
    * probe would wrongly emit. Cluster store compacted through the
    * takedown batch with the late batch live. Oracle: q63's SQL on the
    * SURVIVING documents. */
  private def q112Store(s: SparkSession, dir: String): String = {
    import s.implicits._
    val root = tempRoot("dcldeltaserve")
    val (inDir, store) = (s"$root/in", s"$root/store")
    val docs = graft.Tables.t(s, dir, "documents")
      .select($"doc_id", $"text").cache()
    // retire only already-ingested ids: retirement is terminal, so a
    // doc_id may never be retired before its insert batch
    val retire = $"doc_id" % 5 === 0 && $"doc_id" % 3 =!= 2
    writeSlices(inDir, "ev", Seq(
      docs.filter($"doc_id" % 3 === 0).select($"doc_id", $"text", lit(1).as("op")),
      docs.filter($"doc_id" % 3 === 1).select($"doc_id", $"text", lit(1).as("op")),
      docs.filter(retire).select($"doc_id", lit("").as("text"), lit(-1).as("op")),
      docs.filter($"doc_id" % 3 === 2).select($"doc_id", $"text", lit(1).as("op"))))
    DedupClusterStream.start(s, inDir, store, withOps = true).awaitTermination()
    docs.unpersist()
    DedupClusterStream.compact(s, store, throughBatch = 2L)
    store
  }

  private def q112(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupClusterStream.snapshot(s, q112Store(s, dir)).orderBy($"doc_id")
  }

  /** q114 — the q112 takedown composition with the index PHYSICALLY
    * PURGED mid-stream: the same two insert batches and takedown batch
    * (driven directly — purge is a stopped-stream maintenance job, so the
    * fixture owns the batch loop), then
    * [[DedupClusterStream.purgeRetired]] rewrites the band/shingle index
    * dropping the retired documents' rows, and only THEN does the late
    * third of the corpus arrive — so the probe that would have needed the
    * q112 mask now runs against an index whose retired content is
    * physically gone (the mask still guards retirements the purge hasn't
    * folded yet; here it is vacuous by construction). Oracle: q112's —
    * q63 on the surviving documents — which passes only if the purged
    * index yields exactly the masked index's pairs. The physical-absence
    * half (retired bytes actually gone from every index file) is
    * DedupPurgeSpec's, not SQL-expressible. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("dclpurgeserve")
    val store = s"$root/store"
    val docs = graft.Tables.t(s, dir, "documents")
      .select($"doc_id", $"text").cache()
    val retire = $"doc_id" % 5 === 0 && $"doc_id" % 3 =!= 2
    val slices = Seq(
      docs.filter($"doc_id" % 3 === 0).select($"doc_id", $"text", lit(1).as("op")),
      docs.filter($"doc_id" % 3 === 1).select($"doc_id", $"text", lit(1).as("op")),
      docs.filter(retire).select($"doc_id", lit("").as("text"), lit(-1).as("op")))
    slices.zipWithIndex.foreach { case (sl, i) =>
      DedupClusterStream.processBatch(s, sl, i.toLong, store) }
    DedupClusterStream.purgeRetired(s, store, throughBatch = 2L)
    DedupClusterStream.processBatch(s,
      docs.filter($"doc_id" % 3 === 2).select($"doc_id", $"text", lit(1).as("op")),
      3L, store)
    docs.unpersist()
    DedupClusterStream.compact(s, store, throughBatch = 2L)
    DedupClusterStream.snapshot(s, store).orderBy($"doc_id")
  }

  /** q113 — the funnel under event RETRACTIONS served from the
    * [[FunnelStream]] store: events arrive in two user-parity insert
    * batches, then a RETRACTION batch withdraws (a) EVERY event of users
    * `user_id % 7 == 0` — the deleted-user case, whose funnel rows must
    * tombstone out of the served table entirely — and (b) the CLICK
    * events of users `% 5 == 3` — the stage-demotion case (their
    * conversions must fall back to stage 1, and purchases lose their
    * click anchor) — then a partial RE-INSERT batch restores the clicks
    * of users `% 10 == 3` (resurrection). The store is compacted THROUGH
    * the retraction batch (retractions and their kill sets fold away;
    * tombstoned users drop from the generation) with the re-insert batch
    * live. Oracle: q82's SQL on the SURVIVING events. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempRoot("funnelretract")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val e = graft.Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts_us").cache()
    val gone = $"user_id" % 7 === 0
    val clickDemoted = $"user_id" % 7 =!= 0 &&
      $"user_id" % 5 === 3 && $"event_type" === "click"
    writeSlices(inDir, "ev", Seq(
      e.filter($"user_id" % 2 === 0).withColumn("op", lit(1)),
      e.filter($"user_id" % 2 === 1).withColumn("op", lit(1)),
      e.filter(gone || clickDemoted).withColumn("op", lit(-1)),
      e.filter(clickDemoted && $"user_id" % 10 === 3).withColumn("op", lit(1))))
    FunnelStream.start(s, inDir, storeDir, withOps = true).awaitTermination()
    e.unpersist()
    FunnelStream.compact(s, storeDir, throughBatch = 2L)
    FunnelStream.snapshot(s, storeDir).orderBy($"user_id")
  }

  private val q113Sql = TemporalJoins.q82SqlOn(
    " AND user_id % 7 <> 0" +
      " AND (event_type <> 'click' OR user_id % 5 <> 3 OR user_id % 10 = 3)")

  // -----------------------------------------------------------------
  // Steady-state SERVE rows for the deletion maintainers (round 15,
  // verdict directive 5): the full ±op pipelines build ONCE per session
  // into a cached store — the prepare stage, paid by the bench's cold
  // pass, which invalidates this cache beside Materialized — and warm
  // passes time ONLY the serve path (liveness-resolved probe / snapshot
  // window), so a serve-latency regression is visible per round the way
  // q89/q99's ingest-dominated timings never made it. The correctness
  // gate always runs the full pipeline; StreamServeBenchSpec pins the
  // two configurations to each other.
  // -----------------------------------------------------------------
  private val benchStores =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private[graft] def invalidateBenchStores(): Unit = benchStores.clear()

  private[graft] def q110Serve(s: SparkSession, dir: String): DataFrame = {
    val store = benchStores.computeIfAbsent(("q110", dir), _ => q110Store(s, dir))
    AnnDeltaStream.serveTopK(s, dir, store, Similarity.trainedCentroids(s, dir))
  }

  private[graft] def q112Serve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = benchStores.computeIfAbsent(("q112", dir), _ => q112Store(s, dir))
    DedupClusterStream.snapshot(s, store).orderBy($"doc_id")
  }

  private val q112Sql = graft.operators.Dedup.q63SqlOn(
    " AND (doc_id % 5 <> 0 OR doc_id % 3 = 2)")

  /** q132 — SemDeDup under vector DELETIONS served from the
    * [[SemDedupStream]] store: the q129 corpus arrives as two insert
    * batches (vec_id parity — the odd batch lands LOWER-id witnesses
    * after higher ids already sit in the store, so the late-low-id
    * update path is load-bearing), then a takedown batch tombstones
    * every vec_id % 5 == 0 vector, then the % 10 == 0 half is
    * RE-INSERTED (resurrection — its fresh copy re-pairs against the
    * survivors, its stale pairs die on the srcb match). Members + pairs
    * compacted through the takedown with the re-insert batch live.
    * Frozen centroids ⇒ assignment untouched; oracle = q129 over the
    * surviving corpus. */
  private def q132Store(s: SparkSession, dir: String): String = {
    import s.implicits._
    val root = tempRoot("semdedupserve")
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    val cents = Similarity.trainedCentroids(s, dir)
    val emb = Similarity.embeddings(s, dir)
      .withColumn("del", $"vec_id" % 5 === 0)
      .withColumn("reins", $"vec_id" % 10 === 0)
      .cache()
    writeSlices(inDir, "ev", Seq(
      emb.filter($"vec_id" % 2 === 0).select($"vec_id", $"vec", lit(1).as("op")),
      emb.filter($"vec_id" % 2 === 1).select($"vec_id", $"vec", lit(1).as("op")),
      emb.filter($"del").select($"vec_id",
        lit(null).cast("array<double>").as("vec"), lit(-1).as("op")),
      emb.filter($"reins").select($"vec_id", $"vec", lit(1).as("op"))))
    SemDedupStream.start(s, inDir, storeDir, cents).awaitTermination()
    emb.unpersist()
    SemDedupStream.compact(s, storeDir, throughBatch = 2L)
    storeDir
  }

  private def q132(s: SparkSession, dir: String): DataFrame =
    SemDedupStream.serveRemoved(s, q132Store(s, dir))

  /** Bench lane: the ±op pipeline builds once per session (cold pass);
    * warm passes time only the liveness-resolved pair serve — the
    * q110/q112 steady-state-serve pattern on the newest maintainer. */
  private[graft] def q132Serve(s: SparkSession, dir: String): DataFrame = {
    val store = benchStores.computeIfAbsent(("q132", dir), _ => q132Store(s, dir))
    SemDedupStream.serveRemoved(s, store)
  }

  private val q132Sql = Similarity.q129SqlOn(
    " WHERE a.vec_id % 5 <> 0 OR a.vec_id % 10 = 0")

  val all: Seq[GQuery] = Seq(
    GQuery("q88_stream_funnel_serve", q88, Some(TemporalJoins.q82Sql)),
    GQuery("q89_stream_ann_serve", q89, Some(Similarity.q28Sql)),
    GQuery("q92_stream_kll_serve", q92, Some(q92Sql)),
    GQuery("q93_stream_cc_serve", q93, Some(GraphQueries.q80Sql)),
    GQuery("q94_stream_sssp_serve", q94, Some(GraphQueries.q79Sql)),
    GQuery("q96_stream_triangle_serve", q96, Some(GraphQueries.q83Sql)),
    GQuery("q97_stream_kll_estimates", q97, Some(q97Sql)),
    GQuery("q98_stream_kcore_serve", q98, Some(GraphQueries.q84Sql)),
    GQuery("q99_stream_dedup_cluster_serve", q99, Some(graft.operators.Dedup.q63SqlShared)),
    GQuery("q100_stream_sssp_delta_serve", q100, Some(q100Sql)),
    GQuery("q102_stream_cc_delta_serve", q102, Some(q102Sql)),
    GQuery("q103_stream_triangle_delta_serve", q103, Some(q103Sql)),
    GQuery("q104_stream_kcore_delta_serve", q104, Some(q104Sql)),
    GQuery("q106_stream_truss_delta_serve", q106, Some(q106Sql)),
    GQuery("q110_stream_ann_delete_serve", q110, Some(q110Sql),
      bench = true, benchRun = Some(q110Serve)),
    GQuery("q112_stream_dedup_takedown_serve", q112, Some(q112Sql),
      bench = true, benchRun = Some(q112Serve)),
    GQuery("q113_stream_funnel_retract_serve", q113, Some(q113Sql)),
    GQuery("q114_stream_dedup_purge_serve", q114, Some(q112Sql)),
    GQuery("q132_stream_semdedup_serve", q132, Some(q132Sql),
      bench = true, benchRun = Some(q132Serve)),
  )
}
