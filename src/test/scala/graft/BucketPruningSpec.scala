package graft

import graft.streaming.{CcStream, FunnelStream, SsspDeltaStream, SsspStream, Stores, TriangleStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-11 bucket-pruning contract, asserted on EXECUTED plans (the
  * RestrictedScanSpec pattern one level down): restriction-first made
  * per-batch shuffle volume delta-sized, but a restricted scan still
  * listed and read the whole store's files — the stores are now
  * partitioned `batch=<id>/<pb>=<hashbucket>/…` and every restricted
  * read must (a) carry a PARTITION filter on its bucket column and
  * (b) actually read fewer files than the store holds. Semantics are
  * pinned alongside: pruning is a superset filter, so results must be
  * byte-identical to the unpruned computation. */
class BucketPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/store"

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  private def parquetFilesUnder(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
  }

  /** Runs `df`, finds the parquet scans whose location matches `frag`,
    * and returns (total files READ across them, every-scan-pruned on one
    * of `pbCols`). `numFiles` is the scan's own driver metric — files
    * the planned read actually covers after partition pruning. */
  private def scanStats(df: DataFrame, frag: String,
      pbCols: Set[String]): (Long, Boolean) = {
    df.collect()
    val fs = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(frag)))
    assert(fs.nonEmpty, s"no parquet scan over $frag in the executed plan")
    val files = fs.map(_.metrics("numFiles").value).sum
    val pruned = fs.forall(
      _.partitionFilters.exists(_.references.exists(a => pbCols(a.name))))
    (files, pruned)
  }

  private def oneNode(n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("node")
  }

  test("CcStream: labelsOf / membersOf / edge reads prune to touched buckets") {
    import spark.implicits._
    val store = tmp("bprune-cc")
    // 200 disjoint components across two batches: labels and edges
    // populate every node/component/src bucket
    CcStream.processBatch(
      (1L to 120L).map(i => (i, i + 1000L)).toDF("src", "dst"), 0L, store)
    CcStream.processBatch(
      (121L to 200L).map(i => (i, i + 1000L)).toDF("src", "dst"), 1L, store)
    // round 12: dual single-key replicas — labels keyed pbn, labelsc pbc
    val totalLabelFiles =
      parquetFilesUnder(s"$store/labels") + parquetFilesUnder(s"$store/labelsc")
    val totalEdgeFiles = parquetFilesUnder(s"$store/edges")
    assert(parquetFilesUnder(s"$store/labels") > Stores.NumBuckets &&
        parquetFilesUnder(s"$store/labelsc") > Stores.NumBuckets,
      "fixture too small — each label replica must span buckets for pruning to be visible")

    // labelsOf: node-restricted → pbn partition filter
    val labs = CcStream.labelsOf(spark, store, oneNode(5L))
    val (lf, lp) = scanStats(labs, "/labels", Set("pbn"))
    assert(lp, "labelsOf scan must carry a pbn partition filter")
    assert(lf < totalLabelFiles, s"labelsOf read $lf of $totalLabelFiles files")
    assert(labs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((5L, 5L)))

    // membersOf: three label reads (touched labelsOf and the arbitration
    // labelsOf over the node-keyed primary, pbc candidates over the
    // labelsc replica) — each must prune on ITS restriction key over ITS
    // replica, and even summed they must read less than the replicas'
    // combined file count ("/labels" matches both roots)
    val mem = CcStream.membersOf(spark, store, oneNode(5L))
    val (mf, mp) = scanStats(mem, "/labels", Set("pbn", "pbc"))
    assert(mp, "every membersOf label scan must carry a pbn/pbc partition filter")
    assert(mf < totalLabelFiles,
      s"membersOf label scans read $mf files — not less than the replicas' $totalLabelFiles")
    assert(mem.collect().map(_.getLong(0)).toSet === Set(5L, 1005L))
    // the candidate probe sits behind membersOf's eager checkpoint (its
    // scan never reaches the final plan) — assert routing + pruning on
    // the probe frame itself: it must read the component-keyed replica,
    // pbc-pruned, fewer files than the replica holds
    val probe = CcStream.candidateProbe(spark, store,
      Seq(5L).toDF("component"))
    val (cf, cp) = scanStats(probe, "/labelsc", Set("pbc"))
    assert(cp, "candidate probe must carry a pbc partition filter")
    assert(cf < parquetFilesUnder(s"$store/labelsc"),
      s"candidate probe read $cf files — not less than the labelsc replica")

    // liveEdgesRestricted: src-restricted → pbs partition filter
    val ind = CcStream.liveEdgesRestricted(spark, store, 10L, oneNode(5L))
    val (ef, ep) = scanStats(ind, "/edges", Set("pbs"))
    assert(ep, "edge scan must carry a pbs partition filter")
    assert(ef < totalEdgeFiles, s"edge read $ef of $totalEdgeFiles files")
    assert(ind.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((5L, 1005L)))
  }

  test("compaction preserves the bucketed layout — folded generations stay prunable") {
    import spark.implicits._
    val store = tmp("bprune-fold")
    CcStream.processBatch(
      (1L to 150L).map(i => (i, i + 1000L)).toDF("src", "dst"), 0L, store)
    CcStream.processBatch(
      (151L to 200L).map(i => (i, i + 1000L)).toDF("src", "dst"), 1L, store)
    val before = CcStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CcStream.compact(spark, store, throughBatch = 1L)
    // round 12: the primary is single-key (pbn) — a fully-folded store
    // holds ONE generation of at most NumBuckets leaf dirs (the nested
    // dual-key layout this assertion predates held nb² and read `>`)
    val total = parquetFilesUnder(s"$store/labels")
    assert(total >= Stores.NumBuckets,
      "folded generation must itself span every bucket")
    val labs = CcStream.labelsOf(spark, store, oneNode(5L))
    val (lf, lp) = scanStats(labs, "/labels", Set("pbn"))
    assert(lp && lf < total,
      s"post-compaction labelsOf must stay pruned (read $lf of $total)")
    // the candidate probe still prunes its own folded labelsc replica
    val probe = CcStream.candidateProbe(spark, store, Seq(5L).toDF("component"))
    val (cf, cp) = scanStats(probe, "/labelsc", Set("pbc"))
    val totalC = parquetFilesUnder(s"$store/labelsc")
    assert(cp && cf < totalC,
      s"post-compaction candidate probe must stay pruned on pbc (read $cf of $totalC)")
    val after = CcStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === before, "compaction changed the served labels")
  }

  test("TriangleStream: edgesTouching prunes each branch on its endpoint replica") {
    import spark.implicits._
    val store = tmp("bprune-tri")
    // a 120-node path of projected edges: supplier 100+i witnesses edge
    // (i, i+1) — edges span both endpoint buckets
    val pairs = (1L to 120L).flatMap(i => Seq((i, 100L + i), (i + 1, 100L + i)))
    TriangleStream.processBatch(pairs.toDF("p", "su"), 0L, store)
    // round 12: dual single-key replicas — the a-branch reads `edges`
    // (bucketed pba), the b-branch its `edgesb` replica (bucketed pbb)
    val totalEdgeFiles =
      parquetFilesUnder(s"$store/edges") + parquetFilesUnder(s"$store/edgesb")
    assert(totalEdgeFiles >= 2 * Stores.NumBuckets,
      "fixture too small — each edge replica must span buckets")
    val et = TriangleStream.edgesTouching(spark, store, 5L,
      Seq(5L).toDF("n"))
    val (f, p) = scanStats(et, "/edges", Set("pba", "pbb"))
    assert(p, "both edgesTouching branches must carry endpoint partition filters")
    assert(f < totalEdgeFiles,
      s"edgesTouching read $f files — not less than the replicas' $totalEdgeFiles")
    assert(et.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((4L, 5L), (5L, 6L)))
  }

  test("SsspStream: dist lookups and relaxation edge reads prune to frontier buckets") {
    import spark.implicits._
    val store = tmp("bprune-sssp")
    // two-level star (diameter 2, so relaxation converges in a few
    // rounds): hub 1 → spokes, spoke i → leaf i+1000 — dists and edges
    // span every node/src bucket
    def tier(r: Range) = r.flatMap(i => Seq((1L, i.toLong, 1L), (i.toLong, i + 1000L, 1L)))
    SsspStream.processBatch(tier(2 to 120).toDF("src", "dst", "w"),
      0L, store, source = 1L, budget = 1000L)
    SsspStream.processBatch(tier(121 to 200).toDF("src", "dst", "w"),
      1L, store, source = 1L, budget = 1000L)
    val totalDistFiles = parquetFilesUnder(s"$store/dists")
    val totalEdgeFiles = parquetFilesUnder(s"$store/edges")
    assert(totalDistFiles > Stores.NumBuckets,
      "fixture too small — dists must span buckets for pruning to be visible")

    // the wired freshest-row lookup: node-restricted → pbn
    val d = SsspStream.distsOf(Some(Stores.read(spark, s"$store/dists")), oneNode(5L))
    val (df1, dp) = scanStats(d, "/dists", Set("pbn"))
    assert(dp, "distsOf scan must carry a pbn partition filter")
    assert(df1 < totalDistFiles, s"distsOf read $df1 of $totalDistFiles files")
    assert(d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 1L)))

    // the relaxation rounds' edge frame: src-bucket pruned
    val e = Stores.pruneTo(Stores.read(spark, s"$store/edges"),
        SsspStream.EdgeBucket, oneNode(5L))
      .join(oneNode(5L).withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .select($"src", $"dst")
    val (ef, ep) = scanStats(e, "/edges", Set("pbs"))
    assert(ep, "relaxation edge scan must carry a pbs partition filter")
    assert(ef < totalEdgeFiles, s"edge read $ef of $totalEdgeFiles files")
    assert(e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((5L, 1L), (5L, 1005L)))

    // compaction keeps the layout: the folded generation stays prunable
    val before = SsspStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    SsspStream.compact(spark, store, throughBatch = 1L)
    val total = parquetFilesUnder(s"$store/dists")
    val d2 = SsspStream.distsOf(Some(Stores.read(spark, s"$store/dists")), oneNode(5L))
    val (f2, p2) = scanStats(d2, "/dists", Set("pbn"))
    assert(p2 && f2 < total,
      s"post-compaction distsOf must stay pruned (read $f2 of $total)")
    val after = SsspStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === before, "compaction changed the served distances")
  }

  test("SsspDeltaStream: dist, cone-probe and event reads prune on their bucket keys") {
    import spark.implicits._
    val store = tmp("bprune-ssspd")
    def tier(r: Range) = r.flatMap(i =>
      Seq((1L, i.toLong, 1L, 1), (i.toLong, i + 1000L, 1L, 1)))
    SsspDeltaStream.processBatch(tier(2 to 120).toDF("src", "dst", "w", "op"),
      0L, store, source = 1L, budget = 1000L)
    SsspDeltaStream.processBatch(tier(121 to 200).toDF("src", "dst", "w", "op"),
      1L, store, source = 1L, budget = 1000L)
    val totalDistFiles = parquetFilesUnder(s"$store/dists")
    val totalEventFiles = parquetFilesUnder(s"$store/events")
    assert(totalDistFiles > Stores.NumBuckets,
      "fixture too small — dists must span buckets")

    // freshest-row lookup: node-restricted → pbn
    val fr = SsspDeltaStream.freshRowsOf(
      Some(Stores.read(spark, s"$store/dists")), oneNode(5L))
    val (ff, fp) = scanStats(fr, "/dists", Set("pbn"))
    assert(fp, "freshRowsOf scan must carry a pbn partition filter")
    assert(ff < totalDistFiles, s"freshRowsOf read $ff of $totalDistFiles files")
    assert(fr.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === Set((5L, 1L, 1L)))

    // damaged-cone descendant probe ("whose rows point AT the
    // frontier?"): pred-restricted → pbp over the `distsp` replica
    // (round 12 — dual single-key replicas, the TriangleStream layout)
    val totalConeFiles = parquetFilesUnder(s"$store/distsp")
    val cone = Stores.pruneTo(Stores.read(spark, s"$store/distsp"),
        SsspDeltaStream.DistPredBucket, oneNode(5L))
      .join(oneNode(5L).withColumnRenamed("node", "pred"), Seq("pred"), "left_semi")
      .select($"node")
    val (cf, cp) = scanStats(cone, "/distsp", Set("pbp"))
    assert(cp, "cone probe must carry a pbp partition filter")
    assert(cf < totalConeFiles, s"cone probe read $cf of $totalConeFiles files")
    assert(cone.collect().map(_.getLong(0)).toSet === Set(1005L))

    // live-edge lookup: src-restricted → pbs
    val le = SsspDeltaStream.liveEdgesFrom(
      Stores.read(spark, s"$store/events"), oneNode(5L))
    val (lf, lp) = scanStats(le, "/events", Set("pbs"))
    assert(lp, "liveEdgesFrom scan must carry a pbs partition filter")
    assert(lf < totalEventFiles, s"liveEdgesFrom read $lf of $totalEventFiles files")
    assert(le.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((5L, 1L), (5L, 1005L)))
  }

  test("FunnelStream: the history read prunes the events store to touched user buckets") {
    import spark.implicits._
    val store = tmp("bprune-funnel")
    // many users across two batches so events span every user bucket
    def ev(r: Range, t: String) = r.map(i => (i.toLong, t, i.toLong * 10))
    FunnelStream.processBatch(
      ev(1 to 120, "view").toDF("user_id", "event_type", "ts_us"), 0L, store)
    FunnelStream.processBatch(
      ev(121 to 200, "view").toDF("user_id", "event_type", "ts_us"), 1L, store)
    val totalEventFiles = parquetFilesUnder(s"$store/events")
    assert(totalEventFiles > Stores.NumBuckets,
      "fixture too small — events must span buckets for pruning to be visible")
    // the processBatch history read, verbatim: pruned then semi-joined
    val touched = Seq(5L).toDF("user_id")
    val hist = Stores.readPruned(spark, s"$store/events", FunnelStream.UserBucket, touched)
      .filter($"batch" <= 1L)
      .join(touched, Seq("user_id"), "left_semi")
      .select($"user_id", $"event_type", $"ts_us")
    val (hf, hp) = scanStats(hist, "/events", Set("pbu"))
    assert(hp, "history scan must carry a pbu partition filter")
    assert(hf < totalEventFiles, s"history read $hf of $totalEventFiles files")
    assert(hist.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((5L, "view", 50L)))
    // compaction keeps the layout AND the served funnel table
    val before = FunnelStream.snapshot(spark, store).collect()
      .map(_.toString).toSet
    FunnelStream.compact(spark, store, throughBatch = 1L)
    val total = parquetFilesUnder(s"$store/events")
    val hist2 = Stores.readPruned(spark, s"$store/events", FunnelStream.UserBucket, touched)
      .join(touched, Seq("user_id"), "left_semi")
    val (hf2, hp2) = scanStats(hist2, "/events", Set("pbu"))
    assert(hp2 && hf2 < total,
      s"post-compaction history read must stay pruned (read $hf2 of $total)")
    val after = FunnelStream.snapshot(spark, store).collect()
      .map(_.toString).toSet
    assert(after === before, "compaction changed the served funnel table")
  }

  test("bucket ids resolve the key column BY NAME — a reordered frame still prunes correctly") {
    import spark.implicits._
    val store = tmp("bprune-byname")
    CcStream.processBatch(
      (1L to 200L).map(i => (i, i + 1000L)).toDF("src", "dst"), 0L, store)
    // keys frame carrying the key column SECOND, behind a decoy whose
    // values hash to different buckets — positional hashing would prune
    // to the WRONG buckets and silently drop node 5's rows
    val reordered = Seq((999999L, 5L)).toDF("decoy", "node")
    val labs = Stores.pruneTo(
        Stores.read(spark, s"$store/labels"), CcStream.NodeBucket, reordered)
      .join(Seq(5L).toDF("node"), Seq("node"), "left_semi")
      .filter($"component".isNotNull)
    val (_, lp) = scanStats(labs, "/labels", Set("pbn"))
    assert(lp, "reordered-frame pruning must still emit the pbn partition filter")
    assert(labs.select($"node").collect().map(_.getLong(0)).toSet === Set(5L),
      "by-name resolution must hash the named key column, not the first one")
    // a multi-column frame WITHOUT the key column is ambiguous — loud
    // failure, never a silent mis-prune
    val ambiguous = Seq((5L, 6L)).toDF("x", "y")
    val ex = intercept[IllegalArgumentException] {
      Stores.pruneTo(Stores.read(spark, s"$store/labels"),
        CcStream.NodeBucket, ambiguous).collect()
    }
    assert(ex.getMessage.contains("node"),
      "the rejection must name the bucket key it could not resolve")
  }

  test("mixed-layout appends and folds fail loudly with the migration recipe") {
    import spark.implicits._
    val flat = tmp("bprune-mixed")
    // a flat (pre-r11) store with two live batches
    Stores.writeBatch(Seq((1L, 10L)).toDF("node", "component"), 0L, s"$flat/labels")
    Stores.writeBatch(Seq((2L, 20L)).toDF("node", "component"), 1L, s"$flat/labels")
    val b = Stores.Bucket("pbn", "node")
    // bucketed append onto the flat store: rejected BEFORE it lands
    val exA = intercept[IllegalStateException] {
      Stores.writeBatch(Seq((3L, 30L)).toDF("node", "component"),
        2L, s"$flat/labels", Seq(b))
    }
    assert(exA.getMessage.contains("fold"),
      "the append rejection must point at the fold migration")
    // partial fold in the new layout beside leftover flat batches: rejected
    val exF = intercept[IllegalStateException] {
      Stores.fold(spark, s"$flat/labels", throughBatch = 0L, Seq(b))(
        df => df.select(col("node"), col("component")))
    }
    assert(exF.getMessage.contains("HIGHEST"),
      "the fold rejection must demand folding through the highest live batch")
    // the documented migration: fold through the HIGHEST live batch with
    // the new buckets, then bucketed appends land and reads prune
    Stores.fold(spark, s"$flat/labels", throughBatch = 1L, Seq(b))(
      df => df.select(col("node"), col("component")))
    Stores.writeBatch(Seq((3L, 30L)).toDF("node", "component"),
      2L, s"$flat/labels", Seq(b))
    val rows = Stores.read(spark, s"$flat/labels")
      .select($"node", $"component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((1L, 10L), (2L, 20L), (3L, 30L)),
      "the migrated store must serve every pre- and post-migration row")
    // and the flat direction: a flat append onto the now-bucketed store
    val exB = intercept[IllegalStateException] {
      Stores.writeBatch(Seq((4L, 40L)).toDF("node", "component"),
        3L, s"$flat/labels")
    }
    assert(exB.getMessage.contains("[pbn]"),
      "the rejection must name the store's existing bucket layout")
  }

  test("writeReplicaBatch refuses an absent replica beside a primary with history (crashed seed)") {
    import spark.implicits._
    val store = tmp("bprune-seedcrash")
    val replicas = Seq("ra" -> Stores.Bucket("pba", "a"), "rb" -> Stores.Bucket("pbb", "b"))
    val rows0 = (1L to 40L).map(i => (i, i + 100L)).toDF("a", "b")
    Stores.writeReplicaBatch(rows0, 0L, store, replicas)
    // a replica removed outside the maintainer while the primary holds
    // batch 0
    rm(new java.io.File(s"$store/rb"))
    // the next append must FAIL LOUDLY: landing it would create `rb`
    // holding only batch 1, a replica missing every earlier row
    val ex = intercept[IllegalStateException] {
      Stores.writeReplicaBatch(Seq((50L, 150L)).toDF("a", "b"), 1L, store, replicas)
    }
    assert(ex.getMessage.contains("rb") && ex.getMessage.contains("Rebuild"),
      s"the rejection must name the absent replica and the rebuild, got: ${ex.getMessage}")
    // an append that cannot create a short replica passes: a primary
    // holding no row below the batch (only `batch = batchId`) — the
    // replay rewrites both copies
    val fresh = tmp("bprune-seedcrash-fresh")
    Stores.writeBatch(rows0, 0L, s"$fresh/ra", Seq(replicas.head._2))
    Stores.writeReplicaBatch(rows0, 0L, fresh, replicas)
    assert(Stores.read(spark, s"$fresh/rb").count() === 40L,
      "first-batch redelivery must create the replica with the full batch")
  }

  test("a maintained store missing a replica fails loudly instead of reading its primary") {
    import spark.implicits._
    // (replica, two-batch build, the read routed to the replica, the
    // next ingest): each consumer reads its own replica, never the other
    val cases: Seq[(String, String => Unit, String => Any, String => Unit)] = Seq(
      ("labelsc",
        st => Seq(0L, 1L).foreach(b => CcStream.processBatch(
          Seq((2 * b + 1, 2 * b + 2)).toDF("src", "dst"), b, st)),
        st => CcStream.membersOf(spark, st, oneNode(1L)).collect(),
        st => CcStream.processBatch(Seq((1L, 9L)).toDF("src", "dst"), 2L, st)),
      ("pairsp",
        st => Seq(0L, 1L).foreach(b => TriangleStream.processBatch(
          Seq((b + 1, 100L + b), (b + 2, 100L + b)).toDF("p", "su"), b, st)),
        st => TriangleStream.rawPairsBefore(spark, st, 2L, TriangleStream.PairPBucket,
          Seq(2L).toDF("p")).collect(),
        st => TriangleStream.processBatch(Seq((1L, 102L)).toDF("p", "su"), 2L, st)))
    cases.foreach { case (replica, build, probe, ingest) =>
      val store = tmp(s"bprune-noreplica-$replica")
      build(store)
      rm(new java.io.File(s"$store/$replica"))
      Seq("read" -> probe, "processBatch" -> ingest).foreach { case (what, run) =>
        val ex = intercept[Exception](run(store))
        assert(ex.getMessage != null && ex.getMessage.contains(replica) &&
            ex.getMessage.toLowerCase.contains("rebuild"),
          s"$replica: the $what must fail naming the absent replica and the rebuild, " +
            s"got: ${ex.getMessage}")
      }
    }
  }

  test("a crash between replica writes leaves a store that redelivery repairs") {
    import spark.implicits._
    // an injected crash in the second copy's write: the primary goes
    // last, so the crash leaves the replica holding the batch and the
    // primary holding none of it
    val store = tmp("bprune-replicacrash")
    val replicas = Seq("ra" -> Stores.Bucket("pba", "a"), "rb" -> Stores.Bucket("pbb", "b"))
    val rows0 = (1L to 40L).map(i => (i, i + 100L)).toDF("a", "b").localCheckpoint()
    RowCrash.seen.set(0L)
    intercept[Exception] {
      Stores.writeReplicaBatch(rows0.withColumn("a", RowCrash.after(40L)(col("a"))),
        0L, store, replicas)
    }
    def batchesUnder(root: String): Seq[String] =
      Option(new java.io.File(root).list()).toSeq.flatten.filter(_.startsWith("batch="))
    assert(batchesUnder(s"$store/rb") === Seq("batch=0") && batchesUnder(s"$store/ra").isEmpty,
      "the replica must be written before the primary")
    Stores.writeReplicaBatch(rows0, 0L, store, replicas)
    assert(replicas.forall { case (sub, _) => Stores.read(spark, s"$store/$sub").count() == 40L },
      "redelivery must rewrite the batch in both copies")

    // each maintainer, crashed after its replica write and before its
    // primary's (whatever the batch writes after the primary is absent
    // too): redelivering the batch must succeed and serve what an
    // uncrashed run serves, with both copies present
    def dropBatch(root: String, b: Long): Unit = {
      rm(new java.io.File(s"$root/batch=$b"))
      if (batchesUnder(root).isEmpty) rm(new java.io.File(root))
    }
    val cases: Seq[(String, Seq[String], Seq[String], (Long, String) => Unit,
        String => Set[String])] = Seq(
      ("cc", Seq("labels"), Seq("labelsc"),
        (b, st) => CcStream.processBatch(Seq((b + 1, b + 2)).toDF("src", "dst"), b, st),
        st => CcStream.snapshot(spark, st).collect().map(_.toString).toSet),
      ("tri", Seq("edges", "counts"), Seq("edgesb"),
        (b, st) => TriangleStream.processBatch(
          (if (b == 0L) Seq((1L, 100L), (2L, 100L)) else Seq((3L, 100L))).toDF("p", "su"),
          b, st),
        st => TriangleStream.snapshot(spark, st).collect().map(_.toString).toSet),
      ("sssp", Seq("dists"), Seq("distsp"),
        (b, st) => SsspDeltaStream.processBatch(
          Seq((b + 1, b + 2, 1L, 1)).toDF("src", "dst", "w", "op"), b, st,
          source = 1L, budget = 1000L),
        st => SsspDeltaStream.snapshot(spark, st).collect().map(_.toString).toSet))
    cases.foreach { case (name, lost, kept, ingest, serve) =>
      val clean = tmp(s"bprune-replicacrash-$name-clean")
      Seq(0L, 1L).foreach(ingest(_, clean))
      Seq(0L, 1L).foreach { crashed =>
        val st = tmp(s"bprune-replicacrash-$name-$crashed")
        (0L to crashed).foreach(ingest(_, st))
        lost.foreach(sub => dropBatch(s"$st/$sub", crashed))
        assert(kept.forall(sub => batchesUnder(s"$st/$sub").contains(s"batch=$crashed")),
          s"$name: the fixture must leave the replica holding batch $crashed")
        ingest(crashed, st)
        (crashed + 1 to 1L).foreach(ingest(_, st))
        assert((lost.take(1) ++ kept).forall(sub => Stores.exists(spark, s"$st/$sub")),
          s"$name: redelivery of batch $crashed must leave both copies")
        assert(serve(st) === serve(clean),
          s"$name: redelivery of batch $crashed must serve the uncrashed answer")
      }
    }
  }

  test("a crashed migration fold (manifest renamed, sources undeleted) wedges reads loudly and the re-run fold repairs it") {
    import spark.implicits._
    val store = tmp("bprune-migcrash") + "/labels"
    val b = Stores.Bucket("pbn", "node")
    // a flat (pre-r11) store with two live batches
    Stores.writeBatch(Seq((1L, 10L)).toDF("node", "component"), 0L, store)
    Stores.writeBatch(Seq((2L, 20L)).toDF("node", "component"), 1L, store)
    // hand-build the migration fold's crash state: the staged generation
    // ALREADY RENAMED IN under the new bucketed layout, its cover
    // manifest in place (the atomic visibility switch has happened), but
    // the covered flat sources NOT YET DELETED — the documented window
    // in Stores.fold between the manifest rename and the reclamation
    val gen = tmp("bprune-migcrash-gen")
    Stores.writeBatch(Seq((1L, 10L), (2L, 20L)).toDF("node", "component"),
      -1L, gen, Seq(b))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(conf)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$gen/batch=-1"),
      new org.apache.hadoop.fs.Path(root, "batch=-1")))
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_cover_1"), true)
    try out.write("0,1".getBytes("UTF-8")) finally out.close()
    // the mixed-depth root must fail LOUDLY, never serve silently-wrong
    // rows: partition discovery rejects the conflicting structures
    val exR = intercept[Throwable] {
      Stores.read(spark, store).collect()
    }
    assert(exR.getMessage != null && exR.getMessage.contains("Conflicting"),
      s"the wedged read must name the conflicting structures, got: ${exR.getMessage}")
    // an append in EITHER layout is refused by the all-dirs guard — the
    // root already mixes layouts, so there is no right answer to append in
    val exW = intercept[IllegalStateException] {
      Stores.writeBatch(Seq((3L, 30L)).toDF("node", "component"), 2L, store, Seq(b))
    }
    assert(exW.getMessage.contains("MIXES"),
      "the append rejection must say the store already mixes layouts")
    // the documented repair: re-run the migration fold to completion —
    // its repair pass deletes the covered flat sources, then re-folds
    Stores.fold(spark, store, throughBatch = 1L, Seq(b))(df =>
      df.select($"node", $"component"))
    val rows = Stores.read(spark, store).select($"node", $"component")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((1L, 10L), (2L, 20L)),
      "the repaired store must serve exactly the pre-crash rows")
    // and ingest resumes under the new layout
    Stores.writeBatch(Seq((3L, 30L)).toDF("node", "component"), 2L, store, Seq(b))
    assert(Stores.read(spark, store).select($"node", $"component")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("a pruned read over a store without its bucket column fails loudly, naming the column") {
    import spark.implicits._
    val store = tmp("bprune-flat")
    // hand-built flat layout: batch partition only, no pbn column
    Seq((1L, 1L), (2L, 1L)).toDF("node", "component")
      .withColumn("batch", lit(0L))
      .write.option("partitionOverwriteMode", "dynamic").partitionBy("batch")
      .parquet(s"$store/labels")
    val ex = intercept[IllegalArgumentException] {
      CcStream.labelsOf(spark, store, oneNode(2L)).collect()
    }
    assert(ex.getMessage.contains("pbn"),
      s"the rejection must name the bucket column, got: ${ex.getMessage}")
    // whatever the keys: a restriction covering every bucket fails too
    intercept[IllegalArgumentException] {
      Stores.readPruned(spark, s"$store/labels", CcStream.NodeBucket,
        (0L until 200L).toDF("node"))
    }
  }
}

/** Counts the rows every task of this JVM evaluates through [[after]],
  * so a spec can fail a write part-way through a sequence of writes. */
object RowCrash {
  val seen = new java.util.concurrent.atomic.AtomicLong
  def after(limit: Long) = udf { (a: Long) =>
    if (seen.incrementAndGet() > limit) throw new IllegalStateException("injected crash")
    a
  }.asNondeterministic()
}
