package graft

import graft.operators.Similarity
import graft.streaming.AnnStream
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A stream-ingested embedding corpus must index to the SAME content a
  * batch build over the union corpus produces (frozen codebook ⇒ equality
  * by construction), under any batch partitioning; probes against the
  * streamed index must equal probes against the batch index; replaying a
  * batch id must converge, not double-append. */
class AnnStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def emb: DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
  }

  private def cents = Similarity.trainedCentroids(spark, dir)

  private def streamSliced(slices: Seq[DataFrame]): String = {
    val root = java.nio.file.Files.createTempDirectory("annstream").toString
    val (vecsDir, indexDir) = (s"$root/vecs", s"$root/index")
    new java.io.File(vecsDir).mkdirs()
    slices.zipWithIndex.foreach { case (sl, i) =>
      sl.coalesce(1).write.parquet(s"$root/slice_$i")
      val part = new java.io.File(s"$root/slice_$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$vecsDir/vec_$i.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/slice_$i"))
    }
    AnnStream.start(spark, vecsDir, indexDir, cents).awaitTermination()
    indexDir
  }

  private def assignments(indexDir: String): Set[(Long, Long)] =
    // cell is a PARTITION column on read — directory-name inference types
    // it IntegerType, so read it numerically rather than as Long
    spark.read.parquet(indexDir).select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet

  test("streamed index ≡ batch assignment, under two different batch splits") {
    import spark.implicits._
    val e = emb.cache()
    val want = Similarity.assignToCentroids(e, cents)
      .select($"vec_id", $"cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byThirds = streamSliced(Seq(
      e.filter($"vec_id" % 3 === 0), e.filter($"vec_id" % 3 === 1), e.filter($"vec_id" % 3 === 2)))
    val byHalves = streamSliced(Seq(
      e.filter($"vec_id" < 250), e.filter($"vec_id" >= 250)))
    assert(assignments(byThirds) === want, "three-batch stream diverged from batch assignment")
    assert(assignments(byHalves) === want, "two-batch stream diverged from batch assignment")
  }

  test("probe against the streamed index ≡ probe against the batch-built index") {
    import spark.implicits._
    val e = emb.cache()
    val streamed = streamSliced(Seq(e.filter($"vec_id" % 2 === 0), e.filter($"vec_id" % 2 === 1)))
    val batchDir = java.nio.file.Files.createTempDirectory("annbatch").toString + "/index"
    Similarity.assignToCentroids(e, cents).write
      .partitionBy("cell").parquet(batchDir)
    val qvec = e.filter($"vec_id" === Similarity.QueryVecId).collect()(0).getSeq[Double](1)
    // probe the 2 nearest cells by centroid cosine (driver-side: k cells)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cells = cents.sortBy { case (_, v) => -cos(qvec, v) }.take(2).map(_._1)
    val got = AnnStream.query(spark, streamed, qvec, cells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.queryIvfIndex(spark, batchDir, qvec, cells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want, "streamed-index probe diverged from batch-index probe")
    assert(got.nonEmpty, "probe returned nothing — vacuous")
  }

  test("compaction: content-neutral, probe-identical, batch count collapses") {
    import spark.implicits._
    val e = emb.cache()
    val streamed = streamSliced(Seq(
      e.filter($"vec_id" % 3 === 0), e.filter($"vec_id" % 3 === 1), e.filter($"vec_id" % 3 === 2)))
    val before = assignments(streamed)
    val qvec = e.filter($"vec_id" === Similarity.QueryVecId).collect()(0).getSeq[Double](1)
    val cells = cents.map(_._1).take(2)
    val probeBefore = AnnStream.query(spark, streamed, qvec, cells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    AnnStream.compact(spark, streamed, throughBatch = 2L)
    assert(assignments(streamed) === before, "compaction changed index content")
    def batches = new java.io.File(streamed).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(batches === Set("batch=-1"), s"expected one consolidated generation, got $batches")
    val probeAfter = AnnStream.query(spark, streamed, qvec, cells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeAfter === probeBefore, "probe diverged after compaction")
    // a checkpoint-resumed stream re-delivering an already-compacted id
    // must only overwrite its own (now absent) non-negative partition —
    // the staged generation is out of its reach
    val replaySlice = e.filter($"vec_id" % 3 === 0)
    AnnStream.processBatch(replaySlice, 0L, streamed, cents)
    assert(assignments(streamed) === before, "live redelivery clobbered the compacted corpus")
    // and the next compaction folds the redelivered batch AND the prior
    // generation into a fresh one, still content-neutral
    AnnStream.compact(spark, streamed, throughBatch = 2L)
    assert(assignments(streamed) === before, "re-compaction changed index content")
    assert(batches === Set("batch=-2"), s"expected generation -2, got $batches")
  }

  test("crash window: an unmanifested generation leaves the probe unchanged, and compaction repairs it") {
    import spark.implicits._
    val e = emb.cache()
    val streamed = streamSliced(Seq(
      e.filter($"vec_id" % 3 === 0), e.filter($"vec_id" % 3 === 1), e.filter($"vec_id" % 3 === 2)))
    val qvec = Similarity.queryVector(spark, dir)
    val cells = Similarity.probeCells(qvec, cents)
    def probe(): Seq[(Long, Double)] = AnnStream.query(spark, streamed, qvec, cells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = probe()
    assert(want.nonEmpty, "probe returned nothing — vacuous")
    // a fold that died after landing its generation but before renaming
    // its manifest in: batches 0–1 copied into batch=-1, no _cover_1
    for (b <- 0 to 1) org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$streamed/batch=$b"), new java.io.File(s"$streamed/batch=-1"))
    val got = probe()
    assert(got.map(_._1).distinct.length === got.length, s"duplicate vec_ids served: $got")
    assert(got === want, "half-landed generation changed the probe")
    AnnStream.compact(spark, streamed, throughBatch = 1L)
    assert(probe() === want, "repairing compaction changed the probe")
    val gens = new java.io.File(streamed).listFiles()
      .filter(_.getName.startsWith("batch=-")).map(_.getName).toSet
    assert(gens === Set("batch=-1"), s"expected exactly one generation, got $gens")
  }

  test("the streamed probe's candidate scan prunes on cell") {
    import spark.implicits._
    val e = emb.cache()
    val streamed = streamSliced(Seq(e.filter($"vec_id" % 2 === 0), e.filter($"vec_id" % 2 === 1)))
    AnnStream.compact(spark, streamed, throughBatch = 0L)
    val qvec = Similarity.queryVector(spark, dir)
    val plan = AnnStream.query(spark, streamed, qvec, Similarity.probeCells(qvec, cents))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
  }

  test("restart after compaction: durable checkpoint prevents re-indexing folded files") {
    import spark.implicits._
    val e = emb.cache()
    val root = java.nio.file.Files.createTempDirectory("annrestart").toString
    val (vecsDir, indexDir) = (s"$root/vecs", s"$root/index")
    new java.io.File(vecsDir).mkdirs()
    def addSlice(sl: DataFrame, i: Int): Unit = {
      sl.coalesce(1).write.parquet(s"$root/slice_$i")
      val part = new java.io.File(s"$root/slice_$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$vecsDir/vec_$i.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/slice_$i"))
    }
    addSlice(e.filter($"vec_id" < 250), 0)
    AnnStream.start(spark, vecsDir, indexDir, cents).awaitTermination()
    AnnStream.compact(spark, indexDir, throughBatch = 0L)
    // a SECOND query lifetime over the same dirs after compaction: with a
    // temp checkpoint it would re-list vec_0 and re-create its batch
    // partitions BESIDE generation -1, duplicating every folded vector
    addSlice(e.filter($"vec_id" >= 250), 1)
    AnnStream.start(spark, vecsDir, indexDir, cents).awaitTermination()
    val rows = spark.read.parquet(indexDir).select($"vec_id")
      .collect().map(_.getLong(0))
    assert(rows.length === rows.distinct.length,
      "restart re-indexed compacted files — duplicate vec_ids in the index")
    val want = Similarity.assignToCentroids(e, cents)
      .select($"vec_id", $"cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assignments(indexDir) === want, "post-restart index diverged from batch assignment")
  }

  test("batch replay is idempotent: index content identical after redelivery") {
    import spark.implicits._
    val e = emb.cache()
    val root = java.nio.file.Files.createTempDirectory("annreplay").toString
    val indexDir = s"$root/index"
    val b0 = e.filter($"vec_id" < 100)
    val b1 = e.filter($"vec_id" >= 100)
    AnnStream.processBatch(b0, 0L, indexDir, cents)
    AnnStream.processBatch(b1, 1L, indexDir, cents)
    val before = assignments(indexDir)
    val rowsBefore = spark.read.parquet(indexDir).count()
    AnnStream.processBatch(b0, 0L, indexDir, cents) // redelivery
    assert(assignments(indexDir) === before, "replay changed index content")
    assert(spark.read.parquet(indexDir).count() === rowsBefore, "replay duplicated rows")
  }
}
