package graft

import graft.operators.Similarity
import graft.streaming.AnnDeltaStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The decremental ANN store's liveness contract: after any ±op schedule,
  * [[AnnDeltaStream.liveRows]] must equal the batch assignment of the
  * SURVIVING corpus (frozen codebook); insert wins inside a batch;
  * deletion then re-insertion resurrects; compaction folds through
  * deletes preserving `srcb` provenance — so a tombstone left behind by
  * a crashed compaction can never kill a resurrected vector; redelivery
  * of a batch id converges. */
class AnnDeltaStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def emb: DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
  }

  private def cents = Similarity.trainedCentroids(spark, dir)

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("anndelta").toString + "/store"

  private def ins(df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select($"vec_id", $"vec", lit(1).as("op"))
  }
  private def del(df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select($"vec_id", lit(null).cast("array<double>").as("vec"), lit(-1).as("op"))
  }

  private def liveSet(store: String): Set[(Long, Long)] =
    AnnDeltaStream.liveRows(spark, store).select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet

  private def wantSet(corpus: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    Similarity.assignToCentroids(corpus, cents)
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("±op schedule ≡ batch assignment of the surviving corpus, before and after compaction") {
    import spark.implicits._
    val e = emb.cache()
    val store = tmpStore()
    AnnDeltaStream.processBatch(ins(e.filter($"vec_id" % 2 === 0)), 0L, store, cents)
    AnnDeltaStream.processBatch(ins(e.filter($"vec_id" % 2 === 1)), 1L, store, cents)
    AnnDeltaStream.processBatch(del(e.filter($"vec_id" % 5 === 0)), 2L, store, cents)
    AnnDeltaStream.processBatch(ins(e.filter($"vec_id" % 10 === 0)), 3L, store, cents)
    val surv = e.filter($"vec_id" % 5 =!= 0 || $"vec_id" % 10 === 0)
    val want = wantSet(surv)
    assert(want.size < wantSet(e).size, "deletions must be non-vacuous")
    assert(liveSet(store) === want, "pre-compaction liveness diverged")
    // fold THROUGH the delete batch; the re-insert batch stays live
    AnnDeltaStream.compact(spark, store, throughBatch = 2L)
    assert(liveSet(store) === want, "post-compaction liveness diverged")
    // second compaction folds the generation + live batch — still equal
    AnnDeltaStream.compact(spark, store, throughBatch = 3L)
    assert(liveSet(store) === want, "re-compaction liveness diverged")
  }

  test("insert wins inside a micro-batch; deletion then re-insertion resurrects") {
    import spark.implicits._
    val e = emb.filter($"vec_id" < 20).cache()
    val store = tmpStore()
    // batch 0: vec 3 both inserted and deleted — insert wins
    AnnDeltaStream.processBatch(
      ins(e.filter($"vec_id" <= 5)).union(del(e.filter($"vec_id" === 3))),
      0L, store, cents)
    assert(liveSet(store).map(_._1).contains(3L), "same-batch insert must win")
    // batch 1: delete 3 for real
    AnnDeltaStream.processBatch(del(e.filter($"vec_id" === 3)), 1L, store, cents)
    assert(!liveSet(store).map(_._1).contains(3L), "cross-batch delete must hide")
    // batch 2: resurrect
    AnnDeltaStream.processBatch(ins(e.filter($"vec_id" === 3)), 2L, store, cents)
    assert(liveSet(store).map(_._1).contains(3L), "re-insert must resurrect")
  }

  test("leftover tombstone from a crashed compaction cannot kill a resurrected vector") {
    import spark.implicits._
    val e = emb.filter($"vec_id" < 20).cache()
    val store = tmpStore()
    AnnDeltaStream.processBatch(ins(e), 0L, store, cents)
    AnnDeltaStream.processBatch(del(e.filter($"vec_id" === 7)), 1L, store, cents)
    AnnDeltaStream.processBatch(ins(e.filter($"vec_id" === 7)), 2L, store, cents)
    val want = liveSet(store)
    assert(want.map(_._1).contains(7L))
    AnnDeltaStream.compact(spark, store, throughBatch = 2L)
    assert(liveSet(store) === want)
    // simulate the crash window: the staged generation is in place but the
    // dead/batch=1 tombstone was never deleted — re-create it verbatim
    e.filter($"vec_id" === 7)
      .select($"vec_id", lit(1L).as("deadb"), lit(1L).as("batch"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$store/dead")
    // srcb provenance: vec 7's folded row carries srcb = 2 > deadb = 1,
    // so the leftover tombstone must NOT hide it
    assert(liveSet(store) === want,
      "leftover tombstone killed a resurrected vector — srcb provenance broken")
    // and the re-run compaction converges (tombstone swept, content equal)
    AnnDeltaStream.compact(spark, store, throughBatch = 2L)
    assert(liveSet(store) === want, "re-run compaction diverged")
  }

  test("a re-insert that DRIFTS CELLS retires its stale copy even on a probe of the old cell only") {
    import spark.implicits._
    val e = emb.cache()
    val assigned = Similarity.assignToCentroids(e, cents)
      .select($"vec_id", $"cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pick two vectors in different cells; re-insert X carrying Y's vector
    val sortedAssign = assigned.toSeq.sortBy(_._1)
    val (x, oldCell) = sortedAssign.head
    val (y, newCell) = sortedAssign.find(_._2 != oldCell)
      .getOrElse(fail("fixture degenerate: every vector in one cell"))
    val store = tmpStore()
    AnnDeltaStream.processBatch(ins(e), 0L, store, cents)
    val drifted = e.filter($"vec_id" === y).select(lit(x).as("vec_id"), $"vec")
    AnnDeltaStream.processBatch(ins(drifted), 1L, store, cents)
    def cellsOfX(cs: Seq[Long]) =
      AnnDeltaStream.liveRows(spark, store, Some(cs))
        .filter($"vec_id" === x).select($"cell").collect()
        .map(_.getAs[Number](0).longValue).toSeq
    assert(cellsOfX(Seq(oldCell)).isEmpty,
      "old-cell probe served the stale pre-drift copy")
    assert(cellsOfX(Seq(newCell)) === Seq(newCell),
      "new-cell probe must serve the fresh copy")
    assert(AnnDeltaStream.liveRows(spark, store)
      .filter($"vec_id" === x).count() === 1L, "unpruned read must hold exactly one copy")
    // compaction heals the drift physically and the contract still holds
    AnnDeltaStream.compact(spark, store, throughBatch = 1L)
    assert(cellsOfX(Seq(oldCell)).isEmpty && cellsOfX(Seq(newCell)) === Seq(newCell))
  }

  test("the tombstone join's broadcast gate: threshold parsing + small-store plan hint") {
    import graft.streaming.Stores.broadcastThresholdBytes
    // the suffix forms Spark's byte-string parser accepts for this conf
    assert(broadcastThresholdBytes("10485760") === 10485760L)
    assert(broadcastThresholdBytes("10m") === (10L << 20))
    assert(broadcastThresholdBytes("10MB") === (10L << 20))
    assert(broadcastThresholdBytes("512k") === (512L << 10))
    assert(broadcastThresholdBytes("1g") === (1L << 30))
    assert(broadcastThresholdBytes("-1") === -1L, "disabled must gate the hint off")
    assert(broadcastThresholdBytes("0") === 0L)
    assert(broadcastThresholdBytes("1t") === (1L << 40))
    assert(broadcastThresholdBytes("2TB") === (2L << 40))
    assert(broadcastThresholdBytes("1p") === (1L << 50))
    // anything the parser cannot read degrades to "no hint", never a
    // serve-path crash on an unusual-but-legal session conf
    assert(broadcastThresholdBytes("") === -1L)
    assert(broadcastThresholdBytes("  ") === -1L)
    assert(broadcastThresholdBytes("tenmb") === -1L)
    assert(broadcastThresholdBytes("10x") === -1L)
    // a tiny tombstone store sits far under the default threshold, so the
    // serve plan must carry the broadcast; a bulk-ingest store past the
    // threshold falls back to the planner (exercised by the parser cases
    // above — mutating the shared session's threshold here would race
    // other suites' plan assertions)
    import spark.implicits._
    val e = emb.cache()
    val store = tmpStore()
    AnnDeltaStream.processBatch(ins(e.limit(20)), 0L, store, cents)
    AnnDeltaStream.processBatch(del(e.limit(3)), 1L, store, cents)
    val plan = AnnDeltaStream.liveRows(spark, store)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small tombstone store must broadcast the liveness join:\n$plan")
  }

  test("a store that has only ever seen tombstones serves empty, not a crash") {
    import spark.implicits._
    val e = emb.filter($"vec_id" < 10).cache()
    val store = tmpStore()
    AnnDeltaStream.processBatch(del(e), 0L, store, cents)
    assert(AnnDeltaStream.liveRows(spark, store).count() === 0L)
    assert(AnnDeltaStream.serveTopK(spark, dir, store, cents).count() === 0L)
  }

  test("redelivery of a batch id converges; serve excludes deleted ids") {
    import spark.implicits._
    val e = emb.cache()
    val store = tmpStore()
    AnnDeltaStream.processBatch(ins(e), 0L, store, cents)
    AnnDeltaStream.processBatch(del(e.filter($"vec_id" % 5 === 0)), 1L, store, cents)
    val want = liveSet(store)
    // redeliver both (crash-replay): content must converge, not double
    AnnDeltaStream.processBatch(ins(e), 0L, store, cents)
    AnnDeltaStream.processBatch(del(e.filter($"vec_id" % 5 === 0)), 1L, store, cents)
    assert(liveSet(store) === want, "redelivery diverged")
    val served = AnnDeltaStream.serveTopK(spark, dir, store, cents)
      .collect().map(_.getLong(1))
    assert(served.nonEmpty, "serve returned nothing — vacuous")
    assert(served.forall(id => id % 5 != 0), "serve returned a deleted vector")
  }

  test("the liveness-resolved serve's candidate scan prunes on cell") {
    import spark.implicits._
    val e = emb.cache()
    val store = tmpStore()
    AnnDeltaStream.processBatch(ins(e.filter($"vec_id" % 2 === 0)), 0L, store, cents)
    AnnDeltaStream.processBatch(del(e.filter($"vec_id" % 4 === 0)), 1L, store, cents)
    AnnDeltaStream.compact(spark, store, throughBatch = 0L)
    val plan = AnnDeltaStream.serveTopK(spark, dir, store, cents)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
  }
}
