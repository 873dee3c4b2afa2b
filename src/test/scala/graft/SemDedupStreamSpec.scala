package graft

import graft.operators.Similarity
import graft.streaming.SemDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental SemDeDup store against an INDEPENDENT local oracle:
  * after EVERY batch of any randomized ±op schedule (inserts, takedowns,
  * resurrections, same-batch insert+delete), [[SemDedupStream.serveRemoved]]
  * must equal the q129 walk over the then-surviving corpus — read-your-
  * mask at every prefix, the family discipline. Plus the two store
  * contracts the fuzz cannot see: redelivery of a batch id converges to
  * identical pair content, and compaction at any boundary preserves the
  * serve. */
class SemDedupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val SeedBase: Long =
    sys.env.get("SPARK_GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(0L)

  private def cents = Similarity.trainedCentroids(spark, dir)

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("semdedup").toString + "/store"

  private def ins(df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select($"vec_id", $"vec", lit(1).as("op"))
  }
  private def del(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("vec_id")
      .select($"vec_id", lit(null).cast("array<double>").as("vec"), lit(-1).as("op"))
  }

  // ---- independent local oracle (the SemDedupSpec walk, parametrized
  // by the surviving id set) ---------------------------------------------

  private def cosLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  private def quantize(v: Seq[Double]): Array[Long] = {
    val scale = v.map(math.abs).max / 127.0
    if (scale == 0.0) Array.fill(v.length)(0L)
    else v.map(x => math.floor(x / scale + 0.5).toLong).toArray
  }
  private def intDup(aq: Array[Long], bq: Array[Long]): Boolean = {
    val dot = BigInt(aq.zip(bq).map { case (u, v) => u * v }.sum)
    val na = BigInt(aq.map(x => x * x).sum)
    val nb = BigInt(bq.map(x => x * x).sum)
    na > 0 && nb > 0 && dot >= 0 &&
      BigInt(Similarity.SemDedupDen) * Similarity.SemDedupDen * dot * dot >=
        BigInt(Similarity.SemDedupNum) * Similarity.SemDedupNum * na * nb
  }

  /** (id, cell, codes) for the whole fixture universe, computed once. */
  private lazy val universe: Seq[(Long, Long, Array[Long])] = {
    val emb = Similarity.embeddings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cs = cents.sortBy(_._1)
    emb.map { case (id, v) =>
      val cell = cs.map { case (cid, cv) => (cid, cosLocal(v, cv)) }
        .maxBy { case (cid, s) => (s, -cid) }._1
      (id, cell, quantize(v))
    }.toSeq
  }

  /** q129 over `live` ids: removed → (cell, dup_of, n_dups). */
  private def oracleRemoved(live: Set[Long]): Map[Long, (Long, Long, Long)] =
    universe.filter(m => live(m._1)).groupBy(_._2).toSeq.flatMap {
      case (cell, members) =>
        val sorted = members.sortBy(_._1)
        sorted.flatMap { case (bid, _, bq) =>
          val lower = sorted.takeWhile(_._1 < bid)
            .collect { case (aid, _, aq) if intDup(aq, bq) => aid }
          if (lower.isEmpty) None
          else Some(bid -> ((cell, lower.min, lower.length.toLong)))
        }
    }.toMap

  private def served(store: String): Map[Long, (Long, Long, Long)] =
    SemDedupStream.serveRemoved(spark, store).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  private def byIds(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    Similarity.embeddings(spark, dir).filter($"vec_id".isInCollection(ids))
  }

  test("randomized ±op schedules: serve ≡ local q129 oracle at EVERY prefix, across compaction") {
    val all = universe.map(_._1).filter(_ < 150).sorted
    for (seed <- 0 until 2) {
      val rnd = new scala.util.Random(0x5EDDD ^ SeedBase ^ seed)
      val store = tmpStore()
      var live = Set.empty[Long]
      var nonEmptyServes = 0
      val nBatches = 6
      val compactAfter = 1 + rnd.nextInt(nBatches - 2)
      for (b <- 0 until nBatches) {
        // inserts: a random mix of fresh ids and resurrections/upserts
        val insIds = rnd.shuffle(all).take(20 + rnd.nextInt(40))
        // deletes: drawn from live ∪ a few arbitrary ids (deleting a
        // never-inserted id must be harmless)
        val delIds = rnd.shuffle(live.toSeq).take(rnd.nextInt(12)) ++
          rnd.shuffle(all).take(rnd.nextInt(3))
        // same-batch overlap: ids in both sides — insert must win
        val batch = ins(byIds(insIds)).union(del(delIds))
        SemDedupStream.processBatch(batch, b.toLong, store, cents)
        live = live ++ insIds -- (delIds.toSet -- insIds.toSet)
        val want = oracleRemoved(live)
        val got = served(store)
        assert(got == want,
          s"seed=$seed batch=$b: serve diverged from oracle " +
            s"(got ${got.size}, want ${want.size})")
        if (want.nonEmpty) nonEmptyServes += 1
        if (b == compactAfter) {
          SemDedupStream.compact(spark, store, throughBatch = b.toLong)
          assert(served(store) == want, s"seed=$seed: compaction changed the serve")
        }
      }
      assert(nonEmptyServes >= 3, s"seed=$seed: schedule too weak to witness dups")
    }
  }

  test("redelivery of a batch id converges to identical pair content") {
    import spark.implicits._
    val store = tmpStore()
    val evens = universe.map(_._1).filter(i => i < 100 && i % 2 == 0)
    val odds = universe.map(_._1).filter(i => i < 100 && i % 2 == 1)
    SemDedupStream.processBatch(ins(byIds(evens)), 0L, store, cents)
    SemDedupStream.processBatch(ins(byIds(odds)), 1L, store, cents)
    SemDedupStream.processBatch(del(evens.filter(_ % 10 == 0)), 2L, store, cents)
    def pairsContent(): Seq[(Long, Long, Long, Long, Long, Long)] =
      spark.read.parquet(s"$store/pairs")
        // `batch` is a partition directory column — read back with an
        // inferred narrow type, so cast before getLong
        .select($"a_id", $"a_srcb", $"b_id", $"b_srcb", $"cell",
          $"batch".cast("long").as("batch"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).sorted.toSeq
    val before = pairsContent()
    val serveBefore = served(store)
    // redeliver batch 1 (its rows are already in the store — the strict
    // horizon must reproduce the first delivery's view exactly)
    SemDedupStream.processBatch(ins(byIds(odds)), 1L, store, cents)
    assert(pairsContent() == before, "redelivery changed pair content")
    assert(served(store) == serveBefore, "redelivery changed the serve")
  }

  test("a takedown retracts witnesses: dup_of re-derives, sole-witness removals dissolve") {
    // constructed, not random: find in the oracle a removed member with
    // n_dups == 1 whose single witness we take down — its row must
    // dissolve or re-derive, exercising the exact retraction semantics
    val ids = universe.map(_._1).filter(_ < 200)
    val full = oracleRemoved(ids.toSet)
    val sole = full.collectFirst { case (b, (_, a, 1L)) => (a, b) }
    assume(sole.nonEmpty, "fixture has no sole-witness removal below id 200")
    val (witness, removed) = sole.get
    val store = tmpStore()
    SemDedupStream.processBatch(ins(byIds(ids)), 0L, store, cents)
    assert(served(store) == full)
    SemDedupStream.processBatch(del(Seq(witness)), 1L, store, cents)
    val want = oracleRemoved(ids.toSet - witness)
    val got = served(store)
    assert(got == want, "post-takedown serve diverged")
    assert(!got.get(removed).exists(_._2 == witness),
      "a retired witness still serves as dup_of")
  }

  test("crash window: unmanifested generations leave n_dups unchanged, and compaction repairs them") {
    val store = tmpStore()
    val ids = universe.map(_._1).filter(_ < 150)
    for (b <- 0 to 2)
      SemDedupStream.processBatch(ins(byIds(ids.filter(_ % 3 == b))), b.toLong, store, cents)
    val want = served(store)
    assert(want.nonEmpty, "fixture witnessed no dups — vacuous")
    // a compaction that died after landing its generations but before
    // renaming their manifests in: batches 0–1 of the member and pair
    // stores copied into batch=-1, no _cover_1
    val copied = for (side <- Seq("live", "pairs"); b <- 0 to 1
        if new java.io.File(s"$store/$side/batch=$b").exists) yield {
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$store/$side/batch=$b"), new java.io.File(s"$store/$side/batch=-1"))
      side
    }
    assert(copied.contains("pairs"), "batches 0–1 discovered no pairs — vacuous")
    assert(served(store) == want, "half-landed generation changed the served n_dups")
    SemDedupStream.compact(spark, store, throughBatch = 1L)
    assert(served(store) == want, "repairing compaction changed the serve")
    for (side <- Seq("live", "dead", "pairs")) {
      val gens = new java.io.File(s"$store/$side").listFiles()
        .filter(_.getName.startsWith("batch=-")).map(_.getName).toSet
      assert(gens === Set("batch=-1"), s"$side: expected exactly one generation, got $gens")
    }
  }
}
