package graft

import graft.streaming.{AnnDeltaStream, CcStream, FunnelStream, KCoreStream, SsspDeltaStream, TriangleStream, TrussStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Randomized ±op schedule fuzzing for the CC maintainer — the
  * fixed-schedule suites (CcDeltaSpec) pin the KNOWN hard cases (splits,
  * isolation tombstones, delete→re-insert across compaction); this suite
  * drives RANDOM schedules through the same machinery and checks the
  * served labels against an independent driver-side union-find over the
  * fold-derived surviving edge set. Random schedules reach the orderings
  * a hand fixture never writes down: deletes of never-inserted edges,
  * double-deletes, insert+delete of the same edge in one batch (insert
  * wins, per the family convention), re-inserts of still-live edges,
  * compaction at an arbitrary cut, and redelivery of the final batch.
  *
  * Deterministic: fixed seed; a failing case prints its full schedule,
  * so it reproduces as a one-line fixture.
  *
  * Round 18: every draw from a lane's RNG happens SEQUENTIALLY up front
  * (schedule, compaction flags, redelivery — the same consumption order
  * the old interleaved loop used, so the cases are bit-identical to the
  * r17 suite), and the fully-planned cases then execute CONCURRENTLY,
  * each against its own temp store. The lanes were 2,368 s of
  * back-to-back tiny Spark jobs — pure driver/IO latency that concurrent
  * jobs overlap (guide §2.6); coverage is unchanged. */
class StreamScheduleFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** XORed into every lane's fixed seed: CI and the checked-in default
    * stay deterministic (0), while `SPARK_GRAFT_FUZZ_SEED=<n> sbt
    * "testOnly graft.StreamScheduleFuzzSpec"` explores a fresh seed
    * family on demand — any divergence still prints the full schedule,
    * so it lands back in the repo as a fixed-case regression. */
  private val SeedBase: Long =
    sys.env.get("SPARK_GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(0L)

  /** Wall-clock bound on one lane. The slowest lane takes ~2.5 min on a
    * 4-core box, so this only trips on a hang. */
  private val LaneTimeout: FiniteDuration = 20.minutes

  /** Execute independent fully-planned fuzz cases concurrently. Every
    * case's plan was already drawn from the lane RNG, so execution order
    * cannot perturb determinism; each case owns its temp store. All
    * failures surface (first thrown, rest printed), matching the
    * sequential lane's fail-with-schedule contract. A lane still running
    * after [[LaneTimeout]] fails with the plans of its unfinished cases —
    * each plan prints its full schedule — and its workers are interrupted. */
  private def inParallel[P](plans: Seq[P], threads: Int = 8)(run: P => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = plans.map(p => Future(run(p)))
      val deadline = LaneTimeout.fromNow
      futs.foreach(f => scala.util.Try(Await.ready(f, deadline.timeLeft.max(Duration.Zero))))
      val outcomes = futs.map(_.value) // one snapshot: None = still running
      val errs = outcomes.flatten.flatMap(_.failed.toOption)
      if (errs.size > 1) errs.tail.foreach(e =>
        System.err.println(s"[fuzz] additional failure: ${e.getMessage}"))
      val unfinished = plans.zip(outcomes).collect { case (p, None) => p }
      if (unfinished.nonEmpty)
        fail(s"lane still running after $LaneTimeout: ${unfinished.size} of ${plans.size} " +
          s"cases unfinished; planned schedules:\n${unfinished.mkString("\n")}")
      errs.headOption.foreach(e => throw e)
    } finally pool.shutdownNow()
  }

  private def tmp() =
    java.nio.file.Files.createTempDirectory("ccfuzz").toString + "/store"

  private def ev(rows: Seq[(Long, Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst", "op")
  }

  private def snap(store: String): Map[Long, Long] =
    CcStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def survivors(
      schedule: Seq[Seq[(Long, Long, Int)]]): Set[(Long, Long)] =
    FuzzOracles.survivors(schedule)

  private def unionFind(edges: Set[(Long, Long)]): Map[Long, Long] =
    FuzzOracles.unionFind(edges)

  /** One ±op pair-schedule case, fully drawn before execution: the batch
    * schedule, the per-boundary compaction flags (batches 0..n−2, the
    * draw order of the old interleaved loop) and the final-batch
    * redelivery flag. Shared by the CC / k-core lanes (and, with the
    * weighted wrapper, SSSP). */
  private case class PairPlan(c: Int, n: Int,
      schedule: Seq[Seq[(Long, Long, Int)]],
      compactAfter: Seq[Boolean], redeliver: Boolean)

  private def drawPairPlan(rnd: scala.util.Random, c: Int, maxExtraNodes: Int): PairPlan = {
    val n = 5 + rnd.nextInt(maxExtraNodes)
    val universe = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
    } yield (a, b)).toIndexedSeq
    val nBatches = 2 + rnd.nextInt(3)
    val schedule = Seq.fill(nBatches) {
      val k = 1 + rnd.nextInt(math.max(1, universe.size / 2))
      Seq.fill(k) {
        val (a, b) = universe(rnd.nextInt(universe.size))
        (a, b, if (rnd.nextInt(3) == 0) -1 else 1)
      }
    }
    val compactAfter = (0 until nBatches - 1).map(_ => rnd.nextInt(4) == 0)
    PairPlan(c, n, schedule, compactAfter, rnd.nextBoolean())
  }

  test("25 random ±op schedules ≡ union-find on survivors (compaction + redelivery mixed in)") {
    val rnd = new scala.util.Random(0xCC5EED ^ SeedBase)
    val plans = (1 to 25).map(c => drawPairPlan(rnd, c, 8)) // 5..12 nodes
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        CcStream.processBatch(ev(batch), i.toLong, store)
        // mid-stream serve (round 17): every prefix must already serve
        // exactly its own survivors, not just the final state
        assert(snap(store) === unionFind(survivors(p.schedule.take(i + 1))),
          s"case ${p.c} serve@batch$i diverged.\nschedule=${p.schedule}")
        // compact mid-stream at a random boundary, at most once per case
        if (i < nBatches - 1 && p.compactAfter(i))
          CcStream.compact(spark, store, throughBatch = i.toLong)
      }
      // redelivery of the final batch (the only batch a real stream can
      // redeliver after a crash) must converge
      if (p.redeliver)
        CcStream.processBatch(ev(p.schedule.last), (nBatches - 1).toLong, store)
      val want = unionFind(survivors(p.schedule))
      val got = snap(store)
      assert(got === want,
        s"case ${p.c} (n=${p.n}) diverged.\nschedule=${p.schedule}\nwant=$want\ngot=$got")
    }
  }

  // ---- triangle maintainer: random ±op WITNESS schedules --------------

  private def bruteTriangles(pairs: Set[(Long, Long)],
      cap: Long): Map[Long, Long] = FuzzOracles.bruteTriangles(pairs, cap)

  private def evTri(rows: Seq[(Long, Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("p", "su", "op")
  }

  private def triSnap(store: String): Map[Long, Long] =
    TriangleStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private case class TriPlan(c: Int, nParts: Int, nSus: Int, cap: Long,
      schedule: Seq[Seq[(Long, Long, Int)]],
      compactAfter: Seq[Boolean], redeliver: Boolean)

  test("20 random ±op witness schedules ≡ brute-force triangles on survivors (low cap: crossings in reach)") {
    val rnd = new scala.util.Random(0x731F5EED ^ SeedBase)
    val plans = (1 to 20).map { c =>
      val nParts = 4 + rnd.nextInt(4) // 4..7 parts
      val nSus = 2 + rnd.nextInt(3) // 2..4 suppliers
      val cap = 2L + rnd.nextInt(3) // 2..4 — deletions can UNCROSS the cap
      val universe = (for {
        p <- 0L until nParts.toLong; s <- 100L until (100L + nSus)
      } yield (p, s)).toIndexedSeq
      val nBatches = 2 + rnd.nextInt(3)
      val schedule = Seq.fill(nBatches) {
        val k = 1 + rnd.nextInt(math.max(1, universe.size / 2))
        Seq.fill(k) {
          val (p, su) = universe(rnd.nextInt(universe.size))
          (p, su, if (rnd.nextInt(3) == 0) -1 else 1)
        }
      }
      val compactAfter = (0 until nBatches - 1).map(_ => rnd.nextInt(4) == 0)
      TriPlan(c, nParts, nSus, cap, schedule, compactAfter, rnd.nextBoolean())
    }
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        TriangleStream.processBatch(evTri(batch), i.toLong, store, p.cap)
        // mid-stream serve: the executed prefix must already serve its
        // counts (the round-17 discipline)
        val wantNow = bruteTriangles(survivors(p.schedule.take(i + 1)), p.cap)
        assert(triSnap(store) === wantNow,
          s"case ${p.c} batch $i: mid-stream counts diverged.\nschedule=${p.schedule}")
        if (i < nBatches - 1 && p.compactAfter(i)) {
          TriangleStream.compact(spark, store, throughBatch = i.toLong)
          assert(triSnap(store) === wantNow,
            s"case ${p.c} batch $i: compaction changed the counts")
        }
      }
      if (p.redeliver)
        TriangleStream.processBatch(evTri(p.schedule.last), (nBatches - 1).toLong,
          store, p.cap)
      val want = bruteTriangles(survivors(p.schedule), p.cap)
      val got = triSnap(store)
      assert(got === want,
        s"case ${p.c} (parts=${p.nParts} sus=${p.nSus} cap=${p.cap}) diverged." +
          s"\nschedule=${p.schedule}\nwant=$want\ngot=$got")
    }
  }

  // ---- decremental SSSP: random ±op weighted-edge schedules -----------

  /** Pair weight is a pure function of the endpoints, so a re-insert
    * always carries the pair's original weight (multi-weight re-inserts
    * are a different contract; the fixed function keeps the fuzz inside
    * the documented one). */
  private def wOf(a: Long, b: Long): Long = 1L + (a * 7 + b * 13) % 5

  private def dijkstra(edges: Set[(Long, Long)], source: Long,
      budget: Long): Map[Long, Long] =
    FuzzOracles.dijkstra(edges, wOf, source, budget)

  private def evW(rows: Seq[(Long, Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.map { case (a, b, op) => (a, b, if (op == 1) wOf(a, b) else 0L, op) }
      .toDF("src", "dst", "w", "op")
  }

  test("20 random ±op weighted schedules ≡ driver Dijkstra on survivors (lengthen/disconnect/resurrect reached)") {
    val rnd = new scala.util.Random(0x55595EED ^ SeedBase)
    val plans = (1 to 20).map(c => drawPairPlan(rnd, c, 6)) // 5..10 nodes
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        SsspDeltaStream.processBatch(evW(batch), i.toLong, store,
          source = 0L, budget = 64L)
        // mid-stream serve (round 17): each prefix must already serve
        // its own exact distances — a deletion's damage repair and
        // tombstones visible at the very batch that caused them
        assert(SsspDeltaStream.snapshot(spark, store).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          === dijkstra(survivors(p.schedule.take(i + 1)), 0L, 64L),
          s"case ${p.c} serve@batch$i diverged.\nschedule=${p.schedule}")
        if (i < nBatches - 1 && p.compactAfter(i))
          SsspDeltaStream.compact(spark, store, throughBatch = i.toLong)
      }
      if (p.redeliver)
        SsspDeltaStream.processBatch(evW(p.schedule.last), (nBatches - 1).toLong,
          store, source = 0L, budget = 64L)
      val want = dijkstra(survivors(p.schedule), 0L, 64L)
      val got = SsspDeltaStream.snapshot(spark, store).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want,
        s"case ${p.c} (n=${p.n}) diverged.\nschedule=${p.schedule}\nwant=$want\ngot=$got")
    }
  }

  // ---- k-core: random ±op schedules ------------------------------------

  private def brutePeel(edges: Set[(Long, Long)], k: Int): Map[Long, Long] =
    FuzzOracles.brutePeel(edges, k)

  test("20 random ±op schedules ≡ driver synchronous peel on survivors (k-core)") {
    val rnd = new scala.util.Random(0x6C07E5EEDL ^ SeedBase)
    val plans = (1 to 20).map(c => drawPairPlan(rnd, c, 6)) // 5..10 nodes
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      def kcSnap(): Map[Long, Long] = KCoreStream.snapshot(spark, store)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        KCoreStream.processBatch(ev(batch), i.toLong, store)
        // mid-stream serve (round-17 discipline)
        val wantNow = brutePeel(survivors(p.schedule.take(i + 1)),
          graft.operators.GraphQueries.KCoreK)
        assert(kcSnap() === wantNow,
          s"case ${p.c} batch $i: mid-stream peel diverged.\nschedule=${p.schedule}")
        if (i < nBatches - 1 && p.compactAfter(i)) {
          KCoreStream.compact(spark, store, throughBatch = i.toLong)
          assert(kcSnap() === wantNow,
            s"case ${p.c} batch $i: compaction changed the peel")
        }
      }
      if (p.redeliver)
        KCoreStream.processBatch(ev(p.schedule.last), (nBatches - 1).toLong, store)
      val want = brutePeel(survivors(p.schedule), graft.operators.GraphQueries.KCoreK)
      val got = kcSnap()
      assert(got === want,
        s"case ${p.c} (n=${p.n}) diverged.\nschedule=${p.schedule}\nwant=$want\ngot=$got")
    }
  }

  // ---- k-truss: random ±op projected-edge schedules --------------------

  private def bruteTruss(edges: Set[(Long, Long)],
      k: Int): Map[(Long, Long), Long] = FuzzOracles.bruteTruss(edges, k)

  private case class TrussPlan(c: Int, n: Int, k: Int,
      schedule: Seq[Seq[(Long, Long, Int)]],
      compactAfter: Seq[Boolean], redeliver: Boolean)

  test("12 random ±op schedules ≡ driver support peel on survivors (k-truss, the CC+peel composition)") {
    val rnd = new scala.util.Random(0x7055EEDL ^ SeedBase)
    val plans = (1 to 12).map { c =>
      val n = 5 + rnd.nextInt(4) // 5..8 nodes: dense enough for triangles
      val k = 3 + rnd.nextInt(2) // 3..4: support thresholds 1..2
      val universe = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
      } yield (a, b)).toIndexedSeq
      val nBatches = 2 + rnd.nextInt(2)
      val schedule = Seq.fill(nBatches) {
        val kOps = 1 + rnd.nextInt(math.max(1, (universe.size * 2) / 3))
        Seq.fill(kOps) {
          val (a, b) = universe(rnd.nextInt(universe.size))
          (a, b, if (rnd.nextInt(4) == 0) -1 else 1) // denser: triangles form
        }
      }
      val compactAfter = (0 until nBatches - 1).map(_ => rnd.nextInt(4) == 0)
      TrussPlan(c, n, k, schedule, compactAfter, rnd.nextBoolean())
    }
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      def trSnap(): Map[(Long, Long), Long] = TrussStream.snapshot(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        TrussStream.processBatch(ev(batch).toDF("a", "b", "op"), i.toLong,
          store, k = p.k)
        // mid-stream serve (round-17 discipline)
        val wantNow = bruteTruss(survivors(p.schedule.take(i + 1)), p.k)
        assert(trSnap() === wantNow,
          s"case ${p.c} batch $i: mid-stream support peel diverged.\nschedule=${p.schedule}")
        if (i < nBatches - 1 && p.compactAfter(i)) {
          TrussStream.compact(spark, store, throughBatch = i.toLong)
          assert(trSnap() === wantNow,
            s"case ${p.c} batch $i: compaction changed the support peel")
        }
      }
      if (p.redeliver)
        TrussStream.processBatch(ev(p.schedule.last).toDF("a", "b", "op"),
          (nBatches - 1).toLong, store, k = p.k)
      val want = bruteTruss(survivors(p.schedule), p.k)
      val got = trSnap()
      assert(got === want,
        s"case ${p.c} (n=${p.n} k=${p.k}) diverged.\nschedule=${p.schedule}\nwant=$want\ngot=$got")
    }
  }

  // ---- funnel: random ±op EVENT schedules (round-15 retraction) -------

  /** Same liveness fold keyed by the event TRIPLE: latest batch decides,
    * insert wins in-batch, retraction is NOT terminal (the q113
    * contract, unlike document takedowns). */
  private def survivingEvents(
      schedule: Seq[Seq[(Long, String, Long, Int)]]): Seq[(Long, String, Long)] = {
    val state = scala.collection.mutable.Map.empty[(Long, String, Long), Int]
    schedule.foreach { batch =>
      batch.groupBy(e => (e._1, e._2, e._3)).foreach { case (triple, ops) =>
        state(triple) = if (ops.exists(_._4 == 1)) 1 else -1
      }
    }
    state.filter(_._2 == 1).keys.toSeq
  }

  private case class FunnelPlan(c: Int,
      schedule: Seq[Seq[(Long, String, Long, Int)]],
      compactCut: Seq[Option[Long]], redeliver: Boolean)

  test("15 random ±op event schedules ≡ batch funnel on surviving events") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xF0E15EEDL ^ SeedBase)
    val types = Seq("view", "click", "purchase")
    val plans = (1 to 15).map { c =>
      val nUsers = 2 + rnd.nextInt(3) // 2..4 users
      val nTs = 5 + rnd.nextInt(5) // 5..9 distinct timestamps
      val universe = (for {
        u <- 1L to nUsers.toLong; t <- types; ts <- 1L to nTs.toLong
      } yield (u, t, ts * 1000L)).toIndexedSeq
      val nBatches = 2 + rnd.nextInt(3)
      val schedule = Seq.fill(nBatches) {
        val k = 1 + rnd.nextInt(math.max(1, universe.size / 3))
        Seq.fill(k) {
          val (u, t, ts) = universe(rnd.nextInt(universe.size))
          (u, t, ts, if (rnd.nextInt(3) == 0) -1 else 1)
        }
      }
      // compaction cut at a RANDOM boundary ≤ the current batch (same
      // draw order as the interleaved loop: flag, then the cut)
      val compactCut = (0 until nBatches - 1).map { i =>
        if (rnd.nextInt(4) == 0) Some(rnd.nextInt(i + 1).toLong) else None
      }
      FunnelPlan(c, schedule, compactCut, rnd.nextBoolean())
    }
    def funnelOf(prefix: Seq[Seq[(Long, String, Long, Int)]]): Map[Long, (Long, Option[Long])] = {
      val surv = survivingEvents(prefix)
      if (surv.isEmpty) Map.empty
      else graft.operators.TemporalJoins.funnelStages(
        surv.toDF("user_id", "event_type", "ts_us")).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    }
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      def snapF(): Map[Long, (Long, Option[Long])] =
        FunnelStream.snapshot(spark, store).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        FunnelStream.processBatch(
          batch.toDF("user_id", "event_type", "ts_us", "op"), i.toLong, store)
        // mid-stream serve: every executed prefix already answers as the
        // batch funnel over its surviving events (the round-17 discipline)
        assert(snapF() === funnelOf(p.schedule.take(i + 1)),
          s"case ${p.c} batch $i: mid-stream funnel diverged.\nschedule=${p.schedule}")
        // a cut BELOW a later retraction leaves that retraction live
        // against the folded generation, so the generation's preserved
        // liveness columns must keep resolving against it (the state
        // shape a current-boundary-only cut never produces)
        if (i < nBatches - 1) p.compactCut(i).foreach { cut =>
          FunnelStream.compact(spark, store, throughBatch = cut)
          assert(snapF() === funnelOf(p.schedule.take(i + 1)),
            s"case ${p.c} batch $i: compaction changed the mid-stream funnel")
        }
      }
      if (p.redeliver)
        FunnelStream.processBatch(
          p.schedule.last.toDF("user_id", "event_type", "ts_us", "op"),
          (nBatches - 1).toLong, store)
      val surv = survivingEvents(p.schedule)
      val want =
        if (surv.isEmpty) Map.empty[Long, (Long, Option[Long])]
        else graft.operators.TemporalJoins.funnelStages(
          surv.toDF("user_id", "event_type", "ts_us")).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      val got = snapF()
      assert(got === want,
        s"case ${p.c} diverged.\nschedule=${p.schedule}\nwant=$want\ngot=$got")
    }
  }

  // ---- ANN: random ±op schedules WITH CELL DRIFT ------------------------

  /** The upsert-tombstone redesign's hardest input: re-inserts whose
    * vector DIFFERS from the original (a drift to another cell strands a
    * stale copy the probe would otherwise serve — the r14 ADVICE medium
    * finding). Each id's vector is drawn fresh from the real corpus per
    * re-insert, so drift is the common case, not a corner. Liveness is
    * per-ID here (an event supersedes ALL older copies of its id), not
    * per-pair. Oracle: batch assignment of the surviving (id → freshest
    * vector) corpus under the frozen codebook, vectors compared
    * byte-for-byte so a served stale copy cannot hide in a same-cell
    * coincidence — asserted after EVERY batch and every mid-stream
    * compaction, not just at the end (the round-17 mid-stream-serve
    * discipline). */
  private case class AnnPlan(c: Int, nIds: Int,
      schedule: Seq[Seq[(Long, Option[Array[Double]])]],
      compactAfter: Seq[Boolean], redeliver: Boolean)

  test("15 random ±op vector schedules with drift ≡ batch assignment of survivors (ANN)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val cents = graft.operators.Similarity.trainedCentroids(spark, dir)
    val pool = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
      .orderBy($"vec_id").limit(40).collect()
      .map(_.getSeq[Double](1).toArray)
    val rnd = new scala.util.Random(0xA115EEDL ^ SeedBase)
    val plans = (1 to 15).map { c =>
      val nIds = 4 + rnd.nextInt(5) // 4..8 vec ids
      val nBatches = 2 + rnd.nextInt(3)
      // at most one op per id per batch (two same-batch inserts of one id
      // with different vectors is outside the documented contract)
      val schedule = Seq.fill(nBatches) {
        rnd.shuffle((0L until nIds.toLong).toList)
          .take(1 + rnd.nextInt(nIds))
          .map { id =>
            if (rnd.nextInt(3) == 0) (id, None)
            else (id, Some(pool(rnd.nextInt(pool.length))))
          }
      }
      val compactAfter = (0 until nBatches - 1).map(_ => rnd.nextInt(4) == 0)
      AnnPlan(c, nIds, schedule, compactAfter, rnd.nextBoolean())
    }
    inParallel(plans) { p =>
      val nBatches = p.schedule.size
      val store = tmp()
      def frame(batch: Seq[(Long, Option[Array[Double]])]): DataFrame =
        batch.map {
          case (id, Some(v)) => (id, v, 1)
          case (id, None) => (id, null.asInstanceOf[Array[Double]], -1)
        }.toDF("vec_id", "vec", "op")
      // driver fold: per id, the LAST op across executed batches decides
      // (one op per id per batch, so no in-batch tie exists by
      // construction) — maintained incrementally so EVERY prefix serves
      // (the round-17 mid-stream discipline, ANN joining CC / dedup /
      // sssp_delta)
      val state = scala.collection.mutable.Map.empty[Long, Option[Array[Double]]]
      def wantNow(): Set[(Long, Long, Seq[Double])] = {
        val surviving = state.toSeq.collect { case (id, Some(v)) => (id, v) }
        if (surviving.isEmpty) Set.empty[(Long, Long, Seq[Double])]
        else graft.operators.Similarity.assignToCentroids(
          surviving.toDF("vec_id", "vec"), cents)
          .select($"vec_id", $"cell", $"vec").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSet
      }
      def gotNow(): Set[(Long, Long, Seq[Double])] =
        AnnDeltaStream.liveRows(spark, store)
          .select($"vec_id", $"cell", $"vec").collect()
          .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getSeq[Double](2)))
          .toSet
      p.schedule.zipWithIndex.foreach { case (batch, i) =>
        AnnDeltaStream.processBatch(frame(batch), i.toLong, store, cents)
        batch.foreach { case (id, v) => state(id) = v }
        assert(gotNow() === wantNow(),
          s"case ${p.c} batch $i: mid-stream liveness fold diverged")
        if (i < nBatches - 1 && p.compactAfter(i)) {
          AnnDeltaStream.compact(spark, store, throughBatch = i.toLong)
          assert(gotNow() === wantNow(),
            s"case ${p.c} batch $i: compaction changed the mid-stream fold")
        }
      }
      if (p.redeliver)
        AnnDeltaStream.processBatch(frame(p.schedule.last),
          (nBatches - 1).toLong, store, cents)
      assert(gotNow() === wantNow(),
        s"case ${p.c} (ids=${p.nIds}) diverged on the liveness fold")
    }
  }

  // ---- dedup takedowns: random insert/retire schedules ------------------

  /** Insert/retire batch list plus the execution-time draws, fully
    * planned: retirement is terminal so the retire candidates are a
    * deterministic function of the prefix, and the compaction / purge /
    * redelivery draws follow the same RNG order the interleaved loops
    * used. */
  private case class DedupPlan(c: Int, batches: Seq[(Boolean, Seq[Long])],
      retired: Set[Long], compactAfter: Seq[Boolean],
      purgeAfter: Seq[Boolean], redeliver: Boolean)

  private def drawDedupBatches(rnd: scala.util.Random,
      allIds: Seq[Long]): (Seq[(Boolean, Seq[Long])], Set[Long]) = {
    val insBatches = rnd.shuffle(allIds).grouped(
      math.ceil(allIds.size / 3.0).toInt).toSeq // 3 insert waves
    val retiredSoFar = scala.collection.mutable.Set.empty[Long]
    val insertedSoFar = scala.collection.mutable.Set.empty[Long]
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Boolean, Seq[Long])] // (isInsert, ids)
    insBatches.foreach { wave =>
      batches += ((true, wave))
      insertedSoFar ++= wave
      if (rnd.nextInt(10) < 7) {
        val candidates = (insertedSoFar -- retiredSoFar).toSeq.sorted
        if (candidates.nonEmpty) {
          val k = 1 + rnd.nextInt(math.min(8, candidates.size))
          val picks = rnd.shuffle(candidates).take(k)
          retiredSoFar ++= picks
          batches += ((false, picks))
        }
      }
    }
    (batches.toSeq, retiredSoFar.toSet)
  }

  /** Union-find cluster oracle over the exact pair set restricted to the
    * given live endpoints — shared by the three dedup lanes. */
  private def clusterOracle(fullPairs: Seq[(Long, Long)],
      live: Long => Boolean): Map[Long, (Long, Long, Boolean)] = {
    val pairs = fullPairs.filter { case (a, b) => live(a) && live(b) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
      .flatMap { case (_, ms) =>
        val cid = ms.min
        ms.map(m => m -> ((cid, ms.size.toLong, m == cid)))
      }.toMap
  }

  /** Terminal retirement means the generator never re-inserts a retired
    * id (the stream refuses loudly, pinned by DedupTakedownSpec); what
    * randomizes here is WHEN each document is inserted and which ids are
    * retired between — so retire-before-partner-insert (the index-mask
    * path), split/shrink/canonical-handoff orderings, compaction cuts,
    * and redelivery all arise by chance. Oracle: union-find over the
    * batch exact-Jaccard pair set restricted to surviving endpoints
    * (DedupTakedownSpec's expectation, randomized schedule). */
  test("6 random insert/retire schedules ≡ union-find on surviving dup pairs (dedup takedowns)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").cache()
    val fullPairs = graft.operators.Dedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allIds = docs.select($"doc_id").collect().map(_.getLong(0)).toSeq
    val rnd = new scala.util.Random(0xDED5EEDL ^ SeedBase)
    val plans = (1 to 6).map { c =>
      val (batches, retired) = drawDedupBatches(rnd, allIds)
      val compactAfter = batches.indices.map(i =>
        i < batches.size - 1 && rnd.nextInt(4) == 0)
      DedupPlan(c, batches, retired, compactAfter,
        purgeAfter = batches.indices.map(_ => false), redeliver = rnd.nextBoolean())
    }
    inParallel(plans, threads = 4) { p =>
      val store = tmpStore()
      def frameOf(isInsert: Boolean, ids: Seq[Long]): DataFrame =
        if (isInsert) docs.filter($"doc_id".isInCollection(ids))
          .select($"doc_id", $"text", lit(1).as("op"))
        else ids.map(id => (id, "", -1)).toDF("doc_id", "text", "op")
      p.batches.zipWithIndex.foreach { case ((isInsert, ids), i) =>
        graft.streaming.DedupClusterStream.processBatch(spark,
          frameOf(isInsert, ids), i.toLong, store)
        if (p.compactAfter(i))
          graft.streaming.DedupClusterStream.compact(spark, store,
            throughBatch = i.toLong)
      }
      if (p.redeliver) { // redelivery of the final batch
        val (isInsert, ids) = p.batches.last
        graft.streaming.DedupClusterStream.processBatch(spark,
          frameOf(isInsert, ids), (p.batches.size - 1).toLong, store)
      }
      val want = clusterOracle(fullPairs, id => !p.retired(id))
      val got = graft.streaming.DedupClusterStream.snapshot(spark, store)
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(got === want,
        s"case ${p.c} diverged (retired=${p.retired.toSeq.sorted.take(20)}...)")
    }
    docs.unpersist()
  }

  // ---- dedup MID-STREAM SERVES: read-your-mask between schedule ops ------

  /** The takedown and purge lanes randomize maintenance but serve only at
    * the END; this lane serves BETWEEN schedule ops — after every batch,
    * and immediately after randomly landed compactions and purges — and
    * checks each serve against the union-find oracle over the pairs whose
    * endpoints are inserted-and-live AT THAT PREFIX (read-your-mask
    * semantics mid-stream: a retirement in batch i must be invisible to
    * the serve after batch i, visible state must include everything
    * through batch i, and a purge/compaction must never change a served
    * answer at any point, not just at the end). */
  test("3 random insert/retire schedules with a serve after EVERY op ≡ per-prefix union-find") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").cache()
    val fullPairs = graft.operators.Dedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allIds = docs.select($"doc_id").collect().map(_.getLong(0)).toSeq
    def serve(store: String): Map[Long, (Long, Long, Boolean)] =
      graft.streaming.DedupClusterStream.snapshot(spark, store)
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val rnd = new scala.util.Random(0x5E27E5EEDL ^ SeedBase)
    val plans = (1 to 3).map { c =>
      val (batches, retired) = drawDedupBatches(rnd, allIds)
      // same RNG order as the interleaved loop: compact draw, then purge
      // draw, per executed batch
      val draws = batches.indices.map(_ => (rnd.nextInt(3) == 0, rnd.nextInt(3) == 0))
      DedupPlan(c, batches, retired, draws.map(_._1), draws.map(_._2),
        redeliver = false)
    }
    inParallel(plans, threads = 3) { p =>
      val store = tmpStore()
      val liveNow = scala.collection.mutable.Set.empty[Long]
      p.batches.zipWithIndex.foreach { case ((isInsert, ids), i) =>
        val frame =
          if (isInsert) docs.filter($"doc_id".isInCollection(ids))
            .select($"doc_id", $"text", lit(1).as("op"))
          else ids.map(id => (id, "", -1)).toDF("doc_id", "text", "op")
        graft.streaming.DedupClusterStream.processBatch(spark, frame, i.toLong, store)
        if (isInsert) liveNow ++= ids else liveNow --= ids
        val ctx = s"case ${p.c} serve@batch$i (${if (isInsert) "+" else "-"}${ids.size})"
        assert(serve(store) === clusterOracle(fullPairs, liveNow.toSet), s"$ctx diverged")
        if (p.compactAfter(i)) {
          graft.streaming.DedupClusterStream.compact(spark, store,
            throughBatch = i.toLong)
          assert(serve(store) === clusterOracle(fullPairs, liveNow.toSet),
            s"$ctx diverged AFTER compaction")
        }
        if (p.purgeAfter(i)) {
          graft.streaming.DedupClusterStream.purgeRetired(spark, store,
            throughBatch = i.toLong)
          assert(serve(store) === clusterOracle(fullPairs, liveNow.toSet),
            s"$ctx diverged AFTER purge")
        }
      }
    }
    docs.unpersist()
  }

  // ---- dedup PURGE: random insert/retire/purge interleavings ------------

  /** The physical-purge maintenance job fuzzed INTO the schedule (the
    * fixed-schedule DedupPurgeSpec pins the known shape; here purges land
    * at random points between batches — the stopped-stream contract a
    * direct batch loop satisfies). After every purge: the retirements
    * recorded so far must be PHYSICALLY absent from bands and shingles
    * (purge applies every recorded retirement, not just those ≤ its
    * cut), and the removed store must have folded to a single
    * generation. At the end the served clusters must equal the same
    * union-find oracle the takedown lane uses — a purge must never
    * change an answer, only erase retired bytes. */
  test("4 random insert/retire/PURGE schedules: physical absence + served clusters ≡ union-find") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").cache()
    val fullPairs = graft.operators.Dedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allIds = docs.select($"doc_id").collect().map(_.getLong(0)).toSeq
    val rnd = new scala.util.Random(0x9E6ED5EEDL ^ SeedBase)
    val plans = (1 to 4).map { c =>
      val (batches, retired) = drawDedupBatches(rnd, allIds)
      // retiredByNow after batch i is schedule-determined (terminal
      // retirement), so the conditional purge draw replays exactly
      val retiredByNow = scala.collection.mutable.Set.empty[Long]
      val draws = batches.zipWithIndex.map { case ((isInsert, ids), i) =>
        if (!isInsert) retiredByNow ++= ids
        val purge = retiredByNow.nonEmpty && rnd.nextInt(3) == 0
        val compactB = i < batches.size - 1 && rnd.nextInt(4) == 0
        (purge, compactB)
      }
      DedupPlan(c, batches, retired, draws.map(_._2), draws.map(_._1),
        redeliver = false)
    }
    inParallel(plans, threads = 4) { p =>
      val store = tmpStore()
      def assertPurged(ids: Set[Long], at: String): Unit = {
        if (ids.isEmpty) return
        val r = ids.toSeq.toDF("doc_id")
        val bands = spark.table(
          graft.streaming.DedupStream.bandsTable(s"$store/index"))
          .join(r, "doc_id").count()
        val sh = spark.read.parquet(s"$store/index/shingles")
          .join(r, "doc_id").count()
        assert((bands, sh) === ((0L, 0L)),
          s"case ${p.c} $at: retired rows physically present (bands=$bands, sh=$sh)\n" +
            s"batches=${p.batches.map { case (ins, is) =>
              (if (ins) "+" else "-") + is.mkString("{", ",", "}") }.mkString(" ")}\n" +
            s"retired=${ids.toSeq.sorted.mkString(",")}\n" +
            s"lingering=${spark.table(graft.streaming.DedupStream.bandsTable(s"$store/index"))
              .join(r, "doc_id").select("doc_id", "batch").distinct()
              .collect().map(_.toString).mkString(" ")}")
        val rmGens = new java.io.File(s"$store/removed").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch=")).toSeq
        assert(rmGens.size === 1 && rmGens.head.getName.stripPrefix("batch=").toLong < 0,
          s"case ${p.c} $at: removed store not folded to one generation: " +
            rmGens.map(_.getName).mkString(","))
      }
      // the mid-loop physical-absence assert may only demand erasure of
      // retirements the executed prefix has actually recorded (the first
      // cut of this lane asserted the FINAL set and flagged the engine
      // for not erasing a retirement that hadn't happened yet — a
      // test-oracle bug, documented here as the trap it was)
      val retiredByNow = scala.collection.mutable.Set.empty[Long]
      p.batches.zipWithIndex.foreach { case ((isInsert, ids), i) =>
        val frame =
          if (isInsert) docs.filter($"doc_id".isInCollection(ids))
            .select($"doc_id", $"text", lit(1).as("op"))
          else ids.map(id => (id, "", -1)).toDF("doc_id", "text", "op")
        graft.streaming.DedupClusterStream.processBatch(spark, frame, i.toLong, store)
        if (!isInsert) retiredByNow ++= ids
        if (p.purgeAfter(i)) {
          graft.streaming.DedupClusterStream.purgeRetired(spark, store,
            throughBatch = i.toLong)
          assertPurged(retiredByNow.toSet, s"after purge@batch$i")
        }
        if (p.compactAfter(i))
          graft.streaming.DedupClusterStream.compact(spark, store,
            throughBatch = i.toLong)
      }
      // final purge so every case ends with the byte-erasure property
      graft.streaming.DedupClusterStream.purgeRetired(spark, store,
        throughBatch = (p.batches.size - 1).toLong)
      assertPurged(p.retired, "after final purge")
      val want = clusterOracle(fullPairs, id => !p.retired(id))
      val got = graft.streaming.DedupClusterStream.snapshot(spark, store)
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(got === want,
        s"case ${p.c} diverged after purges (retired=${p.retired.toSeq.sorted.take(20)})")
    }
    docs.unpersist()
  }

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("fuzzstore").toString + "/store"
}
