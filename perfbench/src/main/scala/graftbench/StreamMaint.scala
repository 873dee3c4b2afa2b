package graftbench

import graft.streaming.{CcStream, FunnelStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.util.Random

/** Maintained-store micro-batches: two ±op lanes over seeded inputs, with
  * the insert / insert / delete / re-insert schedules of the MaintBench
  * lanes of the same names. Each batch goes through the maintainer's
  * `processBatch` and is followed by one served read. Set-up ingests each
  * lane's final live set in one shot (the reference answer, which also warms
  * the insert path); the timed phase runs whole schedules (lane order
  * permuted by the seed) while one still fits in the run's seconds, and
  * after every schedule, outside its timing, each lane's served answer must
  * equal its reference.
  *
  * The schedules are defined here rather than taken from MaintBench so that
  * the benchmark's inputs stay fixed while the program changes.
  */
object StreamMaint {

  /** One lane: its micro-batches, the key columns under which the last op
    * wins, the maintainer step and the served read. */
  final case class Lane(name: String, keys: Seq[String], slices: Seq[DataFrame],
      step: (DataFrame, Long, String) => Unit, serve: (SparkSession, String) => DataFrame)

  val Parts = 600
  val Suppliers = 30
  val Pairs = 1200
  val Users = 60
  val Events = 6000
  private val EventTypes = Seq("view", "click", "signup", "purchase", "error")

  /** The measured lanes. The other ±op maintainers (SSSP, triangles, dedup
    * takedown, semantic dedup) take 9-26 s per schedule each on a 4-core
    * host, more than a run's time budget holds. */
  def lanes(spark: SparkSession, seed: Long): Seq[Lane] = {
    import spark.implicits._
    val r = new Random(seed)
    // a part-supplier bipartite graph: parts get even ids, suppliers odd
    val pairs = Iterator.continually((1L + r.nextInt(Parts), 1L + r.nextInt(Suppliers)))
      .distinct.take(Pairs).toSeq
      .toDF("p", "su")
      .select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"))
      .withColumn("del", expr("((src div 2) + ((dst - 1) div 2)) % 5 = 0"))
      .withColumn("reins", expr("((src div 2) + ((dst - 1) div 2)) % 10 = 0"))
      .cache()
    // user histories with strictly increasing times per user
    val clock = Array.fill(Users)(1704067200000000L)
    val events = Seq.fill(Events) {
      val u = r.nextInt(Users)
      clock(u) += 1000000L + r.nextInt(600000000)
      (u.toLong, EventTypes(r.nextInt(EventTypes.size)), clock(u))
    }.toDF("user_id", "event_type", "ts_us").cache()
    val gone = $"user_id" % 7 === 0
    val demoted = $"user_id" % 7 =!= 0 && $"user_id" % 5 === 3 && $"event_type" === "click"
    Seq(
      Lane("cc_delta", Seq("src", "dst"), Seq(
          pairs.filter(expr("(dst div 2) % 2 = 0")).select($"src", $"dst", lit(1).as("op")),
          pairs.filter(expr("(dst div 2) % 2 = 1")).select($"src", $"dst", lit(1).as("op")),
          pairs.filter($"del").select($"src", $"dst", lit(-1).as("op")),
          pairs.filter($"reins").select($"src", $"dst", lit(1).as("op"))),
        (b, i, d) => CcStream.processBatch(b, i, d), CcStream.snapshot),
      // batch 2 retracts every event of the % 7 == 0 users and the % 5 == 3
      // users' clicks; batch 3 resurrects the % 10 == 3 users' clicks
      Lane("funnel_delta", Seq("user_id", "event_type", "ts_us"), Seq(
          events.filter($"user_id" % 2 === 0).withColumn("op", lit(1)),
          events.filter($"user_id" % 2 === 1).withColumn("op", lit(1)),
          events.filter(gone || demoted).withColumn("op", lit(-1)),
          events.filter(demoted && $"user_id" % 10 === 3).withColumn("op", lit(1))),
        (b, i, d) => FunnelStream.processBatch(b, i, d), FunnelStream.snapshot))
  }

  /** Rows of the live set after the whole schedule: per key, the last op
    * wins and only inserts survive. */
  def liveSet(slices: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    val tagged = slices.zipWithIndex.map { case (s, i) => s.withColumn("_batch", lit(i)) }
      .reduce(_ unionByName _)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_batch").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") === 1)
      .drop("_rn", "_batch")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  def run(spark: SparkSession, rec: Recorder, work: Path, seed: Long, seconds: Int): Result = {
    val order = new Random(seed).shuffle(lanes(spark, seed))
    var storeSeq = 0
    def freshStore(tag: String): String = { storeSeq += 1; work.resolve(s"stores/$tag-$storeSeq").toString }

    // reference answers: one-shot ingest of each lane's live set
    val expected: Map[String, Seq[String]] = order.map { lane =>
      val ref = freshStore(s"ref-${lane.name}")
      lane.step(liveSet(lane.slices, lane.keys), 0L, ref)
      lane.name -> rows(lane.serve(spark, ref))
    }.toMap

    var attempted = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val passS = mutable.ArrayBuffer.empty[Double]
    // per lane: (processBatch s, served read s) of every batch
    val batches = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val writeMb = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    /** One full schedule over every lane; returns its store roots. */
    def schedule(): Seq[String] = order.map { lane =>
      val store = freshStore(lane.name)
      val req = rec.newRequest()
      lane.slices.zipWithIndex.foreach { case (batch, i) =>
        attempted += 1
        try {
          val b = Stats.time(rec.span(s"stream.${lane.name}.batch", req)(lane.step(batch, i.toLong, store)))
          val s = Stats.time(rec.span(s"stream.${lane.name}.serve", req)(lane.serve(spark, store).collect()))
          batches.getOrElseUpdate(lane.name, mutable.ArrayBuffer.empty) += ((b, s))
        } catch { case e: Exception => errors += s"${lane.name} batch $i: $e" }
      }
      store
    }

    /** Each lane's final served answer against its reference, and the
      * bytes its schedule wrote. */
    def check(stores: Seq[String]): Unit = order.zip(stores).foreach { case (lane, store) =>
      attempted += 1
      val served = rows(lane.serve(spark, store))
      if (served != expected(lane.name))
        errors += s"${lane.name}: served ${served.size} rows, one-shot ingest ${expected(lane.name).size}"
      writeMb.getOrElseUpdate(lane.name, mutable.ArrayBuffer.empty) += Stats.dirBytes(Paths.get(store)) / 1e6
    }

    val setupS = Main.sinceStart()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var lastStores = Seq.empty[String]
    // whole schedules only: another one starts while it can still end
    // before the deadline
    do {
      val old = lastStores
      passS += Stats.time { lastStores = rec.span("stream.pass")(schedule()) }
      check(lastStores)
      // only the newest schedule's stores stay on disk
      old.foreach(s => Stats.deleteTree(Paths.get(s)))
    } while (System.nanoTime() + passS.last * 1e9 < deadline)
    val heapMb = Stats.heapMb()
    errors.take(5).foreach(e => System.err.println(s"[perfbench] stream_maint: $e"))

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      // lanes differ in cost several-fold, so a median pooled over them
      // would sit in the gap between lanes: average the lanes' medians
      Metric("op_p50_ms", batches.values.map(l => Stats.median(l.map(x => x._1 + x._2))).sum /
        batches.size * 1e3, "ms"),
      Metric("write_s", Stats.median(passS), "s"),
      Metric("store_mb", lastStores.map(s => Stats.dirBytes(Paths.get(s))).sum / 1e6, "MB"),
      Metric("heap_mb", heapMb, "MB"))
    val layers =
      if (!rec.enabled) Nil
      else {
        Listener.settle(spark.sparkContext)
        val passes = rec.spans("stream.pass").map(rec.total)
        def perPass(f: Counts => Double) = Stats.median(passes.map(f))
        Seq(
          Metric("spark.stream_jobs", perPass(_.jobs.toDouble), "count"),
          Metric("spark.stream_task_s", perPass(_.runTimeMs / 1e3), "s"),
          Metric("spark.stream_shuffle_mb", perPass(c => (c.shuffleReadBytes + c.shuffleWriteBytes) / 1e6), "MB"),
          Metric("spark.stream_gc_s", perPass(_.gcMs / 1e3), "s")) ++
          order.flatMap { lane =>
            val n = lane.name
            val samples = batches.getOrElse(n, mutable.ArrayBuffer.empty)
            val jobs = rec.spans(s"stream.$n.batch").map(s => rec.total(s).jobs.toDouble)
            Seq(
              Metric(s"stream.$n.batch_s", Stats.median(samples.map(_._1)), "s"),
              Metric(s"stream.$n.batch_jobs", Stats.median(jobs), "count"),
              Metric(s"stream.$n.serve_ms", Stats.median(samples.map(_._2 * 1e3)), "ms"),
              Metric(s"stream.$n.write_mb", Stats.median(writeMb.getOrElse(n, mutable.ArrayBuffer.empty)), "MB"))
          }
      }
    Result(attempted, errors.size.toLong, e2e, layers)
  }
}
