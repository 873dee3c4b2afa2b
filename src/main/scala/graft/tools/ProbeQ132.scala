// Cold-lane breakdown of q132's SemDeDup-under-deletions replay (~8.4 s
// in the bench's cold column): replays q132Store's four ±op batches
// DIRECTLY (the same slices the streaming wiring delivers) with wall
// timers around each phase of SemDedupStream.processBatch — the insert
// split, the batch codes checkpoint, the touched-cell collect, the
// prior-live read + pair joins + pairs write, and the nested
// AnnDeltaStream member fold — plus the final compact and serve.
// Attribution first (guide §1), then surgery.
// Run: sbt 'runMain graft.tools.ProbeQ132 <sfDir> [reps]'
package graft.tools

import graft.operators.Similarity
import graft.streaming.{AnnDeltaStream, SemDedupStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object ProbeQ132 {

  private def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[probeq132]   $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  /** SemDedupStream.processBatch with sub-phase timers (lockstep with the
    * production body — probe-only, never served). */
  private def processBatchTimed(batch: DataFrame, batchId: Long, storeDir: String,
      cents: Seq[(Long, Seq[Double])]): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val ins = batch.filter($"op" === 1).select($"vec_id", $"vec")
    if (!t("ins.isEmpty probe")(ins.isEmpty)) {
      val nw = t("codesOf+ckpt")(
        Similarity.withInt8Codes(Similarity.assignToCentroids(ins, cents))
          .withColumn("nq", Similarity.longDot($"qs", $"qs"))
          .select($"vec_id", $"cell", $"qs", $"nq").localCheckpoint())
      val touched = t("touched-cells collect")(
        nw.select($"cell").distinct().as[Long].collect().toSeq)
      val prior = Similarity.withInt8Codes(
          AnnDeltaStream.liveRows(s, storeDir, Some(touched), horizon = batchId))
        .withColumn("nq", Similarity.longDot($"qs", $"qs"))
      val newSide = nw.select($"vec_id".as("n_id"), $"cell",
        $"qs".as("nqs"), $"nq".as("nn"), lit(batchId).as("n_srcb"))
      val cross = newSide.join(
          prior.select($"vec_id".as("o_id"), $"cell", $"qs".as("oqs"),
            $"nq".as("on"), $"srcb".as("o_srcb")), Seq("cell"))
        .filter($"n_id" =!= $"o_id")
        .withColumn("dot", Similarity.longDot($"nqs", $"oqs"))
        .filter(Similarity.intDupCond($"dot", $"nn", $"on"))
        .select($"cell",
          when($"n_id" < $"o_id", $"n_id").otherwise($"o_id").as("a_id"),
          when($"n_id" < $"o_id", $"n_srcb").otherwise($"o_srcb").as("a_srcb"),
          when($"n_id" < $"o_id", $"o_id").otherwise($"n_id").as("b_id"),
          when($"n_id" < $"o_id", $"o_srcb").otherwise($"n_srcb").as("b_srcb"))
      val self = newSide.join(
          newSide.select($"n_id".as("m_id"), $"cell", $"nqs".as("mqs"),
            $"nn".as("mn")), Seq("cell"))
        .filter($"n_id" < $"m_id")
        .withColumn("dot", Similarity.longDot($"nqs", $"mqs"))
        .filter(Similarity.intDupCond($"dot", $"nn", $"mn"))
        .select($"cell", $"n_id".as("a_id"), lit(batchId).as("a_srcb"),
          $"m_id".as("b_id"), lit(batchId).as("b_srcb"))
      t("pair joins + pairs write")(
        graft.streaming.Stores.writeBatch(cross.unionByName(self), batchId,
          s"$storeDir/pairs"))
      nw.unpersist()
    }
    t("AnnDeltaStream member fold")(
      AnnDeltaStream.processBatch(batch, batchId, storeDir, cents))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    (1 to reps).foreach { rep =>
      val store = java.nio.file.Files.createTempDirectory("probeq132").toString + "/store"
      val cents = Similarity.trainedCentroids(spark, dir)
      val emb = Similarity.embeddings(spark, dir)
        .withColumn("del", $"vec_id" % 5 === 0)
        .withColumn("reins", $"vec_id" % 10 === 0)
        .cache()
      val slices = Seq(
        emb.filter($"vec_id" % 2 === 0).select($"vec_id", $"vec", lit(1).as("op")),
        emb.filter($"vec_id" % 2 === 1).select($"vec_id", $"vec", lit(1).as("op")),
        emb.filter($"del").select($"vec_id",
          lit(null).cast("array<double>").as("vec"), lit(-1).as("op")),
        emb.filter($"reins").select($"vec_id", $"vec", lit(1).as("op")))
      val t0 = System.nanoTime()
      slices.zipWithIndex.foreach { case (sl, i) =>
        System.err.println(s"[probeq132] rep $rep batch $i:")
        val b = sl.localCheckpoint()
        t("full processBatch")(processBatchTimed(b, i.toLong, store, cents))
      }
      t("compact")(SemDedupStream.compact(spark, store, throughBatch = 2L))
      val n = t("serveRemoved+count")(SemDedupStream.serveRemoved(spark, store).count())
      System.err.println(f"[probeq132] rep $rep TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      emb.unpersist()
    }
    spark.stop()
  }
}
