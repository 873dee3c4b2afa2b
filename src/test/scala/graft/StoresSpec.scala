package graft

import graft.streaming.Stores
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared negative-generation fold must be safe for SUM-semantics
  * stores (the round-9 ADVICE hazard): a reader must never see a staged
  * generation TOGETHER with the sources it folded (double counting), and
  * a crash at any point inside [[Stores.fold]] must leave a state the
  * next fold repairs and [[Stores.read]] already serves exactly. The
  * crash windows are simulated by constructing the exact on-disk layouts
  * a crash leaves — sum-preservation is the invariant throughout. */
class StoresSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import scala.language.postfixOps

  private def newStore(): String =
    java.nio.file.Files.createTempDirectory("storesspec").toString + "/counts"

  /** Write (part, delta) rows as live batch `id` — the TriangleStream
    * counts-store shape, the sum-semantics store the hazard targets. */
  private def writeBatch(path: String, id: Long, rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("part", "delta").withColumn("batch", lit(id))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(path)
  }

  private def sums(df: DataFrame): Map[Long, Long] =
    df.groupBy(col("part")).agg(sum(col("delta")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def foldCounts(path: String, through: Long): Unit =
    Stores.fold(spark, path, through)(
      _.groupBy(col("part")).agg(sum(col("delta")).cast("long").as("delta")))

  private def fs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("fold preserves sums and the staged generation carries a manifest") {
    val p = newStore()
    writeBatch(p, 0, Seq((1L, 2L), (2L, 5L)))
    writeBatch(p, 1, Seq((1L, 3L), (3L, 1L)))
    writeBatch(p, 2, Seq((2L, -5L)))
    val before = sums(Stores.read(spark, p))
    foldCounts(p, 1)
    assert(sums(Stores.read(spark, p)) === before)
    assert(fs(p).exists(new Path(p, "_cover_1")), "staged generation must be manifested")
    assert(!fs(p).exists(new Path(p, "batch=0")) && !fs(p).exists(new Path(p, "batch=1")),
      "covered sources must be reclaimed")
    // second fold: folds gen -1 + batch 2 into gen -2, drops -1's manifest
    foldCounts(p, 2)
    assert(sums(Stores.read(spark, p)) === before)
    assert(fs(p).exists(new Path(p, "_cover_2")) && !fs(p).exists(new Path(p, "_cover_1")))
  }

  test("crash window: manifested generation beside undeleted sources never double-counts") {
    val p = newStore()
    writeBatch(p, 0, Seq((1L, 2L)))
    writeBatch(p, 1, Seq((1L, 3L)))
    val want = sums(Stores.read(spark, p))
    foldCounts(p, 1)
    // resurrect the covered sources — the layout a crash between the
    // manifest rename and the source deletes leaves behind
    writeBatch(p, 0, Seq((1L, 2L)))
    writeBatch(p, 1, Seq((1L, 3L)))
    assert(sums(Stores.read(spark, p)) === want,
      "reader double-counted manifested-generation sources")
    // the next fold must repair (drop the covered sources) and stay exact
    foldCounts(p, 1)
    assert(sums(Stores.read(spark, p)) === want,
      "repair fold double-counted — the permanent-corruption hazard")
    assert(!fs(p).exists(new Path(p, "batch=0")), "repair must finish the interrupted deletes")
  }

  test("crash window: unmanifested generation is invisible and repaired") {
    val p = newStore()
    writeBatch(p, 0, Seq((1L, 2L)))
    writeBatch(p, 1, Seq((1L, 3L)))
    val want = sums(Stores.read(spark, p))
    // a half-landed staging write: the generation directory exists but no
    // manifest was renamed in (crash between data rename and manifest)
    writeBatch(p, -1, Seq((1L, 5L)))
    assert(sums(Stores.read(spark, p)) === want,
      "reader must ignore an unmanifested generation")
    foldCounts(p, 1)
    assert(sums(Stores.read(spark, p)) === want)
    assert(fs(p).exists(new Path(p, "_cover_1")))
  }

  test("stale manifest (generation folded away) is ignored and swept") {
    val p = newStore()
    writeBatch(p, 0, Seq((1L, 4L)))
    val want = sums(Stores.read(spark, p))
    // manifest for an absent generation claiming to cover batch 0 — the
    // layout a crash between a later fold's dir delete and manifest
    // delete leaves
    val o = fs(p).create(new Path(p, "_cover_9"), true)
    o.write("0".getBytes("UTF-8")); o.close()
    assert(sums(Stores.read(spark, p)) === want, "stale manifest must not hide live batches")
    foldCounts(p, 0)
    assert(!fs(p).exists(new Path(p, "_cover_9")), "stale manifest must be swept")
    assert(sums(Stores.read(spark, p)) === want)
  }

  test("fold whose stage yields zero rows keeps the store readable") {
    val p = newStore()
    writeBatch(p, 0, Seq((1L, 2L)))
    writeBatch(p, 1, Seq((1L, -2L)))
    Stores.fold(spark, p, 1)(
      _.groupBy(col("part")).agg(sum(col("delta")).cast("long").as("delta"))
        .filter(col("delta") =!= 0L))
    val got = Stores.read(spark, p)
    assert(got.count() === 0L, "all-cancelling fold must serve empty")
    assert(got.columns.toSet === Set("part", "delta", "batch"))
    // and the store must keep working: a later live batch reads fine
    writeBatch(p, 2, Seq((7L, 1L)))
    assert(sums(Stores.read(spark, p)) === Map(7L -> 1L))
  }

  test("carried layout column: writeBatch + fold keep batch=<g>/cell=<c>, an empty fold stays readable, a flat append is refused") {
    import spark.implicits._
    val p = newStore()
    val layout = Seq(Stores.Carried("cell"))
    Stores.writeBatch(Seq((1L, 3L), (2L, 4L)).toDF("id", "cell"), 0L, p, layout)
    Stores.writeBatch(Seq((3L, 3L)).toDF("id", "cell"), 1L, p, layout)
    def cellDirs(gen: Long): Set[String] = new java.io.File(s"$p/batch=$gen").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    def rows(): Set[(Long, Long)] = Stores.read(spark, p)
      .select($"id", $"cell".cast("long")).as[(Long, Long)].collect().toSet
    Stores.fold(spark, p, 1L, layout)(_.select("id", "cell"))
    assert(cellDirs(-1) === Set("cell=3", "cell=4"), "fold lost the carried layout")
    assert(rows() === Set((1L, 3L), (2L, 4L), (3L, 3L)))
    // a stage yielding no rows: the generation keeps the layout depth and
    // the carried column lives in the directory name only
    Stores.fold(spark, p, 1L, layout)(_.select("id", "cell").limit(0))
    assert(cellDirs(-2) === Set("cell=0"))
    assert(spark.read.parquet(s"$p/batch=-2/cell=0").columns.toSeq === Seq("id"))
    val got = Stores.read(spark, p)
    assert(got.count() === 0L && got.columns.toSet === Set("id", "cell", "batch"))
    val err = intercept[IllegalStateException](
      Stores.writeBatch(Seq((9L, 1L)).toDF("id", "cell"), 2L, p))
    assert(err.getMessage.contains("conflicts"), err.getMessage)
    // the store keeps working in its own layout
    Stores.writeBatch(Seq((9L, 1L)).toDF("id", "cell"), 2L, p, layout)
    assert(rows() === Set((9L, 1L)))
  }

  test("liveAfterDeletes: latest insert vs latest delete, inserts win ties") {
    import spark.implicits._
    // (case, rows as (src, dst, w, op, batch), payload, expected live rows)
    val cases = Seq(
      ("same-batch insert + delete stays live",
        Seq((1L, 2L, 5L, 1, 3L), (1L, 2L, 5L, -1, 3L)), Nil, Set(Seq(1L, 2L))),
      ("a later delete kills the row",
        Seq((1L, 2L, 5L, 1, 0L), (1L, 2L, 5L, -1, 1L)), Nil, Set.empty[Seq[Long]]),
      ("a re-insert after a delete resurrects it",
        Seq((1L, 2L, 5L, 1, 0L), (1L, 2L, 5L, -1, 1L), (1L, 2L, 5L, 1, 2L)), Nil,
        Set(Seq(1L, 2L))),
      ("a folded +1 row is outranked by a later live delete",
        Seq((1L, 2L, 5L, 1, -1L), (3L, 4L, 5L, 1, -1L), (1L, 2L, 5L, -1, 0L)), Nil,
        Set(Seq(3L, 4L))),
      ("one (src, dst) delete kills every weight",
        Seq((1L, 2L, 5L, 1, 0L), (1L, 2L, 7L, 1, 1L), (1L, 2L, 0L, -1, 2L),
          (1L, 3L, 4L, 1, 0L)), Seq("w"), Set(Seq(1L, 3L, 4L))))
    cases.foreach { case (name, rows, payload, want) =>
      val got = Stores.liveAfterDeletes(
          rows.toDF("src", "dst", "w", "op", "batch"), Seq("src", "dst"), payload)
        .collect().map(r => (0 until r.length).map(r.getLong)).toSet
      assert(got === want, name)
    }
  }
}
