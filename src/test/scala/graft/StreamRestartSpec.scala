package graft

import graft.functions.HashFamily
import graft.streaming.{CcStream, DedupStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The shared file-source stream ([[graft.streaming.Stores.fileStream]])
  * resumes from the durable checkpoint beside the store: a second `start`
  * on the same directories, after one more file lands, delivers ONLY that
  * file, under the next batch id. */
class StreamRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Write `df` as the single parquet file `<inDir>/<name>.parquet` (the
    * file source lists files, not nested directories). */
  private def addFile(df: DataFrame, inDir: String, name: String): Unit = {
    val tmp = s"$inDir.tmp_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Batch ids of the progress rows of every micro-batch that read rows
    * (one row per batch; with one file per trigger, one file per batch). */
  private def batchesOf(q: StreamingQuery): Seq[Long] = {
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchId)
  }

  /** Run `start` over two files, add a third, run `start` again: the
    * second run must deliver exactly the third file as batch 2. */
  private def assertResumes(files: Seq[DataFrame])(start: String => StreamingQuery): Unit = {
    val root = java.nio.file.Files.createTempDirectory("restart").toString
    val inDir = s"$root/in"
    addFile(files(0), inDir, "f0")
    addFile(files(1), inDir, "f1")
    val first = batchesOf(start(inDir))
    assert(first === Seq(0L, 1L), s"first run batches: $first")
    addFile(files(2), inDir, "f2")
    val second = batchesOf(start(inDir))
    assert(second === Seq(2L), s"restart re-delivered old files: $second")
  }

  test("DedupStream.start resumes from its checkpoint") {
    import spark.implicits._
    // near-duplicate families across files, so every batch probes and
    // verifies against the index the earlier batches wrote
    val files = (0 until 3).map(f => (f * 20L until f * 20L + 20L)
      .map(i => (i, s"the quick brown fox ${i % 7} jumps over the lazy dog ${i % 7}"))
      .toDF("doc_id", "text"))
    val root = java.nio.file.Files.createTempDirectory("restartdedup").toString
    assertResumes(files)(in =>
      DedupStream.start(spark, in, s"$root/index", s"$root/pairs", HashFamily.Fast))
  }

  test("CcStream.start (±op) resumes from its checkpoint") {
    import spark.implicits._
    val files = Seq(
      Seq((1L, 2L, 1), (2L, 3L, 1)),
      Seq((3L, 4L, 1), (5L, 6L, 1)),
      Seq((2L, 3L, -1), (6L, 7L, 1))).map(_.toDF("src", "dst", "op"))
    val store = java.nio.file.Files.createTempDirectory("restartcc").toString + "/store"
    assertResumes(files)(in => CcStream.start(spark, in, store, withOps = true))
    val labels = CcStream.snapshot(spark, store).as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }
}
