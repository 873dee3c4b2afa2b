package graft.streaming

import graft.Tables.t
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Running decontamination monitor over a training-document stream — the
  * streaming face of q66, deployed the way a real pipeline runs it: the
  * eval/benchmark suite is FIXED UP FRONT (its Bloom bit set is built once
  * and persisted), then every arriving training batch is probed map-side
  * against the broadcast bit set and its flagged manifest appended. Per
  * batch the work is O(batch grams × j); the bit set is O(m) bits worth of
  * distinct positions regardless of corpus size, and nothing ever rescans
  * previously ingested documents — which is why the accumulated manifest
  * equals the batch q66 sweep exactly under any batch split
  * (ContaminationStreamSpec proves it).
  */
object ContaminationStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Build and persist the eval bit set from the held-out split of the
    * sfDir corpus (the fixed benchmark suite). */
  def buildEvalBits(s: SparkSession, dir: String, bitsDir: String): Unit = {
    import s.implicits._
    val eval = t(s, dir, "documents")
      .filter($"doc_id" % TextOps.EvalMod === 0L)
      .select($"doc_id", $"text")
    TextOps.bloomPositions(TextOps.contaminationGramsOf(eval))
      .select($"p").distinct()
      .write.mode(SaveMode.Overwrite).parquet(bitsDir)
  }

  /** Probe one training batch against the persisted bits; write the
    * batch's flagged manifest as a dynamic overwrite of its own
    * `batch=<id>` partition — a foreachBatch redelivery (same batchId,
    * same file-source content) rewrites identical bytes instead of
    * double-appending manifest rows (ContaminationStreamSpec replays a
    * batch to pin this). */
  def processBatch(s: SparkSession, batch: DataFrame, batchId: Long,
      bitsDir: String, outDir: String): Unit =
    Stores.writeBatch(TextOps.bloomProbe(
        TextOps.bloomPositions(TextOps.contaminationGramsOf(batch)), s.read.parquet(bitsDir)),
      batchId, outDir)

  /** File-source wiring: new training-document parquet files appear in
    * `srcDir`; each micro-batch overwrites its own manifest partition. */
  def start(s: SparkSession, srcDir: String, bitsDir: String,
      outDir: String): StreamingQuery =
    s.readStream.schema(docSchema).parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        processBatch(s, batch, batchId, bitsDir, outDir))
      .start()

  /** Accumulated flagged manifest in the batch q66 output shape. */
  def manifest(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
      .select(col("doc_id"), col("n_flagged"))
      .orderBy(col("doc_id"))
}
