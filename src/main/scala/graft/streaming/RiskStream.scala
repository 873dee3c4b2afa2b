package graft.streaming

import graft.api.EveGraph
import graft.model.{SystemJumps, SystemKills}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference's risk-refresh cadence (~every 30 minutes,
  * `/root/reference/README.md:32-33`) as a Structured Streaming job: kill/
  * jump snapshot files land in a directory, and each micro-batch runs the
  * bulk snapshot-upsert + edge-risk update (J7 + J5) and swaps the cached
  * risk projection — refresh endpoints become streams, per SURVEY.md §2.9.
  *
  * Snapshot file schema: (system_id long, ship_kills int, ship_jumps int)
  * parquet rows — a combined capture of the two ESI endpoints.
  */
object RiskStream {

  val snapshotSchema: StructType = StructType(Seq(
    StructField("system_id", LongType, nullable = false),
    StructField("ship_kills", IntegerType, nullable = false),
    StructField("ship_jumps", IntegerType, nullable = false)))

  def start(engine: EveGraph, snapshotDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = engine.store.spark
    import spark.implicits._
    val stream = spark.readStream.schema(snapshotSchema).parquet(snapshotDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          engine.refreshRisks(batch.select($"system_id", $"ship_kills").as[SystemKills],
            batch.select($"system_id", $"ship_jumps").as[SystemJumps])
      }
      .trigger(trigger)
      .start()
  }
}
