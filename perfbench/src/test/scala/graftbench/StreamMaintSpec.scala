package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StreamMaintSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  test("the live set keeps, per key, the last op when it is an insert") {
    import spark.implicits._
    val b0 = Seq((1L, 2L, 1), (2L, 3L, 1), (3L, 4L, 1)).toDF("src", "dst", "op")
    val b1 = Seq((1L, 2L, -1), (3L, 4L, -1)).toDF("src", "dst", "op")
    val b2 = Seq((3L, 4L, 1), (5L, 6L, 1)).toDF("src", "dst", "op")
    val live = StreamMaint.liveSet(Seq(b0, b1, b2), Seq("src", "dst"))
      .select($"src", $"dst").as[(Long, Long)].collect().sorted.toSeq
    assert(live === Seq((2L, 3L), (3L, 4L), (5L, 6L)))
  }
}
