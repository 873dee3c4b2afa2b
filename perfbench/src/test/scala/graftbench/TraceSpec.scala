package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def query(): Long =
    spark.range(10000).groupBy((col("id") % 7).as("k")).count().collect().length.toLong

  test("a fixed query gives a nonzero job count that repeats exactly") {
    val rec = new Recorder(spark.sparkContext, enabled = true)
    val listener = Listener.install(spark.sparkContext, rec)
    assert(Listener.install(spark.sparkContext, rec) eq listener, "one listener per context")
    query() // warm: planning caches must not change the job count
    val counts = (1 to 3).map { _ =>
      rec.span("q")(query())
      Listener.settle(spark.sparkContext)
      rec.spans("q").last.own
    }
    assert(counts.head.jobs > 0 && counts.head.tasks > 0)
    assert(counts.map(_.jobs).distinct.size === 1)
    assert(counts.map(_.tasks).distinct.size === 1)
  }

  test("work is charged to the innermost span and totals include children") {
    val rec = new Recorder(spark.sparkContext, enabled = true)
    // the context's installed listener reports to the first test's
    // recorder, so this one gets a listener of its own
    val l = new Listener(rec)
    spark.sparkContext.addSparkListener(l)
    try {
      rec.span("outer") {
        spark.range(10).count()
        rec.span("inner")(query())
      }
      Listener.settle(spark.sparkContext)
      val outer = rec.spans("outer").head
      val inner = rec.spans("inner").head
      assert(inner.parent.contains(outer))
      assert(outer.own.jobs > 0 && inner.own.jobs > 0)
      assert(rec.total(outer).jobs === outer.own.jobs + inner.own.jobs)
      assert(outer.selfSeconds < outer.seconds)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("an inactive recorder records nothing") {
    val rec = new Recorder(spark.sparkContext, enabled = true)
    rec.active = false
    rec.span("x")(query())
    assert(rec.spans("x").isEmpty)
  }
}
