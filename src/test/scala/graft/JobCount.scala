package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts on the calling thread. Suites share
  * one session and may run jobs concurrently, so jobs are attributed by a
  * job group set on this thread only. */
object JobCount {
  private val GroupKey = "spark.jobGroup.id"

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(GroupKey)).orNull match {
          case `group` => started.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "JobCount")
      val out = try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once the fence job's start
      // arrives, every job the body started has been counted
      sc.setJobGroup(fence, "JobCount fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
      (out, started.get())
    } finally sc.removeSparkListener(listener)
  }
}
