package org.apache.spark

/** Test access to the driver's map-output registry, which Spark keeps
  * `private[spark]`. */
object ShuffleOutputs {

  /** Forgets every shuffle output the local-mode executor registered, as
    * the loss of that executor would: a later job that needs one reruns
    * its map stage from the lineage, reading the input files again. */
  def dropLocal(): Unit =
    SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      .removeOutputsOnExecutor(SparkContext.DRIVER_IDENTIFIER)
}
