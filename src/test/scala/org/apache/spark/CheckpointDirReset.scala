package org.apache.spark

/** Unsets a SparkContext's checkpoint directory, which Spark's public API
  * can only set. A spec that points the checkpoint dir at a temp root uses
  * this to hand the shared context back unchanged. Lives in Spark's package
  * only to reach the field. */
object CheckpointDirReset {
  def apply(sc: SparkContext): Unit = sc.checkpointDir = None
}
