package org.apache.spark

/** Test-side write access to the SparkContext's checkpoint dir. Spark
  * only exposes `setCheckpointDir`, which cannot put back "no dir";
  * `SparkSpec.withCheckpointDir` needs that to restore the shared
  * context after a scoped reliable-checkpoint case. */
object CheckpointDirAccess {
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
