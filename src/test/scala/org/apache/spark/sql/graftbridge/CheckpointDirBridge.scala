package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test-support shim: `SparkContext.setCheckpointDir` has no inverse, so a
  * test that turns reliable pins on cannot turn them off again through the
  * public API. `checkpointDir` is private[spark].
  */
object CheckpointDirBridge {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
