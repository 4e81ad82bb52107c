package org.apache.spark.sql.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkEnv}
import org.apache.spark.rdd.RDD

/** Test-support shim: see and drop the shuffle outputs a frozen Dataset
  * reads. The shuffles hang off the RDD inside its `LogicalRDD` plan node
  * (private[sql]), and `MapOutputTrackerMaster` is private[spark].
  */
object ShuffleBridge {
  /** Ids of every shuffle in the lineage of `ds`'s `LogicalRDD` nodes. */
  def shuffleIds(ds: org.apache.spark.sql.Dataset[_]): Seq[Int] = {
    def walk(rdd: RDD[_]): Seq[Int] = rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s.shuffleId +: walk(s.rdd)
      case d                             => walk(d.rdd)
    }
    ds.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => walk(l.rdd)
    }.flatten.distinct
  }

  private def tracker = SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]

  /** Map outputs the driver knows for `shuffleId` (0 once unregistered). */
  def availableOutputs(shuffleId: Int): Int =
    if (tracker.containsShuffle(shuffleId)) tracker.getNumAvailableOutputs(shuffleId) else 0

  /** Forget every map output of `shuffleId`, as an executor loss would:
    * the shuffle stays registered, so the next job that reads it re-runs
    * its map stage.
    */
  def loseOutputs(shuffleId: Int): Unit = tracker.unregisterAllMapAndMergeOutput(shuffleId)
}
