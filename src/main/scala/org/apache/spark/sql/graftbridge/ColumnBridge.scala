package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 made `ExpressionUtils` private[sql]; the supported pattern for
  * libraries shipping native Catalyst expressions (as this engine does for
  * its text/similarity hot paths) is a one-file shim inside the
  * `org.apache.spark.sql` namespace. Nothing else in this repo lives here.
  */
object ColumnBridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Test-support shim: flush the SparkListener bus so listener-counted
  * assertions (e.g. "building this plan launches no job") are exact.
  * `listenerBus` is private[spark]; this package sits inside the
  * org.apache.spark tree for precisely these two narrow accesses.
  */
object ListenerBridge {
  def flush(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Checkpoint-lifecycle shim: the cached blocks behind a
  * `localCheckpoint`/`checkpoint`ed Dataset belong to its INTERNAL RDD
  * (wrapped in a `LogicalRDD` plan node), which `Dataset.unpersist` never
  * sees — the blocks are not registered with the CacheManager and only
  * vanish when the driver GCs the RDD reference. Iterative operators
  * (PageRank, connected components) supersede a checkpoint every round and
  * must free it explicitly or pin O(rounds) copies. `LogicalRDD` is
  * private[sql].
  */
object CheckpointBridge {
  /** A Dataset checkpoint without the block-store mark: execute the plan
    * under its own SQL execution (with AQE on, this runs every shuffle-map
    * stage now) and wrap the resulting RDD in a `LogicalRDD`. Later actions
    * on the result read those shuffle outputs instead of re-running the map
    * stages (the DAGScheduler skips a map stage whose outputs exist); the
    * full lineage stays, so a lost map output is recomputed, not fatal.
    */
  def freeze(ds: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame = {
    val d  = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = d.queryExecution
    val rdd = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("freeze"))(qe.executedPlan.execute())
    org.apache.spark.sql.classic.Dataset.ofRows(d.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, d, isStreaming = false))
  }

  /** Drop what the `LogicalRDD` nodes of `ds`'s plan hold: the block-store
    * data of a checkpointed one, and the shuffle outputs in the lineage of
    * one that is not (a [[freeze]]d node). Safe ONLY when nothing will read
    * a checkpoint again: a localCheckpoint cannot recompute (lineage is
    * severed), so a later action on it would fail. A frozen node keeps its
    * lineage, so a later action on it recomputes the shuffles.
    */
  def release(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        if (!l.rdd.isCheckpointed) l.rdd.cleanShuffleDependencies(blocking = false)
      case _ => ()
    }
}

/** Catalog shim: the MANAGED location a table would get, resolved by the
  * session catalog itself (honoring per-database LOCATION overrides) —
  * re-deriving the `<warehouse>/<db>.db/<table>` convention breaks for any
  * database created with a custom location. `sessionState` is private[sql].
  */
object CatalogBridge {
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession, table: String): java.net.URI = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    cat.defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(
      table, Some(cat.getCurrentDatabase)))
  }
}
