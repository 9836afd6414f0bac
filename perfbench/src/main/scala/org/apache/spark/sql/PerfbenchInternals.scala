package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The two Spark internals the traced run needs. */
object PerfbenchInternals {

  /** Waits until Spark's listener bus has delivered every queued event, so
    * a listener's counters are complete when an operation's deltas are read.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Executes the physical plan `df.queryExecution` already holds, keeps
    * the rows in memory, and returns a DataFrame over them plus the cached
    * RDD to release afterwards. Unlike `cache()`, which plans the query
    * again, this runs the very plan whose phases were timed, so its SQL
    * metrics describe the execution.
    */
  def materialize(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rows = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_ONLY)
    rows.count()
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    (session.internalCreateDataFrame(rows, df.schema, isStreaming = false), rows)
  }
}
