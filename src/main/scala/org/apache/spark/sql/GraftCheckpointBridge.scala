package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** A checkpoint keeps the size estimate of the plan it replaced, and the
  * constructor that takes another (LogicalRDD's second parameter list, with
  * Dataset.ofRows) is private[sql]; this shim re-plans a checkpoint with a
  * caller-given estimate. Rows and partitions are untouched. No Spark
  * internals are modified. */
object GraftCheckpointBridge {
  def withSizeEstimate(ck: DataFrame, sizeInBytes: BigInt): DataFrame = {
    val s = ck.sparkSession.asInstanceOf[classic.SparkSession]
    val r = ck.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(s, r.copy()(s, Some(Statistics(sizeInBytes)), Some(r.constraints)))
  }
}
