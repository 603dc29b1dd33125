package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Re-plans a local checkpoint with what Spark knows about it once it is
  * cut. `LogicalRDD`'s constructor that takes a size estimate (its second
  * parameter list, with `Dataset.ofRows`) is `private[sql]`, hence this shim
  * in Spark's package. No Spark internals are modified. */
object GraftCheckpointBridge {

  /** `ck` (a `localCheckpoint`'s result, not a plan over it) re-planned as
    * the same `LogicalRDD`: the same RDD, rows and attributes, so
    * `Rounds.release` still frees it, with two things changed.
    *
    *  - Its partitioning is `SinglePartition` when the RDD has one
    *    partition. Under AQE a checkpoint reports `UnknownPartitioning`, so
    *    a keyed consumer (an aggregate, a window, a sort-merge join) of a
    *    one-partition checkpoint plans an exchange of rows that already lie
    *    together, and each exchange is one more AQE job. An RDD of more
    *    partitions keeps the partitioning it had: its rows are not known to
    *    be placed by any key.
    *  - Its size estimate is the smaller of the inherited one and the bytes
    *    its cache holds. A checkpoint keeps the estimate of the plan it
    *    replaced, and an inner join is estimated at the product of its
    *    inputs, so a loop's checkpoints compound past 1e40 B; such an
    *    estimate stops the planner from broadcasting or co-locating a tiny
    *    relation. The cached bytes are read from the block manager's master,
    *    which every stored block reports to before its task ends, and are
    *    used only when every partition has a block: a lazy checkpoint that
    *    no action has materialized yet keeps the inherited estimate. Rows ×
    *    row width alone would under-estimate wide string or array rows
    *    (`defaultSize` is 20 B for a string), and a large relation could
    *    then be planned as a broadcast. */
  def settled(ck: DataFrame): DataFrame = {
    val s = ck.sparkSession.asInstanceOf[classic.SparkSession]
    val r = ck.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case leaf: LogicalRDD => leaf
      case other            => throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
    }
    val parts = r.rdd.getNumPartitions
    val partitioning = if (parts == 1) SinglePartition else r.outputPartitioning
    val size = cachedBytes(s, r.rdd.id, parts).fold(r.stats.sizeInBytes)(r.stats.sizeInBytes.min(_))
    classic.Dataset.ofRows(s, r.copy(outputPartitioning = partitioning)(s, Some(Statistics(size)), Some(r.constraints)))
  }

  /** Whether `df` is a settled checkpoint that reports one partition. */
  def onePartition(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.outputPartitioning == SinglePartition
    case _             => false
  }

  /** The bytes (memory and disk) the blocks of RDD `id` hold, when all of
    * its `parts` partitions have one. */
  private def cachedBytes(s: classic.SparkSession, id: Int, parts: Int): Option[BigInt] = {
    val blocks = s.sparkContext.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect { case (b: RDDBlockId, st) if b.rddId == id => b.splitIndex -> (st.memSize + st.diskSize) })
      .toMap
    if (parts > 0 && blocks.size == parts) Some(BigInt(blocks.values.sum)) else None
  }
}
