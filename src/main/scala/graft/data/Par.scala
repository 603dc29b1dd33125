package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Parallelism repair for CPU-dense, byte-light stages (r6 guide §2).
  *
  * Byte-based input splitting undercounts per-row transform work by orders
  * of magnitude: a compact parquet corpus whose rows fan out into n-gram /
  * hash / signature construction arrives as one 128 MB-split and the whole
  * build runs single-core (profiled at sf0.1: 0.4-0.8 s single-task stages
  * in the sketch/signature family). `fanOut` round-robins such an input to
  * the session parallelism ONLY when it arrives narrower — at corpus scale
  * the scan is already wide and no extra shuffle is paid, so the device is
  * scale-adaptive rather than a local-mode constant (the conditional twin
  * of the pinned repartition verifyJaccard documents).
  */
object Par {

  /** Repartition `df` for CPU-dense work iff it currently has fewer
    * partitions than the input's own size warrants. The target is derived
    * from the optimizer's size estimate (~32 KB of input bytes per
    * partition — transform work per input byte runs ~100x a plain scan's),
    * clamped to the session shuffle parallelism: a 1.5 MB sf0.1 corpus
    * fans out to ~20 tasks (not 128 overhead-only ones — measured: conf-
    * wide fan-out cost more in task scheduling and downstream cached-scan
    * width than the parallelism won back), a production corpus hits the
    * clamp, and an already-wide scan is untouched. Call on a narrow
    * projection so the conditional shuffle moves only the needed bytes.
    * Results are partitioning-independent for every consumer in this repo
    * (aggregations / joins / sketches). An input with a leaf of unknown
    * size (its estimate is `spark.sql.defaultSizeInBytes`, as for an RDD
    * leaf without statistics) is kept as it is: that estimate is no size,
    * and read as one it would fan out to the full session width. */
  def fanOut(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val plan = df.queryExecution.optimizedPlan
    if (plan.collectLeaves().exists(_.stats.sizeInBytes == plan.conf.defaultSizeInBytes)) df
    else {
      val bytes = plan.stats.sizeInBytes
      val target =
        if (bytes > BigInt(conf.toLong * 32768L)) conf
        else math.max(1, (bytes / 32768).toInt + 1)
      if (inputPartitions(df) < target) df.repartition(target) else df
    }
  }

  /** The partition count `df` arrives with, read from the leaves of its
    * planned (not prepared) physical plan: a file, RDD, in-memory or local
    * scan creates its RDD without running a job, where `df.rdd` would
    * compile and finalize the whole physical plan — code generation
    * included — for this one number. That holds only where the leaves'
    * partitioning is the output's, so `df` must be narrow: chains of
    * operators with one child over one scan each, no exchange, no operator
    * that would need one, joined at most by a union (which counts its
    * legs' partitions, as its RDD does). */
  private[graft] def inputPartitions(df: DataFrame): Int = {
    val plan = df.queryExecution.sparkPlan
    val wide = plan.find(p =>
      (p.children.size > 1 && !p.isInstanceOf[UnionExec]) || p.isInstanceOf[Exchange] ||
        p.requiredChildDistribution.exists(_ != UnspecifiedDistribution))
    require(wide.isEmpty, s"fanOut needs a narrow plan over scans, got:\n${plan.treeString}")
    plan.collectLeaves().map { leaf =>
      (if (leaf.supportsColumnar) leaf.executeColumnar() else leaf.execute()).getNumPartitions
    }.sum
  }
}
