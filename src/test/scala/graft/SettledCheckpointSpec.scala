package graft

import org.apache.spark.sql.{DataFrame, GraftCheckpointBridge}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftCheckpointBridge.settled` over planted relations under AQE: the
  * partitioning a one-partition checkpoint reports, the size estimate a
  * settled checkpoint carries, and its release. */
class SettledCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case o                        => o.children.flatMap(nodes)
  })

  /** The shuffle exchanges of `df`'s final plan, once it has run. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
  }

  private def leaf(df: DataFrame): LogicalRDD = df.queryExecution.analyzed.asInstanceOf[LogicalRDD]

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private val planted = (0 until 200).map(i => (i % 7, i.toLong, s"v$i"))

  /** The keyed consumers: an aggregate, a window, and a full outer
    * sort-merge join against a second checkpoint of the same layout. */
  private def consumers(ck: DataFrame, other: DataFrame): Seq[(String, DataFrame)] = Seq(
    "groupBy" -> ck.groupBy("k").agg(sum("x").as("sx"), count(lit(1)).as("n")),
    "window" -> ck.select(col("k"), col("x"), row_number().over(Window.partitionBy("k").orderBy("x")).as("rn")),
    "full outer join" -> ck.join(other, Seq("x"), "full_outer")
  )

  private def withSortMergeJoins[A](f: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a one-partition checkpoint plans no exchange under a groupBy, a window or a full outer join") {
    val ck = planted.toDF("k", "x", "s").repartition(1).localCheckpoint()
    val other = (0 until 300 by 3).map(i => (i.toLong, i * 2)).toDF("x", "y").repartition(1).localCheckpoint()
    assert(ck.rdd.getNumPartitions === 1 && other.rdd.getNumPartitions === 1)
    val (settled, settledOther) = (GraftCheckpointBridge.settled(ck), GraftCheckpointBridge.settled(other))
    assert(leaf(settled).rdd eq leaf(ck).rdd, "the same RDD")
    assert(leaf(settled).output === leaf(ck).output, "the same attributes")
    withSortMergeJoins {
      for (((name, before), (_, after)) <- consumers(ck, other).zip(consumers(settled, settledOther))) {
        assert(exchanges(before) > 0, s"$name: the plain checkpoint re-exchanges")
        assert(exchanges(after) === 0, s"$name:\n${after.queryExecution.executedPlan.treeString}")
        assert(rows(after) === rows(before), name)
      }
    }
  }

  test("a 4-partition checkpoint keeps its exchanges") {
    val ck = planted.toDF("k", "x", "s").repartition(4).localCheckpoint()
    val other = (0 until 300 by 3).map(i => (i.toLong, i * 2)).toDF("x", "y").repartition(4).localCheckpoint()
    assert(ck.rdd.getNumPartitions === 4)
    val (settled, settledOther) = (GraftCheckpointBridge.settled(ck), GraftCheckpointBridge.settled(other))
    assert(leaf(settled).outputPartitioning === leaf(ck).outputPartitioning)
    withSortMergeJoins {
      for (((name, before), (_, after)) <- consumers(ck, other).zip(consumers(settled, settledOther))) {
        assert(exchanges(after) === exchanges(before), name)
        assert(exchanges(after) > 0, name)
        assert(rows(after) === rows(before), name)
      }
    }
  }

  /** The bytes the status store holds for `ck`'s RDD, once it has seen a
    * block for every partition (it follows the listener bus). */
  private def cachedBytes(ck: DataFrame): BigInt = {
    val rdd = leaf(ck).rdd
    val deadline = System.nanoTime() + 30L * 1000000000L
    def info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
    while (!info.exists(_.numCachedPartitions == rdd.getNumPartitions) && System.nanoTime() < deadline) Thread.sleep(10)
    val i = info.get
    assert(i.numCachedPartitions === rdd.getNumPartitions)
    BigInt(i.memSize + i.diskSize)
  }

  test("a settled estimate is the smaller of the inherited estimate and the cached bytes") {
    val base = planted.toDF("k", "x", "s")
    // a loop's checkpoints: each inherits its round's join estimate, the
    // product of its inputs', so the estimate compounds round over round
    val compounded = (1 to 12).foldLeft(base.localCheckpoint()) { (cur, _) =>
      cur.join(base.select(col("x"), col("k").as("k2")), "x").select(col("k"), col("x"), col("s")).localCheckpoint()
    }
    val inherited = compounded.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(inherited > BigInt(10).pow(40), s"inherited $inherited")
    val small = base.groupBy("k").agg(max("s").as("s")).localCheckpoint()
    for (ck <- Seq(compounded, small, base.repartition(3).localCheckpoint())) {
      val est = GraftCheckpointBridge.settled(ck).queryExecution.optimizedPlan.stats.sizeInBytes
      val was = ck.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est === was.min(cachedBytes(ck)), s"inherited $was")
    }
    assert(GraftCheckpointBridge.settled(compounded).queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1000000))
    assert(compounded.count() === 200L)
  }

  test("a lazy checkpoint no action has materialized keeps its inherited estimate") {
    val ck = planted.toDF("k", "x", "s").groupBy("k").agg(sum("x").as("sx")).localCheckpoint(eager = false)
    val settled = GraftCheckpointBridge.settled(ck)
    assert(settled.queryExecution.optimizedPlan.stats.sizeInBytes === ck.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(settled.count() === 7L)
  }

  test("the final plans of eval_pr, sim_topk_pq and dedup_minhash keep their exchange counts at sf0.001") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(TestSpark.sf0001, "documents.parquet")), "sf0.001 not present")
    // eval_pr joins two one-partition artifacts; sim_topk_pq's one exchange
    // fans the query vectors out; dedup_minhash's candidates lie in one
    // partition and are joined with broadcast shingle sets where they lie
    for ((q, want) <- Seq("eval_pr" -> 0, "sim_topk_pq" -> 1, "dedup_minhash" -> 0)) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf0001)
      assert(exchanges(df) === want, s"$q:\n${df.queryExecution.executedPlan.treeString}")
    }
  }

  test("Rounds.release frees a settled checkpoint") {
    val ck = GraftCheckpointBridge.settled(planted.toDF("k", "x", "s").repartition(1).localCheckpoint())
    val id = leaf(ck).rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    graft.kg.Rounds.release(ck)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }
}
