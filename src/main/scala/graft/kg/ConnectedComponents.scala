package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge DataFrame — the
  * canonicalization primitive (J7 in SURVEY.md §2.6). GraphFrames-style
  * iterative DataFrame joins, no RDDs. Two algorithms:
  *
  *  - `run` (default): alternating large-star / small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
  *    converges in O(log n) rounds REGARDLESS of graph diameter, so a
  *    pathological chain is as cheap as a star. Each round is two
  *    shuffle-aggregations + joins; hub skew (a hot concept linked from
  *    millions of surfaces) is absorbed by map-side partial MIN aggregation
  *    and AQE skew-join splitting.
  *  - `runPropagation`: simple min-label propagation, O(diameter) rounds —
  *    cheaper per round for the tiny-diameter dictionary graphs the linking
  *    step produces, with a salted two-level neighbour-min so hub updates
  *    don't collapse into one reducer.
  *
  * Both return (node, component) with component = the lexicographically
  * smallest node id in the component; `localCheckpoint` truncates lineage
  * every round so plans don't grow with iteration count.
  *
  * Round materialization is SERIALIZED (`MEMORY_AND_DISK_SER`) and each
  * round's cache is dropped once the next round lands: the default
  * localCheckpoint storage keeps two JVM objects per row, and at 16M-row
  * rounds the accumulated row-object caches made GC the dominant executor
  * cost (the PageRank loop measured GC >50% of task runtime under the
  * same pattern — see PERF.md §7). Serialized blocks hold a handful of
  * byte buffers per partition instead, and the working set stays at one
  * round, not `iterations` rounds.
  */
object ConnectedComponents {

  /** localCheckpoint with serialized storage, tracking the cached RDD ids
    * so the caller can drop the round once its successor is materialized.
    * `eager = false` truncates the logical plan immediately but defers
    * materialization to the round's own convergence action (signature /
    * changed-count), fusing what used to be two jobs per round into one —
    * LocalRDDCheckpointData fills in any partitions the action's job left
    * uncomputed before truncating lineage, so the fusion is safe even under
    * a short-circuiting action. */
  private def cpSer(spark: SparkSession, df: DataFrame, eager: Boolean = true): (DataFrame, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (out, (after -- before))
  }

  private def dropCached(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Alternating star contraction. `edges`: string columns (src, dst).
    *
    * `skewHardened`: materialize (localCheckpoint) each round's per-node
    * minimum BEFORE the relink join. The star joins are join-on-aggregate —
    * a shape AQE's skew rule can never split (splitting the aggregate's
    * partition would break group atomicity), so a hub holding a large
    * fraction of all edges serializes the relink into one straggler task.
    * Materializing the (one-row-per-key) aggregate turns the join into the
    * canonical shuffle⋈shuffle shape, and AQE then splits the hub partition
    * (`SortMergeJoin(skew=true)` / `AQEShuffleRead coalesced and skewed`,
    * CcBench skew leg: 3.6x faster per round at a 50%-of-edges hub). Off by
    * default: dictionary-scale graphs pay the extra materialization without
    * a hub to win it back on. */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxIterations: Int = 30,
      skewHardened: Boolean = false
  ): DataFrame = {
    var matIds = Set.empty[Int] // skewHardened per-round materializations
    def mat(df: DataFrame): DataFrame = if (skewHardened) {
      val (out, ids) = cpSer(spark, df); matIds ++= ids; out
    } else df
    // one lazy checkpoint of the INPUT pair relation: `nodes` and the
    // canonical edge list both derive from it — without this the (possibly
    // expensive) upstream edge plan ran twice (r6 profile: dedup_cluster
    // computed the LSH band-join + verify once for `nodes` and again for
    // the first round's edge list)
    val ein = edges
      .select(col("src"), col("dst"))
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = ein
      .select(col("src").as("node"))
      .union(ein.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)

    // canonical undirected edge list (a < b), self-loops dropped
    var (e, eIds) = cpSer(
      spark,
      ein
        .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct(),
      eager = false)

    def signature(df: DataFrame): (Long, Long) = {
      // xor-fold: order-independent, overflow-free under ANSI mode (the edge
      // set is distinct, so xor cancellation can't collide across rounds)
      val row = df
        .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)))
        .collect()(0)
      (row.getLong(0), row.getLong(1))
    }

    /** large-star: every node connects its larger neighbours to its current
      * minimum (neighbours ∪ self). */
    def largeStar(cur: DataFrame): DataFrame = {
      val und = cur.union(cur.select(col("b").as("a"), col("a").as("b"))) // (u, v)
      val mins = mat(und.groupBy(col("a").as("u")).agg(least(min(col("b")), first(col("a"))).as("m")))
      und
        .join(mins, und("a") === mins("u"))
        .where(col("b") > col("a"))
        .select(col("m").as("a"), col("b"))
        .where(col("a") =!= col("b"))
        .distinct()
    }

    /** small-star: every node connects its smaller neighbours (and itself)
      * to their minimum. Canonical edges grouped by the larger endpoint. */
    def smallStar(cur: DataFrame): DataFrame = {
      val grouped = mat(cur.groupBy(col("b").as("u")).agg(min(col("a")).as("m")))
      val relinked = cur
        .join(grouped, cur("b") === grouped("u"))
        .select(col("m").as("a"), cur("a").as("b"))
        .where(col("a") =!= col("b"))
      val selfEdges = grouped.select(col("m").as("a"), col("u").as("b"))
      relinked.union(selfEdges).distinct()
    }

    var sig = signature(e) // materializes the lazily-checkpointed e (and ein)
    var iteration = 0
    var converged = false
    while (!converged && iteration < maxIterations) {
      matIds = Set.empty
      // lazy checkpoint + signature = ONE job per round (the signature
      // action materializes the round), vs eager-checkpoint-then-signature's
      // two — same shuffles, half the per-round scheduling latency
      val (next, nextIds) = cpSer(spark, smallStar(largeStar(e)), eager = false)
      val nextSig = signature(next)
      // previous round + intra-round skew materializations are fully
      // consumed once `next` is on disk — drop them so the cached working
      // set stays at one round, not `iterations` rounds
      dropCached(spark, eIds ++ matIds)
      converged = nextSig == sig
      e = next
      eIds = nextIds
      sig = nextSig
      iteration += 1
    }
    // a labelling that has not reached its fixpoint is not the components —
    // fail loudly rather than return it (O(log n) rounds suffice in practice)
    require(converged, s"connected components did not converge within $maxIterations rounds; raise maxIterations")

    val memberLabels = e.select(col("b").as("node"), col("a").as("component"))
    val rootLabels = e.select(col("a").as("node"), col("a").as("component"))
    nodes
      .join(memberLabels.union(rootLabels).groupBy("node").agg(min("component").as("component")), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** Incremental connected components — fold a BATCH of new edges into an
    * existing (node, component) assignment without re-running CC over the
    * full edge set: the canonicalization twin of the incremental dedup
    * ingest operators. New edges are CONTRACTED through the existing
    * assignment (endpoint -> its current component, unseen nodes stay
    * themselves); CC runs only on that contracted graph — whose size is
    * O(batch), not O(all edges) — and the resulting merges are composed
    * back over the full assignment with one join.
    *
    * Correctness: contraction preserves connectivity (each old component is
    * summarized by its representative), and because the component id is the
    * MINIMUM node id, min-composition is exact: the merged component's id is
    * min over the merged old representatives and new nodes = the id a full
    * re-run would assign. So incremental == full CC over (old ∪ batch)
    * edges, which is what the driver oracle checks.
    *
    * At 10^12-edge scale the remap join keys on component — hub components
    * are exactly the skewed keys AQE skew-join splitting absorbs, and only
    * components actually merged by the batch appear on the delta side. */
  def runIncremental(
      spark: SparkSession,
      existing: DataFrame,
      newEdges: DataFrame,
      maxIterations: Int = 30
  ): DataFrame = {
    // the existing assignment is consumed FOUR times below (both contraction
    // sides, the remap join, the new-node anti-join) — materialize it once
    // lazily instead of re-running its plan per consumer
    val ex = existing.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    val exSrc = ex.select(col("node").as("src"), col("component").as("src_comp"))
    val exDst = ex.select(col("node").as("dst"), col("component").as("dst_comp"))
    val contracted = newEdges
      .join(exSrc, Seq("src"), "left")
      .join(exDst, Seq("dst"), "left")
      .select(
        coalesce(col("src_comp"), col("src")).as("src"),
        coalesce(col("dst_comp"), col("dst")).as("dst")
      )
    // delta nodes are old representatives + brand-new nodes; feeds two
    // consumers (remap + new-node split), so materialize once
    val delta = run(spark, contracted, maxIterations).localCheckpoint(false)
    val remapped = ex
      .join(delta.select(col("node").as("component"), col("component").as("merged")), Seq("component"), "left")
      .select(col("node"), coalesce(col("merged"), col("component")).as("component"))
    val newNodes = delta.join(ex.select("node"), Seq("node"), "left_anti")
    remapped.unionByName(newNodes.select("node", "component"))
  }

  /** Min-label propagation (O(diameter) rounds). */
  def runPropagation(
      spark: SparkSession,
      edges: DataFrame,
      maxIterations: Int = 25,
      salt: Int = 8
  ): DataFrame = {
    val und = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

    var (labels, labelIds) = cpSer(
      spark,
      und
        .select(col("src").as("node"))
        .distinct()
        .withColumn("component", col("node")),
      eager = false) // materialized by round 1's changed-count job

    var iteration = 0
    var converged = false
    while (!converged && iteration < maxIterations) {
      // neighbour min: two-level aggregation — salted partial min then final
      // min — so a hub node's updates don't all land in one reducer.
      val neighbourMin = und
        .join(labels.hint("shuffle_hash"), und("src") === labels("node"))
        .select(col("dst").as("node"), col("component"), (crc32(col("dst")) % salt).as("s"))
        .groupBy(col("node"), col("s"))
        .agg(min("component").as("component"))
        .groupBy("node")
        .agg(min("component").as("component"))

      // lazy checkpoint + changed-count = ONE job per round (the count
      // materializes the round; LocalRDDCheckpointData fills in partitions
      // the limit short-circuits past before truncating lineage)
      val (updated, updatedIds) = cpSer(
        spark,
        labels
          .union(neighbourMin)
          .groupBy("node")
          .agg(min("component").as("component")),
        eager = false)

      val changed = updated
        .join(labels.withColumnRenamed("component", "old"), "node")
        .where(col("component") =!= col("old"))
        .limit(1)
        .count()

      dropCached(spark, labelIds)
      labels = updated
      labelIds = updatedIds
      converged = changed == 0
      iteration += 1
    }
    // propagation needs diameter + 1 rounds; a capped run leaves labels that
    // are not component minima — fail loudly rather than return them
    require(
      converged,
      s"label propagation did not converge within $maxIterations rounds (graph diameter too large); raise maxIterations")
    labels
  }
}
