package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge DataFrame — the
  * canonicalization primitive (J7 in SURVEY.md §2.6). GraphFrames-style
  * iterative DataFrame joins, no RDDs: alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond") — converges in O(log n) rounds REGARDLESS of graph diameter, so
  * a pathological chain is as cheap as a star. Each round is two
  * shuffle-aggregations + joins; hub skew (a hot concept linked from
  * millions of surfaces) is absorbed by map-side partial MIN aggregation.
  * The relink joins are join-on-aggregate, which AQE's skew rule cannot
  * split (PERF.md §3), so a hub's partition remains one straggler task per
  * round.
  *
  * Returns (node, component) with component = the lexicographically
  * smallest node id in the component. The rounds run on [[Rounds]].
  */
object ConnectedComponents {

  /** Alternating star contraction. `edges`: string columns (src, dst). */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxIterations: Int = 30
  ): DataFrame = {
    // one lazy checkpoint of the INPUT pair relation: `nodes` and the
    // canonical edge list both derive from it — without this the (possibly
    // expensive) upstream edge plan ran twice (r6 profile: dedup_cluster
    // computed the LSH band-join + verify once for `nodes` and again for
    // the first round's edge list)
    val ein = Rounds.checkpoint(edges.select(col("src"), col("dst")))
    val nodes = Rounds.checkpoint(
      ein
        .select(col("src").as("node"))
        .union(ein.select(col("dst").as("node")))
        .distinct())

    // canonical undirected edge list (a < b), self-loops dropped
    val canonical = ein
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

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
      val mins = und.groupBy(col("a").as("u")).agg(least(min(col("b")), first(col("a"))).as("m"))
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
      val grouped = cur.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
      val relinked = cur
        .join(grouped, cur("b") === grouped("u"))
        .select(col("m").as("a"), cur("a").as("b"))
        .where(col("a") =!= col("b"))
      val selfEdges = grouped.select(col("m").as("a"), col("u").as("b"))
      relinked.union(selfEdges).distinct()
    }

    // each round's signature job materializes it; the edge set is stable
    // after O(log n) rounds
    val e = Rounds.untilStable(canonical, maxIterations)(signature)(_ =>
      s"connected components did not converge within $maxIterations rounds; raise maxIterations")(
      cur => smallStar(largeStar(cur)))

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
    val ex = Rounds.checkpoint(existing)
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
    val delta = Rounds.checkpoint(run(spark, contracted, maxIterations))
    val remapped = ex
      .join(delta.select(col("node").as("component"), col("component").as("merged")), Seq("component"), "left")
      .select(col("node"), coalesce(col("merged"), col("component")).as("component"))
    val newNodes = delta.join(ex.select("node"), Seq("node"), "left_anti")
    remapped.unionByName(newNodes.select("node", "component"))
  }
}
