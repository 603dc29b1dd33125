package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Harmonic closeness centrality over the concept co-occurrence graph —
  * "which concepts sit nearest to everything else", the distance-based
  * complement of [[PageRank]]'s walk-based centrality (the reference ranks
  * concepts only inside one document, /root/reference/flows/aggregate.py:
  * 672-718; this is the corpus-level proximity analytic).
  *
  * Harmonic (Marchiori-Latora), not classic closeness: each node scores
  *
  *   harm_q(s) = sum over v != s, d(s,v) <= maxHops of (10^6 div d(s,v))
  *
  * where d is the unweighted hop distance. The harmonic form needs no
  * reachable-count normalization, so disconnected components contribute 0
  * instead of poisoning a division — and every term is an exact integer
  * floor-division, so the DuckDB oracle (a bounded recursive-CTE walk from
  * every source + MIN rollup + the same sum) reproduces the scores
  * bit-for-bit.
  *
  * The all-sources BFS is one multi-source frontier relation dist(src,
  * node, hops) seeded with every node at distance 0 — N simultaneous BFS
  * runs sharing each round's single join + min-aggregate, not N sequential
  * traversals.
  *
  * Scale posture: dist is O(nodes * reach) rows — DICTIONARY-squared, not
  * corpus-scale (the co-occurrence node set is the concept dictionary; the
  * corpus only ever enters through the already-aggregated edge weights).
  * The static edge list is cached columnar and hash-partitioned on src, so
  * each round exchanges only the frontier; the min-dist merge is a
  * union + partial-agg min (no outer join). Past ~10^5 dictionary nodes
  * the standard move is pivoting: sample K sources (hash-pick, still
  * deterministic) for an unbiased centrality estimate — the loop body is
  * unchanged, only the seed relation shrinks.
  */
object Centrality {

  val Scale: Long = 1000000L

  /** Symmetrized, src-partitioned, materialized edge cache shared by every
    * traversal here; callers must unpersist the returned frame.
    * `numParts` derives the cache's partition count from the edge count
    * (~500k edges per partition; see SparkEntry.partsFor) so a
    * dictionary-sized backbone is 1 partition instead of the session
    * shuffle-partition constant; 0 = the session constant (legacy). */
  private def symmetrize(edges: DataFrame, numParts: Int = 0): DataFrame = {
    val nP =
      if (numParts > 0) numParts
      else edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sym = edges
      .select(col("concept_a").as("src"), col("concept_b").as("dst"))
      .union(edges.select(col("concept_b").as("src"), col("concept_a").as("dst")))
      .repartition(nP, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()
    sym
  }

  /** All-pairs bounded-hop distances: one multi-source frontier relation
    * (s, v, hops) seeded with every node at distance 0 — N simultaneous BFS
    * runs sharing each round's single join + min partial-aggregate. */
  private def bfsDistances(sym: DataFrame, maxHops: Int, seeds: Option[DataFrame] = None): DataFrame = {
    val nodes = seeds.getOrElse(sym.select(col("src").as("node")).distinct())
    var dist = nodes.select(col("node").as("s"), col("node").as("v"), lit(0).as("hops"))
    for (r <- 1 to maxHops) {
      val relaxed = sym
        .join(dist.hint("SHUFFLE_HASH"), sym("src") === dist("v"))
        .select(col("s"), col("dst").as("v"), (col("hops") + 1).as("hops"))
      dist = dist
        .union(relaxed)
        .groupBy("s", "v")
        .agg(min(col("hops")).as("hops"))
      // truncate lineage every 2 rounds: each round references `dist`
      // TWICE (carry-forward union + relaxation), so a fully lazy loop
      // doubles the plan tree per round — 2^maxHops stages by round 6
      // (measured: 35 s on an 11-node sf0.1 backbone, vs ~2 s truncated)
      if (r % 2 == 0 && r < maxHops) dist = dist.localCheckpoint()
    }
    dist
  }

  /** @param edges undirected weighted edges (concept_a, concept_b, n_convs),
    *              each pair once with concept_a < concept_b (weights unused:
    *              distance here is hops).
    * @return (concept_id, harm_q) — fixed-point harmonic centrality within
    *         `maxHops`; every node of the edge set carries a row. */
  def harmonic(edges: DataFrame, maxHops: Int = 6, numParts: Int = 0): DataFrame = {
    val sym = symmetrize(edges, numParts)
    val out = bfsDistances(sym, maxHops)
      .where(col("hops") > 0)
      .groupBy(col("s").as("concept_id"))
      .agg(sum(expr(s"$Scale div hops")).as("harm_q"))
      .localCheckpoint()
    sym.unpersist(false)
    out
  }

  /** Bounded-hop eccentricity per node — max distance to any node REACHED
    * within `maxHops` (an unreachable pair contributes nothing, the same
    * disconnected-component convention as [[harmonic]]): the per-node
    * sibling of the diameter/radius corpus summary, which the consumer
    * derives as max/min over this relation. Same multi-source BFS; the
    * dist relation stays dictionary-squared, never corpus-scale. */
  def eccentricity(edges: DataFrame, maxHops: Int = 6, numParts: Int = 0): DataFrame = {
    val sym = symmetrize(edges, numParts)
    val out = bfsDistances(sym, maxHops)
      .groupBy(col("s").as("concept_id"))
      .agg(max(col("hops")).as("ecc_hops"))
      .localCheckpoint()
    sym.unpersist(false)
    out
  }

  /** Landmark distance oracle (Potamias et al., CIKM'09): BFS from only k
    * LANDMARK nodes, then estimate every pair's distance as
    *
    *   est(u,v) = min over landmarks l of d(u,l) + d(l,v)
    *
    * — an upper bound by the triangle inequality, exact whenever some
    * shortest u–v path passes a landmark. This is the standard constant-
    * time distance oracle past the all-pairs regime: the traversal cost
    * drops from nodes×graph to landmarks×graph (the same economics as
    * pivot-sampled betweenness), the landmark-distance relation
    * (landmarks × nodes) is the persisted artifact, and a single pair
    * query is a k-element min over two of its rows. Landmarks are the k
    * smallest-md5 nodes — the deterministic uniform pivot coin both
    * engines reproduce, so even the ESTIMATES are oracle-checkable.
    * Output: (concept_a, concept_b, est_hops) for every pair reachable
    * from a shared landmark within `maxHops`, concept_a < concept_b
    * (self-pairs excluded; the upper-bound property is asserted in the
    * spec against true BFS distances). */
  def landmarkDistances(edges: DataFrame, landmarks: Int = 4, maxHops: Int = 6, numParts: Int = 0): DataFrame = {
    require(landmarks > 0, s"landmarks must be positive: $landmarks")
    val sym = symmetrize(edges, numParts)
    val seeds = sym
      .select(col("src").as("node"))
      .distinct()
      .orderBy(md5(col("node")), col("node"))
      .limit(landmarks)
    val dist = bfsDistances(sym, maxHops, seeds = Some(seeds)).localCheckpoint()
    sym.unpersist(false)
    val du = dist.select(col("s").as("l"), col("v").as("a"), col("hops").as("ha"))
    val dv = dist.select(col("s").as("l"), col("v").as("b"), col("hops").as("hb"))
    du
      .join(dv, Seq("l"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(min(col("ha") + col("hb")).as("est_hops"))
      .select(col("a").as("concept_a"), col("b").as("concept_b"), col("est_hops"))
      .localCheckpoint()
  }

  /** Exact betweenness centrality (Brandes 2001) within `maxHops`, in
    * fixed-point arithmetic so the DuckDB oracle reproduces every score
    * bit-for-bit. Forward phase: BFS LEVELS with shortest-path counts —
    * level t holds (s, v, sigma) for nodes first reached at distance t,
    * sigma(s,v) = the number of distinct shortest s→v paths (sum of the
    * predecessors' sigmas; a node enters exactly one level, enforced by an
    * anti-join against all earlier levels). Backward phase, deepest level
    * first — the pair-dependency recurrence with per-edge floor division:
    *
    *   delta(s,v) = sum over successors w at level t+1 of
    *                (sigma(s,v) * (10^6 + delta(s,w))) div sigma(s,w)
    *
    *   bc_q(v)    = sum over sources s != v and levels 1..maxHops-1 of
    *                delta(s,v)
    *
    * The floor losses are identical in both engines (DuckDB `//` == Spark
    * `div` on non-negatives). Undirected edges are walked in both
    * directions, so each unordered (s, target) pair contributes from both
    * endpoints — the conventional /2 is left to the consumer to keep every
    * stored value an exact integer.
    *
    * Scale posture: each level relation is (sources × frontier) rows —
    * dictionary-squared like [[bfsDistances]], never corpus-scale. Every
    * forward step is one join against the cached static edges + one
    * partial-agg sum (sigma fan-in collapses map-side) + one anti-join
    * against the cumulative seen set; every backward step is one join
    * between adjacent (localCheckpointed) levels. Hop-bounding is the
    * published large-graph practice (k-bounded betweenness); past ~10^5
    * dictionary nodes the standard next move is source sampling — the loop
    * body is unchanged, only the seed relation shrinks. `pivots > 0`
    * enacts exactly that move (Brandes & Pich 2007): sources are the k
    * nodes with the smallest md5(node) — a deterministic uniform-without-
    * replacement pivot set both engines reproduce bit-for-bit, so even the
    * SAMPLED scores are oracle-checkable (the published estimator
    * extrapolates by n/k; the raw per-pivot sums are emitted so the
    * consumer's scaling never floors away exactness). Level relations
    * shrink from (nodes × frontier) to (k × frontier). */
  def betweenness(edges: DataFrame, maxHops: Int = 4, pivots: Int = 0, numParts: Int = 0): DataFrame = {
    val sym = symmetrize(edges, numParts)
    val nodes = sym.select(col("src").as("node")).distinct()
    val sources =
      if (pivots > 0) nodes.orderBy(md5(col("node")), col("node")).limit(pivots)
      else nodes

    // forward: levels(t) = (s, v, sigma), nodes first reached at hop t
    val levels = scala.collection.mutable.ArrayBuffer(
      sources.select(col("node").as("s"), col("node").as("v"), lit(1L).as("sigma")).localCheckpoint())
    var seen = levels(0).select("s", "v")
    for (_ <- 1 to maxHops) {
      val prev = levels.last
      val next = sym
        .join(prev.hint("SHUFFLE_HASH"), sym("src") === prev("v"))
        .select(col("s"), col("dst").as("v"), col("sigma"))
        .groupBy("s", "v")
        .agg(sum(col("sigma")).as("sigma"))
        .join(seen, Seq("s", "v"), "left_anti")
        .localCheckpoint()
      levels += next
      seen = seen.union(next.select("s", "v")).localCheckpoint()
    }

    // backward: deltas per level, deepest first (delta at the last level = 0)
    var deltaNext = levels.last.select(col("s"), col("v"), col("sigma"), lit(0L).as("delta"))
    var acc = deltaNext.sparkSession.emptyDataFrame
    var accInit = false
    for (t <- (maxHops - 1) to 1 by -1) {
      val succ = deltaNext
        .select(col("s").as("s2"), col("v").as("w"), col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      val cur = levels(t)
      val contrib = sym
        .join(cur.hint("SHUFFLE_HASH"), sym("src") === cur("v"))
        .join(succ, col("dst") === col("w") && col("s") === col("s2"))
        .selectExpr("s", "v", "sigma", s"(sigma * (${Scale}L + delta_w)) div sigma_w AS term")
        .groupBy("s", "v", "sigma")
        .agg(sum(col("term")).as("delta"))
      // nodes of this level with no successor keep delta = 0
      val deltaCur = cur
        .join(contrib.select(col("s"), col("v"), col("delta")), Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sigma"), coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint()
      val nonzero = deltaCur.where(col("delta") > 0).select("v", "delta")
      acc = if (accInit) acc.union(nonzero) else { accInit = true; nonzero }
      deltaNext = deltaCur
    }

    val out = nodes
      .join(
        acc.groupBy(col("v")).agg(sum(col("delta")).as("bc")),
        nodes("node") === col("v"),
        "left")
      .select(col("node").as("concept_id"), coalesce(col("bc"), lit(0L)).as("bc_q"))
      .localCheckpoint()
    sym.unpersist(false)
    out
  }
}
