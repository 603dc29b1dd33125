package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import GraphStats.{bothDirections, canonicalPairs, degrees}

/** Per-node triangle counts over the undirected concept co-occurrence
  * graph — the local-clustering analytic ("how interlinked is this
  * concept's neighbourhood") that complements PageRank's global
  * centrality. Triangle membership is what distinguishes a concept that
  * merely co-occurs widely from one sitting inside a densely connected
  * topic cluster.
  *
  * Algorithm: degree-ordered edge orientation (the standard distributed
  * triangle-counting shape — cf. Suri & Vassilvitskii, "Counting Triangles
  * and the Curse of the Last Reducer", WWW 2011). Every undirected edge is
  * oriented from its lower- to its higher-(degree, id) endpoint; wedges
  * are generated per node from its OUT-neighbours only, and a wedge
  * (u→v, u→w) closes into a triangle iff the oriented edge v→w exists.
  * Each triangle is found exactly once (at its lowest-rank corner).
  *
  * Scale posture: orientation bounds every out-degree by O(sqrt(m)), so
  * the wedge self-join materializes O(m^1.5) candidate rows worst-case —
  * the provably optimal bound for this join shape — instead of the
  * Σ deg² blow-up a hub suffers under naive (id-ordered) wedging: a hot
  * concept has huge IN-degree but tiny out-degree, so hubs cost nothing
  * at wedge time. All joins are shuffle joins on node keys (nothing
  * node-sized is broadcast); the closing-edge join keys on (v, w) pairs,
  * which orientation keeps near-uniform. Counts are orientation-
  * independent, so the DuckDB oracle cross-checks with the naive
  * a<b<c three-way self-join instead — two genuinely different
  * formulations agreeing on every row.
  */
object Triangles {

  /** @param edges undirected edges (concept_a, concept_b, ...).
    * @return (concept_id, n_triangles) for every node of the graph,
    *         zero-count nodes included. */
  def triangleCounts(edges: DataFrame): DataFrame =
    countsAndDegrees(edges).select("concept_id", "n_triangles")

  /** Local clustering coefficient per node — the normalized form of the
    * triangle counts: coef(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the fraction
    * of v's neighbour pairs that are themselves linked ("is this concept's
    * neighbourhood a clique or a star"). Emitted FIXED-POINT (parts per
    * million, floor division) so the ratio is a long and the DuckDB oracle
    * reproduces it exactly; deg < 2 → 0 by convention (no pairs to close).
    * The degrees are the ones the triangle orientation already computes, so
    * the O(m^1.5) wedge bound is the whole cost. */
  def clusteringCoefficients(edges: DataFrame): DataFrame =
    countsAndDegrees(edges)
      .select(
        col("concept_id"),
        col("deg"),
        col("n_triangles"),
        when(
          col("deg") >= 2,
          expr("(2 * n_triangles * 1000000) div (deg * (deg - 1))")
        ).otherwise(lit(0L)).as("coef_ppm"))

  /** (concept_id, deg, n_triangles) for every node of the graph. */
  private def countsAndDegrees(edges: DataFrame): DataFrame = {
    val pairs = canonicalPairs(edges)
    val deg = degrees(pairs)
    val corners = triangles(pairs, deg)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("cnt"))
    deg
      .join(corners, Seq("node"), "left")
      .select(col("node").as("concept_id"), col("deg"), coalesce(col("cnt"), lit(0L)).as("n_triangles"))
  }

  /** One row per (triangle, member edge) over canonical pairs (as
    * [[GraphStats.canonicalPairs]] returns them; [[KTruss]] passes its
    * working edge set): each triangle is enumerated once by [[triangles]],
    * then credited to its three edges in canonical (id-ordered) form.
    * Distinct from triangleCounts' corner explode: support is an EDGE-grain
    * statistic, so the emit key is the pair, not the node. */
  def triangleEdges(canonEdges: DataFrame): DataFrame = {
    def edge(x: String, y: String) =
      struct(least(col(x), col(y)).as("concept_a"), greatest(col(x), col(y)).as("concept_b"))
    triangles(canonEdges, degrees(canonEdges))
      .select(explode(array(edge("u", "v"), edge("u", "w"), edge("v", "w"))).as("edge"))
      .select("edge.*")
  }

  /** Every triangle of canonical pairs once, as (u, v, w), given the pairs'
    * degrees (node, deg). Each pair is oriented from its lower- to its
    * higher-(degree, id) endpoint; wedges are generated per node from its
    * out-neighbours only, and a wedge (u→v, u→w) closes iff the oriented
    * pair v→w exists, so a triangle is found at its lowest-rank corner. */
  private def triangles(pairs: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = pairs
      .join(deg.select(col("node").as("concept_a"), col("deg").as("deg_a")), Seq("concept_a"))
      .join(deg.select(col("node").as("concept_b"), col("deg").as("deg_b")), Seq("concept_b"))
    val aLower = struct(col("deg_a"), col("concept_a")) < struct(col("deg_b"), col("concept_b"))
    // (lo, hi, hi_deg): lo = lower-rank endpoint; hi_deg carried so wedge
    // ordering below needs no re-join against the degree table
    val oriented = withDeg
      .select(
        when(aLower, col("concept_a")).otherwise(col("concept_b")).as("lo"),
        when(aLower, col("concept_b")).otherwise(col("concept_a")).as("hi"),
        when(aLower, col("deg_b")).otherwise(col("deg_a")).as("hi_deg"))
      .localCheckpoint() // feeds the wedge self-join AND the closing join

    val o1 = oriented.as("o1")
    val o2 = oriented.as("o2")
    val outWedges = o1
      .join(
        o2,
        col("o1.lo") === col("o2.lo") &&
          struct(col("o1.hi_deg"), col("o1.hi")) < struct(col("o2.hi_deg"), col("o2.hi")))
      .select(col("o1.lo").as("u"), col("o1.hi").as("v"), col("o2.hi").as("w"))
    // rank(v) < rank(w), so the closing edge — if present — is oriented v→w
    outWedges.join(oriented.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))
  }

  /** The common-neighbour wedges of an adjacency relation (src, dst, …):
    * one row (src, concept_a, concept_b, …) per centre src and pair
    * concept_a < concept_b of its neighbours, carrying the centre row's
    * other columns. Σ C(deg, 2) rows, so callers cap the centres' degree
    * first. */
  private[kg] def wedges(adj: DataFrame): DataFrame =
    adj
      .withColumnRenamed("dst", "concept_a")
      .join(adj.select(col("src"), col("dst").as("concept_b")), Seq("src"))
      .where(col("concept_a") < col("concept_b"))

  /** Common-neighbour link prediction: the top-k NON-adjacent concept
    * pairs ranked by how many neighbours they share — "which concepts
    * should probably be related but aren't linked yet", the classic
    * missing-edge suggestion over a knowledge graph.
    *
    * Scale posture: wedge generation is Σ C(deg(u), 2), inherently
    * quadratic in degree — so nodes above `maxDeg` are excluded from
    * wedge generation (NOT from the result pairs). That is the standard
    * mitigation AND the statistically right call: a shared super-hub
    * neighbour ("both co-occur with 'climate change'") carries no signal,
    * exactly like a stopword in retrieval. The exclusion is a pre-join
    * filter on the (node, degree) table; everything downstream keys on
    * candidate pairs, which the cap keeps near-uniform. Deterministic
    * (score desc, a, b) ordering so the top-k boundary is
    * oracle-reproducible. */
  def linkPrediction(edges: DataFrame, maxDeg: Long = 10000L, k: Int = 20): DataFrame =
    predictLinks(edges, maxDeg, k, "n_common")((w, _) => commonCounts(w))

  /** Fixed-point scale of [[linkPredictionRA]] scores (ppm). */
  val RaScale: Long = 1000000L

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009): rank
    * non-adjacent pairs by Σ over shared neighbours z of 1/deg(z) — the
    * published refinement of raw common-neighbour counting that DISCOUNTS
    * promiscuous shared neighbours smoothly instead of only capping them
    * (a z shared with 500 others carries 1/500 of the evidence a
    * degree-2 z carries; the same insight as idf weighting in retrieval).
    * RA consistently beats common-neighbours and Adamic-Adar on accuracy
    * in the link-prediction literature — and unlike Adamic-Adar's
    * 1/log(deg) it needs no logarithm, so the score is an EXACT integer:
    *
    *   ra_q(a, b) = Σ_z (10^6 div deg(z))
    *
    * and the DuckDB oracle reproduces every score and the top-k boundary
    * bit-for-bit (ties broken (score desc, a, b)).
    *
    * Scale posture identical to [[linkPrediction]]: wedge generation is
    * Σ C(deg, 2), so nodes above `maxDeg` are excluded from wedge
    * generation (with RA this loses almost nothing BY CONSTRUCTION — an
    * excluded hub's per-wedge contribution is ≤ 10^6/maxDeg); deg(z) is
    * carried on the wedge-centre row, so the scoring needs no extra join. */
  def linkPredictionRA(edges: DataFrame, maxDeg: Long = 10000L, k: Int = 20): DataFrame =
    predictLinks(edges, maxDeg, k, "ra_q") { (w, _) =>
      w.groupBy("concept_a", "concept_b").agg(sum(expr(s"${RaScale}L div deg")).as("ra_q"))
    }

  /** Neighborhood-Jaccard link prediction: score a non-adjacent pair by
    * |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the normalized third lens next to
    * raw common-neighbours ([[linkPrediction]], hub-biased) and RA
    * ([[linkPredictionRA]], hub-discounted per shared neighbour): Jaccard
    * instead discounts by the ENDPOINTS' own degrees, so a pair of
    * low-degree concepts sharing most of their small neighbourhoods
    * outranks a hub pair sharing a sliver. All-integer fixed point:
    * jac_ppm = (10^6 · common) div (deg_a + deg_b − common) — denominator
    * ≥ common ≥ 1 by the wedge construction, and 10^6 · common cannot
    * approach Long range at any realistic dictionary size.
    *
    * Same wedge economics as the siblings: pair generation is Σ C(deg, 2)
    * over deg-capped middles (the stopword argument), the two degree
    * pins are dictionary-grain joins. */
  def linkPredictionJaccard(edges: DataFrame, maxDeg: Long = 10000L, k: Int = 20): DataFrame =
    predictLinks(edges, maxDeg, k, "jac_ppm") { (w, deg) =>
      commonCounts(w)
        .join(deg.select(col("node").as("concept_a"), col("deg").as("deg_a")), Seq("concept_a"))
        .join(deg.select(col("node").as("concept_b"), col("deg").as("deg_b")), Seq("concept_b"))
        .select(
          col("concept_a"),
          col("concept_b"),
          expr("(1000000 * n_common) div (deg_a + deg_b - n_common)").as("jac_ppm"))
    }

  /** The top k non-adjacent pairs of the graph of `edges` by the column
    * `score` of `scored(wedges, deg)`, ties to the lower pair. `wedges` are
    * (src, concept_a, concept_b, deg) through every centre src of degree
    * deg ≤ `maxDeg`; `deg` is the graph's (node, deg). */
  private def predictLinks(edges: DataFrame, maxDeg: Long, k: Int, score: String)(
      scored: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val pairs = canonicalPairs(edges)
    val deg = degrees(pairs)
    val capped = bothDirections(pairs)
      .join(deg.where(col("deg") <= maxDeg).withColumnRenamed("node", "src"), Seq("src"))
    scored(wedges(capped), deg)
      .join(pairs, Seq("concept_a", "concept_b"), "left_anti")
      .orderBy(col(score).desc, col("concept_a"), col("concept_b"))
      .limit(k)
      .select("concept_a", "concept_b", score)
  }

  /** (concept_a, concept_b, n_common) of wedges: each pair's number of
    * common neighbours. */
  private def commonCounts(wedges: DataFrame): DataFrame =
    wedges.groupBy("concept_a", "concept_b").agg(count(lit(1)).as("n_common"))
}
