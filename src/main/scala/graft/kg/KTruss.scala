package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition (membership at a given k) over a concept graph —
  * the EDGE-grain cohesion analytic that complements [[KCore]]'s node
  * grain: the k-truss is the maximal subgraph in which every surviving
  * edge closes at least k−2 triangles WITHIN the subgraph (Cohen 2008,
  * "Trusses: cohesive subgraphs for social network analysis"). A k-core
  * certifies a node has many strong neighbours; a k-truss certifies each
  * RELATION is embedded in mutually-reinforcing triangles — the stricter
  * community signal (every k-truss is inside a (k−1)-core, never vice
  * versa), and the standard pre-filter for community search at scale.
  *
  * Algorithm: iterative support peeling to the FIXPOINT — each round
  * recomputes per-edge support (triangle incidences) on the surviving
  * edge set and drops edges with support < k−2. Peeling is monotone (the
  * edge set only shrinks) and the fixpoint is the unique maximal k-truss,
  * independent of peel order — so the DuckDB oracle unrolls a generous
  * fixed number of rounds and equality holds because rounds past the
  * fixpoint are no-ops (the same device as [[KCore]]'s oracle).
  *
  * Scale posture: each round is ONE degree-ordered triangle enumeration
  * ([[Triangles.triangleEdges]] — the audited O(m^1.5) wedge bound, hubs
  * cost nothing at wedge time) + one map-side-combined support aggregate
  * + one semi-join over the working edge set, a [[Rounds]] round whose
  * convergence is a count. Production truss engines decrement supports
  * instead of recomputing, but decrement state is mutable and
  * order-sensitive; recompute-per-round keeps every round a pure
  * deterministic Dataset transform, and the round count is bounded by
  * the truss peel depth (a handful on real graphs — each round that
  * does work removes at least one whole support class).
  */
object KTruss {

  /** @param edges undirected edges (concept_a, concept_b, ...).
    * @return (concept_a, concept_b, support) for every edge of the
    *         k-truss, support = its triangle count WITHIN the truss
    *         (≥ k−2 by construction); concept_a < concept_b. */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3 (support threshold k-2 >= 1); got $k")
    val e = Rounds.untilStable(GraphStats.canonicalPairs(edges), maxRounds)(_.count())(n =>
      s"k-truss peeling did not converge within $maxRounds rounds ($n edges remain); raise maxRounds")(
      e => e.join(supportOf(e).where(col("sup") >= k - 2), Seq("concept_a", "concept_b"), "left_semi"))
    // at the fixpoint no edge peels, so the supports over the final edge set
    // are the within-truss supports
    e.join(supportOf(e), Seq("concept_a", "concept_b"))
      .select(col("concept_a"), col("concept_b"), col("sup").as("support"))
  }

  /** Per-edge triangle support over canonical pairs: each triangle credits
    * its three edges. */
  private def supportOf(e: DataFrame): DataFrame =
    Triangles
      .triangleEdges(e)
      .groupBy("concept_a", "concept_b")
      .agg(count(lit(1)).as("sup"))
}
