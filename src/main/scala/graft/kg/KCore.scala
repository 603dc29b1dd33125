package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition (membership at a given k) over a concept graph —
  * "the subgraph where every concept has ≥ k strong relations", the
  * standard cohesive-subgroup analytic: a node with high degree OR high
  * PageRank can still be peripheral (a star center), while k-core
  * membership certifies it sits inside a mutually-reinforcing cluster.
  *
  * Algorithm: iterative peeling to the FIXPOINT — repeatedly drop nodes
  * with degree < k and their incident edges; what survives is exactly the
  * k-core (the unique maximal subgraph of min-degree ≥ k). Peeling is
  * monotone (the surviving edge set only shrinks), so convergence is
  * guaranteed and the result is iteration-order-independent — the DuckDB
  * oracle unrolls a generous fixed number of peel rounds and equality
  * holds because extra rounds past the fixpoint are no-ops.
  *
  * Scale posture: per round one map-side-combined degree aggregate + two
  * semi-joins on node keys over the working edge set, a [[Rounds]] round
  * whose convergence is a count — the only driver-side value per round.
  * Round count is bounded by the peel depth (≤ graph degeneracy ordering
  * depth, typically a handful; worst case O(n) on a path). A hot hub is
  * ONE aggregation key whose partial sums combine map-side.
  */
object KCore {

  /** @param edges undirected edges (concept_a, concept_b, ...).
    * @return (concept_id, deg) for every node of the k-core, deg = its
    *         degree WITHIN the core (≥ k by construction). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    // a non-fixpoint edge set is not the k-core but a superset of it;
    // maxRounds only bounds pathological inputs (the peel depth is ≤ the
    // degeneracy ordering depth in practice)
    val core = Rounds.untilStable(GraphStats.canonicalPairs(edges), maxRounds)(_.count())(n =>
      s"k-core peeling did not converge within $maxRounds rounds ($n edges remain); raise maxRounds") { pairs =>
      val keep = GraphStats.degrees(pairs).where(col("deg") >= k).select("node")
      pairs
        .join(keep.select(col("node").as("concept_a")), Seq("concept_a"), "left_semi")
        .join(keep.select(col("node").as("concept_b")), Seq("concept_b"), "left_semi")
    }
    GraphStats.degrees(core).select(col("node").as("concept_id"), col("deg"))
  }
}
