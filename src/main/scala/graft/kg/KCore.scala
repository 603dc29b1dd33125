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

  /** @param edges undirected edges (concept_a, concept_b, ...), each pair
    *              once with concept_a < concept_b.
    * @return (concept_id, deg) for every node of the k-core, deg = its
    *         degree WITHIN the core (≥ k by construction). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    val canon = edges
      .select(
        least(col("concept_a"), col("concept_b")).as("a"),
        greatest(col("concept_a"), col("concept_b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    // a non-fixpoint edge set is not the k-core but a superset of it;
    // maxRounds only bounds pathological inputs (the peel depth is ≤ the
    // degeneracy ordering depth in practice)
    val und = Rounds.untilStable(
      canon
        .select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst"))),
      maxRounds)(_.count())(n =>
      s"k-core peeling did not converge within $maxRounds rounds ($n edges remain); raise maxRounds") { und =>
      val keep = und.groupBy("src").agg(count(lit(1)).as("deg")).where(col("deg") >= k).select("src")
      und
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    und
      .groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("deg"))
      .select(col("src").as("concept_id"), col("deg"))
  }
}
