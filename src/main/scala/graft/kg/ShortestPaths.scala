package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded weighted shortest paths over the concept co-occurrence graph —
  * the weighted sibling of [[KgPipeline.kHopNeighborhood]]'s min-hop BFS:
  * "how strongly is every concept connected to the corpus's central
  * concept", where traversing a strong edge is cheap and a weak one
  * expensive.
  *
  * Edge cost is the exact integer 10^6 div weight (strong co-occurrence →
  * low cost), and the algorithm is Bellman-Ford bounded to `maxHops`
  * relaxation rounds: after round r, dist(v) is EXACTLY the minimum cost
  * over all walks from the seed using ≤ r edges — a closed-form the DuckDB
  * oracle reproduces independently with a recursive-CTE walk enumeration
  * (bounded by hops, so it terminates despite cycles) + a MIN rollup. All
  * arithmetic is long adds/mins: order-free, hash-comparable.
  *
  * The seed is [[GraphStats.strongestNode]]. The relaxation is [[relax]],
  * the one min-plus round that [[Centrality]]'s hop-distance BFS runs too,
  * over the static cost-edge cache of [[Rounds]]. Unreached nodes carry no
  * row (dist would be +inf).
  */
object ShortestPaths {

  val CostScale: Long = 1000000L

  /** @param edges undirected weighted edges (concept_a, concept_b, n_convs),
    *              each pair once with concept_a < concept_b.
    * @return (concept_id, dist_q) for every node reachable from the
    *         max-strength seed within `maxHops` edges. */
  def fromStrongestNode(edges: DataFrame, maxHops: Int = 3, numParts: Int = 0): DataFrame =
    Rounds.withStaticEdges(
        GraphStats.bothDirections(edges, expr(s"$CostScale div n_convs").as("cost")), numParts, "src") { sym =>
      val seed = GraphStats.strongestNode(edges).select(col("seed").as("s"), col("seed").as("v"), lit(0L).as("d"))
      relax(sym, seed, maxHops, col("cost")).select(col("v").as("concept_id"), col("d").as("dist_q"))
    }

  /** Bounded min-plus relaxation over (s, v, d): `rounds` rounds of
    * d(s, v) = min(d(s, v), d(s, u) + cost(u, v)) from `init`, over the
    * static edges `sym` (src, dst, …) partitioned on src, `cost` evaluated
    * on the edge row. After round r, d(s, v) is exactly the minimum cost
    * over all walks from s using ≤ r edges. Each round is one join
    * exchanging only the frontier-sized dist relation + a union and a
    * partial-agg min (no outer join). Each round reads `dist` twice (the
    * carry-forward union + the relaxation), so a fully lazy loop doubles
    * the plan tree per round: it is truncated every 2 rounds (measured on
    * the all-sources BFS, 6 rounds over an 11-node sf0.1 backbone: 35 s
    * lazy, ~2 s truncated). */
  private[kg] def relax(sym: DataFrame, init: DataFrame, rounds: Int, cost: Column): DataFrame =
    Rounds.repeat(init, rounds, every = 2) { (dist, _) =>
      val relaxed = sym
        .join(dist.hint("SHUFFLE_HASH"), sym("src") === dist("v"))
        .select(col("s"), col("dst").as("v"), (col("d") + cost).as("d"))
      dist
        .union(relaxed)
        .groupBy("s", "v")
        .agg(min(col("d")).as("d"))
    }
}
