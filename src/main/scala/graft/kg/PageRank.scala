package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted PageRank over the concept co-occurrence graph — the standard
  * "which entities matter" analytic over the extracted KG (the corpus-level
  * sibling of the reference's per-document concept counts,
  * /root/reference/flows/aggregate.py:672-718, which rank concepts only
  * within one document).
  *
  * All rank arithmetic is FIXED-POINT (longs, scale 2^32) so every sum is
  * exact and order-free and a second engine (the DuckDB oracle) reproduces
  * the ranks bit-for-bit — the same determinism device as the IVF codebook's
  * quantized-integer Lloyd means. With damping d = 85/100 and per-node
  * initial mass 2^32:
  *
  *   r_{t+1}(v) = T + (85 * sum_{(u,v) in E} floor(r_t(u) * w_uv / W_u)) div 100
  *
  * where W_u is u's total incident weight and the teleport term
  * T = (15 * 2^32) div 100 is a CONSTANT: total initial mass is N * 2^32,
  * so (1-d)/N of it is per-node independent of N — no driver-side count
  * needed. Floor losses make total mass decay by < N*2 per iteration (one
  * ulp per edge + one per node); rankings are unaffected and both engines
  * lose identically.
  *
  * Scale posture: [[Rounds]] holds the account of the static edge cache
  * and the lazy round plan. Here the edge list carries each source's total
  * weight W_u, joined in once before caching (at 32M directed edges a
  * per-iteration join of it dominated the loop), and the node list is
  * cached beside it: the rank-update join is exchange-free on both sides,
  * since contrib comes out of its aggregation hash-partitioned on dst and
  * the cached node list is partitioned on the same attribute lineage.
  */
object PageRank {

  val Scale: Long = 1L << 32
  /** (15 * 2^32) div 100 — the constant teleport term. */
  val Teleport: Long = (15L * Scale) / 100L

  /** @param edges undirected weighted edges (concept_a, concept_b, n_convs);
    *              each pair listed once with concept_a < concept_b.
    * @param numParts static-edge-cache partition count — derive from the
    *   edge count (~500k edges per partition; see SparkEntry.partsFor) so a
    *   dictionary-sized graph is 1 partition and a corpus-epoch graph fans
    *   out; 0 = the session shuffle-partition constant (legacy callers).
    * @return (concept_id, rank_q) — fixed-point rank, scale 2^32,
    *         materialized. */
  def run(edges: DataFrame, iterations: Int = 5, numParts: Int = 0): DataFrame =
    ranks(edges, iterations, numParts)(identity, lit(true))

  /** Personalized PageRank (random walk with restart): the teleport mass
    * returns to ONE seed node instead of spreading uniformly, so ranks
    * measure proximity to the seed — the "related entities" query over the
    * KG (the reference's related-concepts view is a one-hop neighbour list,
    * knowledge_graph/concept.py's related_concepts; PPR is its multi-hop
    * walk generalization).
    *
    * Same fixed-point device as [[run]] (longs, scale 2^32, floor
    * divisions identical in both engines):
    *
    *   r_0(v)     = [v = seed] * 2^32
    *   r_{t+1}(v) = [v = seed] * T + (85 * sum_{(u,v)} floor(r_t(u) * w / W_u)) div 100
    *
    * with T = (15 * 2^32) div 100 and the seed
    * [[GraphStats.strongestNode]], joined into the cached node list once
    * (a one-row broadcast). Nodes the walk hasn't reached carry rank 0 —
    * kept as rows so the output grain is the node set, same as [[run]]. */
  def personalized(edges: DataFrame, iterations: Int = 5, numParts: Int = 0): DataFrame = {
    val seed = GraphStats.strongestNode(edges)
    ranks(edges, iterations, numParts)(_.crossJoin(broadcast(seed)), col("node") === col("seed"))
  }

  /** The one PageRank loop: the teleport mass (and the initial mass) goes
    * to the nodes where `home` holds, evaluated on the cached node list
    * after `withHome` has added what it reads. */
  private def ranks(edges: DataFrame, iterations: Int, numParts: Int)(
      withHome: DataFrame => DataFrame, home: Column): DataFrame = {
    val directed = GraphStats.bothDirections(edges, col("n_convs").as("w"))
    val weighted = directed.join(directed.groupBy("src").agg(sum(col("w")).as("wtot")), Seq("src"))
    Rounds.withStaticEdges(weighted, numParts, "src", e => withHome(e.select(col("src").as("node")).distinct())) {
      (sym, nodes) =>
        val init = nodes.select(col("node"), when(home, Scale).otherwise(0L).as("r"))
        Rounds
          .repeat(init, iterations, every = 8) { (rank, _) =>
            val contrib = sym
              .join(rank.hint("SHUFFLE_HASH"), sym("src") === rank("node"))
              .selectExpr("dst", "(r * w) div wtot AS c")
              .groupBy("dst")
              .agg(sum(col("c")).as("csum"))
            nodes
              .join(contrib.hint("SHUFFLE_HASH"), nodes("node") === contrib("dst"), "left")
              .select(
                col("node"),
                (when(home, Teleport).otherwise(0L) + expr("(85 * coalesce(csum, 0L)) div 100")).as("r"))
          }
          .select(col("node").as("concept_id"), col("r").as("rank_q"))
    }
  }
}
