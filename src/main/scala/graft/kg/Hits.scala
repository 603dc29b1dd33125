package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg 1999) over the DIRECTED conversation → concept mention
  * graph — the bipartite sibling of [[PageRank]]'s undirected co-occurrence
  * walk. Hubs are conversations whose mentions concentrate on authoritative
  * concepts; authorities are concepts mentioned by strong hub conversations.
  * This is the corpus-level "which documents survey the important entities /
  * which entities anchor the corpus" analytic (the reference ranks concepts
  * only within one document, /root/reference/flows/aggregate.py:672-718 —
  * HITS is its global mutual-reinforcement generalization).
  *
  * All score arithmetic is FIXED-POINT (longs, scale 2^24) so every sum is
  * exact and order-free and the DuckDB oracle reproduces the scores
  * bit-for-bit — same determinism device as PageRank's 2^32 ranks. The
  * weighted recurrence, T iterations from a_0 = 2^24:
  *
  *   rawH(c) = sum over edges (c,k) of w_ck * a(k)      hub update
  *   h(c)    = rawH(c) div ceil(max_c rawH / 2^24)      L-inf normalization
  *   rawA(k) = sum over edges (c,k) of w_ck * h(c)      authority update
  *   a(k)    = rawA(k) div ceil(max_k rawA / 2^24)
  *
  * Normalizing by a PRE-DIVIDED denominator (ceil(max/Scale), computed as
  * (max + Scale - 1) div Scale) instead of the usual (raw * Scale) div max
  * keeps every intermediate ≤ the raw sums themselves — no value is ever
  * multiplied by Scale, so the only overflow surface is the weighted sum,
  * where each term is ≤ w * 2^24 (ANSI mode makes a wrapped sum throw
  * loudly rather than corrupt scores; with Scale 2^24 a single node can
  * absorb ~2^38 total incident mention-weight before that — raise by
  * lowering Scale if a corpus ever concentrates a trillion mentions on one
  * concept). The floor losses are identical in both engines (DuckDB `//`
  * == Spark `div` on non-negatives).
  *
  * Scale posture: the edge list is the static cache of [[Rounds]], keyed
  * on concept_id; each half-iteration is one broadcast of the 1-row max +
  * one SHUFFLE_HASH join exchanging only the score vector (one long per
  * node) + a map-side-combining sum.
  */
object Hits {

  val Scale: Long = 1L << 24

  /** @param edges bipartite weighted edges (conv_id, concept_id, n_mentions).
    * @param numParts static-edge-cache partition count — derive from the
    *   edge count (~500k edges per partition; see SparkEntry.partsFor) so a
    *   dictionary-sized graph is 1 partition and a corpus-epoch graph fans
    *   out; 0 = the session shuffle-partition constant (legacy callers).
    * @return (node, kind, score_q): kind ∈ ('hub','auth'), hub rows at conv
    *         grain, auth rows at concept grain; fixed-point scale 2^24;
    *         materialized. */
  def run(edges: DataFrame, iterations: Int = 4, numParts: Int = 0): DataFrame = {
    require(iterations > 0, s"HITS needs at least one iteration: $iterations")
    Rounds.withStaticEdges(
        edges.select(col("conv_id"), col("concept_id"), col("n_mentions").as("w")), numParts, "concept_id") { e =>
      // ceil(max(raw)/Scale) as a broadcast 1-row denominator; max >= 1
      // whenever edges exist, so denom >= 1 and the division is total
      def normalized(raw: DataFrame): DataFrame = {
        val mx = raw.agg(max(col("raw")).as("mx"))
        raw
          .crossJoin(broadcast(mx))
          .selectExpr("node", s"raw div ((mx + ${Scale - 1}L) div ${Scale}L) AS s")
      }
      // one half-iteration: the `to` side's scores from the `from` side's.
      // The raw sum is checkpointed: `normalized` reads its input twice
      // (the max-denominator branch + the main branch), so a fully lazy
      // loop doubles the plan tree per HALF-iteration — 2^(2·iters) join
      // stages by the end (measured: 322 s for 4 iterations on a 16k-edge
      // sf0.1 graph, vs ~2 s truncated). A checkpoint after `normalized`
      // instead re-ran the join + aggregate under both branches.
      def half(scores: DataFrame, from: String, to: String): DataFrame =
        normalized(
          Rounds.checkpoint(
            e.join(scores.hint("SHUFFLE_HASH"), e(from) === scores("node"))
              .selectExpr(to, "w * s AS t")
              .groupBy(to)
              .agg(sum(col("t")).as("raw"))
              .withColumnRenamed(to, "node")))

      val auth0 = e.select(col("concept_id").as("node")).distinct().select(col("node"), lit(Scale).as("s"))
      val (hub, auth) = (1 to iterations).foldLeft((auth0, auth0)) { case ((_, auth), _) =>
        val hub = half(auth, "concept_id", "conv_id")
        (hub, half(hub, "conv_id", "concept_id"))
      }
      auth
        .selectExpr("node", "'auth' AS kind", "s AS score_q")
        .union(hub.selectExpr("node", "'hub' AS kind", "s AS score_q"))
    }
  }
}
