package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-graph structural statistics over the concept co-occurrence graph —
  * the summary metrics a KG operator reads before drilling into per-node
  * analytics: degree assortativity (is this graph hub-attracts-hub or
  * hub-attracts-leaf?) and per-node 4-cycle (rectangle) counts (the
  * bipartite-style cohesion motif that triangles miss: two concepts sharing
  * TWO distinct bridging contexts).
  *
  * Reference seam: the reference's graph layer stops at Neo4j upserts
  * (flows/update_neo4j.py) and leaves analytics to the database; these are
  * the standard published metrics computed engine-side, following the same
  * exact-integer discipline as [[Triangles]]/[[KTruss]] so every row
  * hash-compares against an independently formulated DuckDB oracle.
  */
object GraphStats {

  /** The simple undirected graph of edges (concept_a, concept_b, …): each
    * pair once as (concept_a, concept_b) with the lower id first, self-loops
    * dropped, whatever orientations and repeats the edge list holds. The
    * undirected analytics here, in [[Triangles]], [[KCore]] and [[KTruss]]
    * all read this form. */
  def canonicalPairs(edges: DataFrame): DataFrame =
    edges
      .select(
        least(col("concept_a"), col("concept_b")).as("concept_a"),
        greatest(col("concept_a"), col("concept_b")).as("concept_b"))
      .where(col("concept_a") =!= col("concept_b"))
      .distinct()

  /** Both directions of undirected edges (concept_a, concept_b) as
    * (src, dst, carry…): each pair once per direction, `carry` evaluated
    * on the edge row. */
  def bothDirections(edges: DataFrame, carry: Column*): DataFrame =
    edges
      .select(col("concept_a").as("src") +: col("concept_b").as("dst") +: carry: _*)
      .union(edges.select(col("concept_b").as("src") +: col("concept_a").as("dst") +: carry: _*))

  /** (node, deg) for every node of canonical pairs: its number of
    * neighbours. */
  def degrees(pairs: DataFrame): DataFrame =
    bothDirections(pairs).groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** The strongest node of undirected weighted edges (concept_a,
    * concept_b, n_convs), as the one-row relation (seed): the max total
    * incident weight, ties to the min id. Data-derived but deterministic
    * and scale-free, with no driver-side collect; the seed of personalized
    * PageRank and of the bounded shortest paths. */
  def strongestNode(edges: DataFrame): DataFrame =
    bothDirections(edges, col("n_convs").as("w"))
      .groupBy("src")
      .agg(sum(col("w")).as("wtot"))
      .agg(min(struct((lit(0L) - col("wtot")).as("nw"), col("src"))).as("m"))
      .select(col("m.src").as("seed"))

  /** Degree assortativity (Newman, "Assortative mixing in networks", PRL
    * 2002): the Pearson correlation of the degrees at the two ends of an
    * edge. One summary row of EXACT LONG sufficient statistics —
    *
    *   m2  = 2·|E|       (directed endpoint pairs after symmetrization)
    *   sx  = Σ deg(u)    over directed pairs (u,v)   [= Σ deg²  by handshake]
    *   sxy = Σ deg(u)·deg(v)
    *   sx2 = Σ deg(u)²
    *   num = m2·sxy − sx²,   den = m2·sx2 − sx²  (≥ 0: it is a variance)
    *
    * and r = num/den emitted as the single IEEE double division of two
    * exact longs (bit-deterministic across engines — the same device as
    * ngramNovelty's ratio; symmetrization makes the x and y marginals
    * identical so one pair of sums suffices). den = 0 (a regular graph —
    * zero degree variance) → r = 0 by convention.
    *
    * Scale posture: two aggregations (degree, then the sums) — map-side
    * partial agg absorbs everything; nothing node-sized crosses the wire
    * except the one summary row. The products m2·sxy / m2·sx2 wrap past
    * ~9.2e18: guarded LOUDLY (raise_error, the cooccurrenceLift
    * precedent) rather than silently corrupting the sign of r; past the
    * guard the production answer is DECIMAL(38) sums, noted here so the
    * flip is a type change, not a redesign. */
  def assortativity(edges: DataFrame): DataFrame = {
    val pairs = canonicalPairs(edges)
    val deg = degrees(pairs)
    bothDirections(pairs)
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(
        count(lit(1)).as("m2"),
        coalesce(sum(col("dx")), lit(0L)).as("sx"), // empty graph: sums are 0, not null
        coalesce(sum(col("dx") * col("dy")), lit(0L)).as("sxy"),
        coalesce(sum(col("dx") * col("dx")), lit(0L)).as("sx2"))
      .selectExpr(
        "m2",
        "sx",
        "sxy",
        "sx2",
        // loud overflow guard: m2*max(sxy,sx2) and sx*sx must stay in-long
        s"""IF(sxy <= ${Long.MaxValue}L DIV GREATEST(m2, 1L)
           |   AND sx2 <= ${Long.MaxValue}L DIV GREATEST(m2, 1L)
           |   AND sx <= 3037000499L,
           |   m2 * sxy - sx * sx,
           |   CAST(raise_error('assortativity sums overflow long; switch to DECIMAL(38) sums') AS BIGINT))
           |""".stripMargin.replaceAll("\n", " ").trim + " AS num",
        "m2 * sx2 - sx * sx AS den")
      .selectExpr(
        "m2",
        "sx",
        "sxy",
        "sx2",
        "num",
        "den",
        "IF(den = 0, CAST(0.0 AS DOUBLE), CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS r")
  }

  /** Per-node 4-cycle (rectangle / C4 subgraph) counts — how many distinct
    * 4-node cycles each concept sits on. Triangles measure one-context
    * cohesion; rectangles catch the "two concepts bridged by two DIFFERENT
    * contexts" motif (the quadrangle structure bipartite-ish KGs are full
    * of), cf. Chiba & Nishizeki 1985 / Wang et al.'s distributed rectangle
    * counting.
    *
    * Algorithm — wedge-pair combinatorics, never cycle enumeration: with
    * c(v,w) = #common neighbours of the (unordered, possibly adjacent)
    * pair {v,w}, every rectangle is a choice of 2 common neighbours of its
    * diagonal, so each rectangle credits each of its 4 nodes exactly twice
    * across the two identities (once as a diagonal endpoint of one
    * diagonal — the C(c,2) term — and once as a chosen common neighbour of
    * the other — the (c−1) term):
    *
    *   n4(u) = ( Σ_w C(c(u,w), 2)  +  Σ_{(v,w): u ∈ common(v,w)} (c(v,w)−1) ) / 2
    *
    * The halved sum is exact (every credit is paired), so the counts are
    * integers and the DuckDB oracle — a genuinely different formulation,
    * brute-force ordered closed-4-walk enumeration over the same subgraph,
    * divided by its 2× direction symmetry — hash-compares bit-for-bit.
    *
    * Scale posture: wedge generation is Σ C(deg,2), inherently quadratic
    * in degree, so the graph is first pruned to nodes with deg ≤ `maxDeg`
    * (INDUCED-subgraph semantics by ORIGINAL degree — one filter, one
    * pass; the [[Triangles.linkPrediction]] stopword argument applies: a
    * super-hub's rectangles are as uninformative as its co-occurrences).
    * Past the prune everything keys on node/pair and partial-aggs before
    * shuffling; the pair relation (v,w,c) is the only intermediate and is
    * bounded by the wedge count, never by |V|². */
  def rectangleCounts(edges: DataFrame, maxDeg: Long = 10000L): DataFrame = {
    val pairs = canonicalPairs(edges)
    val deg = degrees(pairs)
    val keep = deg.where(col("deg") <= maxDeg).select("node")
    // induced subgraph on the kept (non-hub) nodes, by original degree
    val sub = pairs
      .join(keep.select(col("node").as("concept_a")), Seq("concept_a"))
      .join(keep.select(col("node").as("concept_b")), Seq("concept_b"))
      .localCheckpoint() // feeds wedges AND the zero-count node frame
    val wedges = Triangles.wedges(bothDirections(sub))
    val pairCounts = wedges
      .groupBy("concept_a", "concept_b")
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    // diagonal-endpoint credit: C(c,2) to both ends of the pair
    val term1 = pairCounts.select(
      explode(array(col("concept_a"), col("concept_b"))).as("node"),
      expr("(c * (c - 1)) div 2").as("t"))
    // common-neighbour credit: (c−1) to every wedge center of the pair
    val term2 = wedges
      .join(pairCounts, Seq("concept_a", "concept_b"))
      .select(col("src").as("node"), (col("c") - 1).as("t"))
    val credits = term1
      .union(term2)
      .groupBy("node")
      .agg(sum(col("t")).as("credit"))
    degrees(sub)
      .join(credits, Seq("node"), "left")
      .select(
        col("node").as("concept_id"),
        expr("coalesce(credit, 0L) div 2").as("n_rectangles"))
  }

  /** Graph diameter / radius summary — the one-row reduction of
    * [[Centrality.eccentricity]]: diameter = max eccentricity, radius =
    * min, over nodes reachable within `maxHops` (the same hop bound as the
    * per-node relation; a disconnected far pair saturates at the bound
    * rather than diverging). Costs one extra 1-row aggregate over the
    * already-bounded dist relation. */
  def diameterSummary(eccentricity: DataFrame): DataFrame =
    eccentricity.agg(
      max(col("ecc_hops")).as("diameter_hops"),
      min(col("ecc_hops")).as("radius_hops"),
      count(lit(1)).as("n_nodes"))
}
