package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED concept graph — the cyclic
  * sibling of [[ConnectedComponents]]: nodes are in one SCC iff each
  * reaches the other along directed edges. Directedness enters this engine
  * through the implication digraph ([[implicationDigraph]]): a
  * co-occurrence edge points from the RARER concept to the more frequent
  * one (the association-rule confidence direction, conf(a→b) = n_ab/n_a >
  * conf(b→a) iff n_a < n_b — specific implies general), with
  * equal-frequency pairs mutual. SCCs of that digraph are clusters of
  * mutually-implicative concepts; the condensation is the
  * specific-to-general DAG.
  *
  * Algorithm: forward-backward coloring (Orzan 2004; the standard
  * label-propagation SCC shape for bulk-synchronous engines — Slota et
  * al.'s trim-FWBW and Pregel SCC are the same skeleton):
  *
  *   1. forward phase — propagate the MINIMUM reaching node id along
  *      edges to fixpoint: c(v) = min id with c-source →* v. A root r has
  *      c(r) = r. If w ∈ SCC(r) then c(w) = r (any smaller id reaching w
  *      would reach r through w — contradiction), so each color class
  *      contains its root's whole SCC.
  *   2. backward phase — BFS from the roots along REVERSED edges,
  *      restricted to the root's own color class: the reached set is
  *      exactly {v : c(v) = r ∧ v →* r} = SCC(r).
  *   3. peel the settled SCCs, repeat on the remainder (each round
  *      settles ≥ 1 SCC per color class; acyclic regions settle in one).
  *
  * Every phase is the audited iterate-join shape: static edge relation
  * filtered to the active set per outer round, per inner round ONE
  * SHUFFLE_HASH join exchanging only the (node, label) vector + a
  * min/exists partial-agg. Each round is a [[Rounds]] round whose count is
  * its one action; every loop, inner and outer, raises LOUDLY at its cap
  * ([[KCore]]'s posture) instead of returning a partial assignment.
  *
  * Scale posture: label relations are node-grain (dictionary-sized here —
  * the corpus enters only through pre-aggregated co-occurrence counts),
  * edges are scanned once per inner round. Worst-case outer rounds is the
  * longest chain of SCCs sharing one color class; the published mitigation
  * (trim degree-0 nodes first, multi-pivot) drops in as a pre-filter
  * without changing the loop body.
  */
object Scc {

  /** The implication digraph over the strong-edge backbone: each
    * undirected co-occurrence pair (a, b) emits a→b when n_a ≤ n_b and
    * b→a when n_b ≤ n_a (both — a mutual pair — on equal marginals), with
    * n_x = the number of conversations mentioning x. Marginals join the
    * dictionary-grain pair relation; nothing corpus-grain moves. */
  def implicationDigraph(pairs: DataFrame, marginals: DataFrame): DataFrame = {
    val withN = pairs
      .join(marginals.select(col("concept_id").as("concept_a"), col("n").as("n_a")), Seq("concept_a"))
      .join(marginals.select(col("concept_id").as("concept_b"), col("n").as("n_b")), Seq("concept_b"))
    val ab = withN.where(col("n_a") <= col("n_b"))
      .select(col("concept_a").as("src"), col("concept_b").as("dst"))
    val ba = withN.where(col("n_b") <= col("n_a"))
      .select(col("concept_b").as("src"), col("concept_a").as("dst"))
    ab.union(ba)
  }

  /** Condensation of the digraph: the DAG whose nodes are the SCCs —
    * one row per distinct (scc_src, scc_dst) pair with an edge between
    * members of different components. Over the implication digraph this
    * is the specific-to-general concept hierarchy the cycle clusters roll
    * up into. Cost on top of [[run]]: two dictionary-grain joins + one
    * distinct. */
  def condensation(spark: SparkSession, edges: DataFrame): DataFrame = {
    // one lazy checkpoint of the input: `run` materializes it while building
    // its own edge relation, and the two endpoint joins below then read the
    // cache instead of re-running the (possibly expensive) digraph plan —
    // the kg_condensation query recomputed the marginals joins post-SCC
    val ein = Rounds.checkpoint(edges)
    val scc = run(spark, ein)
    ein
      .join(scc.select(col("node").as("src"), col("scc_id").as("scc_src")), Seq("src"))
      .join(scc.select(col("node").as("dst"), col("scc_id").as("scc_dst")), Seq("dst"))
      .where(col("scc_src") =!= col("scc_dst"))
      .select("scc_src", "scc_dst")
      .distinct()
  }

  /** An outer round's state: the unassigned nodes and the edges between
    * them, the assignment so far and the number of unassigned nodes. */
  private final case class Part(active: DataFrame, edges: DataFrame, settled: DataFrame, left: Long)

  /** @param edges directed edges (src, dst); self-loops ignored.
    * @param maxOuterRounds cap on the trim + FW-BW rounds
    * @param maxInnerRounds cap on each inner phase: trim, forward, backward
    * @return (node, scc_id) for every node appearing in `edges`,
    *         scc_id = min node id of the component. */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxOuterRounds: Int = 50,
      maxInnerRounds: Int = 200
  ): DataFrame = {
    import spark.implicits._
    // Each round's relation is a lazy Rounds checkpoint (logical plan cut at
    // once), and the round's loop-control count is the one action that
    // materializes it.
    //
    // `settled` grows as a lazy union whose pieces read the rounds that
    // settled them, so the rounds stay cached until the result has
    // materialized; then all of them are released.
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cp(df: DataFrame): DataFrame = { val ck = Rounds.checkpoint(df); rounds += ck; ck }
    def inner(phase: String)(s: Any) = s"SCC $phase phase did not converge within $maxInnerRounds rounds; raise maxInnerRounds"

    def restrict(activeEdges: DataFrame, active: DataFrame): DataFrame =
      cp(
        activeEdges
          .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst"))

    // ---- trim phase: a node with no incoming or no outgoing ACTIVE edge is
    // a singleton SCC (scc_id = itself) — peel those iteratively before
    // coloring. FW-BW coloring settles only each color root's SCC per outer
    // round, which degenerates to one-node-per-round on DAG-like regions
    // (and the implication digraph is mostly acyclic); trim settles those
    // regions at one count per round, eating the graph from both ends
    // at once, and leaves only the cyclic cores to the coloring — the
    // published trim-FWBW composition (Slota et al.).
    def trim(p: Part): Part =
      Rounds.fixpoint((p, false), maxInnerRounds)(s => s._2 || s._1.left == 0, inner("trim")) { case (s, _) =>
        val keep = cp(
          s.active
            .join(s.edges.select(col("dst").as("node")), Seq("node"), "left_semi")
            .join(s.edges.select(col("src").as("node")), Seq("node"), "left_semi"))
        val kept = keep.count()
        if (kept == s.left) (s, true)
        else {
          val singles = s.active.join(keep, Seq("node"), "left_anti").select(col("node"), col("node").as("scc_id"))
          val settled = cp(s.settled.union(singles))
          (Part(keep, restrict(s.edges, keep), settled, kept), false)
        }
      }._1

    // ---- forward phase: min reaching id to fixpoint. Color starts as a
    // projection of the materialized active set; the carry-forward rows are
    // tagged 0, neighbour contributions 1, so ONE aggregation yields both the
    // new color (min over all) and the old color (min over tag-0 rows) — the
    // convergence test is then a filter over the materialized round, not a
    // join back to the previous color.
    def forward(p: Part): DataFrame =
      Rounds.fixpoint((p.active.select(col("node"), col("node").as("c")), 1L), maxInnerRounds)(
        _._2 == 0, inner("forward")) { case (color, _) =>
        val next = cp(
          color
            .join(p.edges, col("node") === col("src"))
            .select(col("dst").as("node"), col("c"), lit(1).as("tag"))
            .union(color.select(col("node"), col("c"), lit(0).as("tag")))
            .groupBy("node")
            .agg(min(col("c")).as("c"), min(when(col("tag") === 0, col("c"))).as("c_old")))
        (next.select(col("node"), col("c")), next.where(col("c") =!= col("c_old")).count())
      }._1

    // ---- backward phase: reverse-BFS from the roots (c(r) = r) inside
    // their color class; the frontier carries the color, so each reached
    // node's SCC id is its c. `reached` accumulates as a lazy union of the
    // materialized frontier checkpoints — recomputing it is a cached-block
    // scan, never a join.
    def backward(color: DataFrame, activeEdges: DataFrame): DataFrame = {
      val roots = color.where(col("node") === col("c"))
      Rounds.fixpoint((roots, roots, roots.count()), maxInnerRounds)(_._3 == 0, inner("backward")) {
        case (reached, frontier, _) =>
          val step = frontier
            .join(activeEdges, col("node") === col("dst"))
            .select(col("src").as("node"), col("c"))
            .join(color.withColumnRenamed("c", "c_node"), Seq("node"))
            .where(col("c") === col("c_node")) // stay inside the color class
            .select("node", "c")
            .distinct()
          val next = cp(step.join(reached, Seq("node", "c"), "left_anti"))
          val n = next.count()
          (if (n > 0) cp(reached.union(next)) else reached, next, n)
      }._1
    }

    try {
      val e0 = cp(
        edges
          .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
          .where(col("src") =!= col("dst"))
          .distinct())
      val allNodes = cp(
        e0.select(col("src").as("node"))
          .union(e0.select(col("dst").as("node")))
          .distinct())
      val start = Part(allNodes, e0, Seq.empty[(String, String)].toDF("node", "scc_id"), allNodes.count())
      val done = Rounds.fixpoint(start, maxOuterRounds)(
        _.left == 0,
        p => s"SCC coloring did not settle within $maxOuterRounds outer rounds (${p.left} nodes left)") { p0 =>
        val p = trim(p0)
        if (p.left == 0) p
        else {
          val newlySettled = backward(forward(p), p.edges).select(col("node"), col("c").as("scc_id"))
          val settled = cp(p.settled.union(newlySettled))
          val active = cp(p.active.join(newlySettled, Seq("node"), "left_anti"))
          Part(active, restrict(p.edges, active), settled, active.count())
        }
      }
      // consumers (condensation) reference the assignment twice
      Rounds.materialize(done.settled)
    } finally rounds.foreach(Rounds.release)
  }
}
