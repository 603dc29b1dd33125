package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection over the concept co-occurrence graph via weighted
  * label propagation (Raghavan et al. 2007) — "which concepts form a topic
  * cluster", the mesoscale analytic between PageRank's global centrality
  * and the per-node triangle counts. The reference ranks concepts only
  * within one document (/root/reference/flows/aggregate.py:672-718); this
  * is the corpus-level grouping its KG consumers ask for next.
  *
  * Determinism contract (the whole point of this formulation): SYNCHRONOUS
  * updates, a FIXED iteration count, and an exact tie rule — node v adopts
  * the label maximizing the total incident edge weight held by its
  * neighbours, ties broken by MINIMUM label string. Every quantity is a
  * long sum or a string min, so the DuckDB oracle (the same recurrence
  * unrolled into per-iteration CTEs) reproduces the assignment bit-for-bit.
  * Classic async/randomized LPA converges faster but is seed-dependent —
  * useless for a hash-checked oracle and for reproducible production runs.
  *
  * Scale posture: the weighted edge list is the static cache of
  * [[Rounds]] and the rounds are its lazy fixed-count loop, so per
  * iteration only the node-sized label vector moves; the (dst, label)
  * weight aggregation partial-aggregates map-side (a hub's incoming votes
  * cost one row per upstream partition per candidate label); the argmax is
  * a single min(struct(-weight, label)) aggregate — no window, no second
  * join.
  */
object Communities {

  /** @param edges undirected weighted edges (concept_a, concept_b, n_convs),
    *              each pair once with concept_a < concept_b.
    * @return (concept_id, community) after `iterations` synchronous rounds;
    *         community = the adopted label (a concept id). */
  def labelPropagation(edges: DataFrame, iterations: Int = 4, numParts: Int = 0): DataFrame =
    Rounds.withStaticEdges(GraphStats.bothDirections(edges, col("n_convs").as("w")), numParts, "src") { sym =>
      // every node appears as dst (sym holds both directions), so each round's
      // aggregation re-derives the full node set — no left join needed
      val init = sym.select(col("src").as("node"), col("src").as("label")).distinct()
      Rounds
        .repeat(init, iterations, every = 8) { (labels, _) =>
          val votes = sym
            .join(labels.hint("SHUFFLE_HASH"), sym("src") === labels("node"))
            .groupBy(col("dst"), col("label"))
            .agg(sum(col("w")).as("ws"))
          votes
            .groupBy(col("dst"))
            .agg(min(struct((lit(0L) - col("ws")).as("nws"), col("label"))).as("m"))
            .select(col("dst").as("node"), col("m.label").as("label"))
        }
        .select(col("node").as("concept_id"), col("label").as("community"))
    }

  /** Newman modularity of a community assignment — the standard "was this
    * partition better than chance" quality score for [[labelPropagation]]'s
    * output. Per community c with internal edge weight e_c, incident degree
    * sum D_c and total graph edge weight m:
    *
    *   Q = sum_c [ e_c / m  -  (D_c / 2m)^2 ]
    *
    * Output grain is ONE ROW PER COMMUNITY carrying both the exact integer
    * sufficient statistics (n_nodes, internal_w = e_c, deg_sum = D_c — from
    * which any downstream recomputes Q at full precision) and the quantized
    * per-community contribution
    *
    *   q_ppm = (10^6 * internal_w) div m  -  (10^6 * deg_sum^2) div (4*m^2)
    *
    * so sum(q_ppm) ~= 10^6 * Q. The squared term is evaluated as the nested
    * floor (10^6 * (deg_sum^2 div m)) div (4*m) — deg_sum^2 div m <= 4m, so
    * no intermediate ever needs m^2 — and the oracle replicates the SAME
    * nesting, so both engines floor identically. Every numerator is
    * overflow-guarded with an actionable raise_error (the
    * [[KgPipeline.cooccurrenceLift]] device): past deg_sum ~ 3e9 the 10^6
    * scale constant must drop — the statistics columns are exact
    * regardless.
    *
    * Scale posture: labels join the edge list once (node-sized broadcast
    * against the columnar edge cache), then everything is partial-agg sums;
    * m is a 1-row broadcast. No window, no per-edge state. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("concept_id").as("concept_a"), col("community").as("ca"))
    val lb = labels.select(col("concept_id").as("concept_b"), col("community").as("cb"))
    val e = edges
      .join(broadcast(la), Seq("concept_a"))
      .join(broadcast(lb), Seq("concept_b"))
    val m = e.agg(sum(col("n_convs")).as("m")).withColumn("m", col("m").cast("long"))
    val internal = e
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(sum(col("n_convs")).as("internal_w"))
    val degree = e
      .select(col("ca").as("community"), col("n_convs").as("w"))
      .union(e.select(col("cb").as("community"), col("n_convs").as("w")))
      .groupBy("community")
      .agg(sum(col("w")).as("deg_sum"))
    val sizes = labels.groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
    sizes
      .join(degree, Seq("community"), "left")
      .join(internal, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .selectExpr(
        "community",
        "n_nodes",
        "coalesce(internal_w, 0L) AS internal_w",
        "coalesce(deg_sum, 0L) AS deg_sum",
        """IF(coalesce(internal_w, 0L) <= (9223372036854775807 DIV 1000000)
          |   AND coalesce(deg_sum, 0L) <= 3037000499L
          |   AND (coalesce(deg_sum, 0L) * coalesce(deg_sum, 0L)) DIV m <= (9223372036854775807 DIV 1000000),
          |   (1000000 * coalesce(internal_w, 0L)) DIV m
          |     - (1000000 * ((coalesce(deg_sum, 0L) * coalesce(deg_sum, 0L)) DIV m)) DIV (4 * m),
          |   CAST(raise_error(concat('modularity q_ppm overflows long: deg_sum=',
          |        CAST(coalesce(deg_sum, 0L) AS STRING), ' m=', CAST(m AS STRING),
          |        '; drop the 10^6 scale constant (the statistics columns stay exact)')) AS BIGINT)
          |) AS q_ppm""".stripMargin)
  }
}
