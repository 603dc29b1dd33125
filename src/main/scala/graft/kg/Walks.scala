package graft.kg

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpointBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** DeepWalk-style random-walk corpus generation over the concept
  * co-occurrence graph (Perozzi et al. 2014) — the standard feedstock for
  * skip-gram graph embeddings: emit `nWalks` truncated walks per node and a
  * downstream embedding trainer treats each walk as a sentence. The
  * reference stops at explicit co-occurrence edges; walks are the next
  * derivative a KG embedding consumer asks for.
  *
  * "Random" is DETERMINISTIC here — reproducible across re-runs, engines,
  * and partitionings, the same discipline as every other analytic in this
  * repo (no RNG state, no seed plumbing): the step from node u at step t in
  * walk w picks the out-neighbour v minimizing
  *
  *   (h(w, t, v), v)   with   h = first 15 hex digits of md5("w|t|v") as a
  *                            60-bit integer
  *
  * — a portable hash coin (the [[graft.data.Sketches]] device) that DuckDB
  * evaluates identically, so the oracle unrolls the same argmin per step
  * and the walk corpus hash-matches bit-for-bit. Distribution-wise the coin
  * is uniform over neighbours per (walk, step); successive steps are
  * independent because the step index enters the hash.
  *
  * Scale posture: the static edge list is cached columnar and
  * hash-partitioned on src; each step is one join exchanging only the
  * frontier (one row per active walk) + a min(struct) aggregate keyed by
  * (src, walk_id) — a walk sits at one node, so that is the walk's group,
  * and the key rides the join's hash partitioning: one exchange per step,
  * and a hub's candidate fan-out collapses map-side, never a window sort.
  * Each step's frontier is a settled local checkpoint
  * (`GraftCheckpointBridge.settled`), so step t plans one join over step
  * t-1's rows whatever t is (a lazily chained loop re-plans all
  * t steps at step t, and its corpus union carries len² joins); the
  * corpus is the union of the checkpoints, and the edge cache is freed
  * before it is returned. The emitted corpus is (nodes * nWalks * (len+1))
  * rows — linear in the walk budget, never quadratic in the graph. Walks
  * leaving a sink (no out-neighbour) simply end: their later steps carry
  * no row.
  */
object Walks {

  /** @param edges undirected weighted edges (concept_a, concept_b, n_convs),
    *              each pair once with concept_a < concept_b (weights unused:
    *              unweighted neighbour choice keeps the oracle's argmin
    *              single-criterion; a weighted coin would hash (w, t, v)
    *              into cumulative-weight buckets — same plumbing).
    * @param nWalks walks started per node (walk_id = "node#j").
    * @param len    steps per walk (emitted rows per walk = len + 1).
    * @return (walk_id, step, node) — the walk corpus, step 0 = the start
    *         node. */
  def deepWalks(edges: DataFrame, nWalks: Int = 2, len: Int = 4, numParts: Int = 0): DataFrame = {
    require(nWalks > 0 && len > 0, s"nWalks and len must be positive: $nWalks, $len")
    val nP =
      if (numParts > 0) numParts
      else edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sym = GraphStats
      .bothDirections(edges)
      .repartition(nP, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    val start = starts(sym, nWalks)
    val frontiers = (1 to len).scanLeft(start) { (frontier, t) =>
      checkpoint(
        sym
          .join(onEdges(frontier, nP).hint("SHUFFLE_HASH"), col("src") === col("node"))
          .select(col("src"), col("walk_id"), col("dst"), coin(col("walk_id"), lit(t.toString), col("dst")).as("h"))
          .groupBy("src", "walk_id")
          .agg(min(struct(col("h"), col("dst"))).as("m"))
          .select(col("walk_id"), col("m.dst").as("node")))
    }
    sym.unpersist(false)
    corpus(frontiers)
  }

  /** node2vec-style SECOND-ORDER biased walks (Grover & Leskovec 2016) —
    * the published refinement of [[deepWalks]]: the step out of node `cur`
    * depends on the PREVIOUS node too, weighting each candidate by its
    * distance from `prev` (return / stay-close / explore), which is what
    * lets one walk corpus interpolate between BFS-like (structural roles)
    * and DFS-like (communities) neighbourhoods. The paper's 1/p, 1, 1/q
    * biases are taken as unnormalized INTEGER weights (wReturn, wIn, wOut)
    * — any rational (p, q) maps to integers via the common denominator,
    * e.g. p=1, q=0.5 → (1, 1, 2) — so every transition probability is a
    * ratio of longs and the corpus stays bit-reproducible.
    *
    * Choice is the EXACT cumulative-bucket form of the hash coin (the
    * device [[deepWalks]]' Scaladoc promises for the weighted case): one
    * 60-bit md5 coin per (walk, step), reduced mod the candidate weight
    * total, lands in exactly one candidate's cumulative-weight interval
    * [cum−w, cum) under the deterministic candidate ordering (by id).
    * P(candidate) = w/W exactly (modulo the 2^-60-scale coin-reduction
    * bias), and DuckDB reproduces every pick bit-for-bit.
    *
    * Scale posture: the static edge list is cached columnar and
    * hash-partitioned on src, reused by BOTH per-step joins (candidate
    * fan-out on src=cur; the distance-1 classifier probe on (prev, cand) —
    * an equi-join on the same relation, never an adjacency-set broadcast).
    * The cumulative window partitions BY WALK ordered by candidate id: its
    * group size is deg(cur) — the irreducible cost of exact weighted
    * sampling (the paper's alias tables pay the same per-visit O(deg)
    * preprocessing), paid only by walks currently AT a hub, never
    * materializing a hub's full neighbourhood against every walk. Frontier
    * state is 3 columns per live walk, checkpointed locally at every step
    * as in [[deepWalks]]: each step's plan has constant size, the corpus is
    * the union of the checkpoints and stays linear in the walk budget, and
    * both edge caches are freed before it is returned. First step is
    * uniform (no prev yet) — the paper's convention. */
  def node2vecWalks(
      edges: DataFrame,
      nWalks: Int = 2,
      len: Int = 4,
      wReturn: Long = 1L,
      wIn: Long = 1L,
      wOut: Long = 2L,
      numParts: Int = 0): DataFrame = {
    val nP =
      if (numParts > 0) numParts
      else edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    require(nWalks > 0 && len > 0, s"nWalks and len must be positive: $nWalks, $len")
    require(
      wReturn > 0 && wIn > 0 && wOut > 0,
      s"bias weights must be positive longs: $wReturn, $wIn, $wOut")
    // distinct is LOAD-BEARING here, unlike deepWalks (whose hash argmin is
    // duplicate-immune): a duplicate candidate row would give both copies
    // the SAME cumulative sum under the ordered window's RANGE frame,
    // leaving a [cum−2w, cum−w) gap no row owns — a coin landing there
    // would silently kill the walk
    val sym = GraphStats
      .bothDirections(edges)
      .where(col("src") =!= col("dst"))
      .distinct()
      .repartition(nP, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    val start = starts(sym, nWalks)

    // step 1: uniform hash-argmin (second-order bias needs a prev, which
    // only exists from the second transition on) — frontier = (walk, prev, node)
    val first = checkpoint(
      sym
        .join(onEdges(start, nP).hint("SHUFFLE_HASH"), col("src") === col("node"))
        .select(col("src"), col("walk_id"), col("dst"), coin(col("walk_id"), lit("1"), col("dst")).as("h"))
        .groupBy("src", "walk_id")
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("walk_id"), col("src").as("prev"), col("m.dst").as("node")))

    // the distance-1 classifier probe joins on (prev, cand): a SECOND static
    // cache of the same edges partitioned on that pair key, built once, so
    // no step re-exchanges the edge relation on a key it is not stored
    // under (at corpus-epoch edge counts the per-step edge re-shuffle was
    // the dominant loop cost; the walk side stays the only moving relation)
    val symPair = sym
      .select(col("src").as("prev"), col("dst").as("cand"), lit(1).as("is_in"))
      .repartition(nP, col("prev"), col("cand"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    symPair.count()

    val byWalk = org.apache.spark.sql.expressions.Window.partitionBy("walk_id")
    val cumWin = byWalk.orderBy("cand")
    val frontiers = (2 to len).scanLeft(first) { (frontier, t) =>
      val cand = sym
        .join(onEdges(frontier, nP).hint("SHUFFLE_HASH"), col("src") === col("node"))
        .select(col("walk_id"), col("prev"), col("node").as("cur"), col("dst").as("cand"))
      val weighted = cand
        .repartition(nP, col("prev"), col("cand"))
        .join(symPair, Seq("prev", "cand"), "left")
        .select(
          col("walk_id"),
          col("cur"),
          col("cand"),
          when(col("cand") === col("prev"), lit(wReturn))
            .when(col("is_in").isNotNull, lit(wIn))
            .otherwise(lit(wOut))
            .as("w"))
      // the window's exchange by walk runs at nP partitions: left to the
      // planner it would run at the session's shuffle partitions. One
      // partition already satisfies the window
      checkpoint(
        (if (nP > 1) weighted.repartition(nP, col("walk_id")) else weighted)
          .select(
            col("walk_id"),
            col("cur"),
            col("cand"),
            col("w"),
            sum(col("w")).over(cumWin).as("cum"),
            sum(col("w")).over(byWalk).as("tot"))
          .withColumn("coin", coin(col("walk_id"), lit(t.toString)) % col("tot"))
          .where(col("coin") >= col("cum") - col("w") && col("coin") < col("cum"))
          .select(col("walk_id"), col("cur").as("prev"), col("cand").as("node")))
    }
    sym.unpersist(false)
    symPair.unpersist(false)
    corpus(start +: frontiers)
  }

  /** The frontier exchanged onto the edge cache's layout (hash of the node,
    * `nP` partitions), so the step's join exchanges the frontier alone.
    * Left to the planner, a cache narrower than the session's shuffle
    * partitions would be re-exchanged at every step. A frontier that
    * reports a single partition already lies as a one-partition cache
    * does, and is joined where it lies. */
  private def onEdges(frontier: DataFrame, nP: Int): DataFrame =
    if (nP == 1 && GraftCheckpointBridge.onePartition(frontier)) frontier
    else frontier.repartition(nP, col("node"))

  /** A step's frontier as a settled local checkpoint: its one partition
    * reported when it has one, and its size estimate bounded by its cached
    * bytes. Left alone, the checkpoint keeps the estimate of the step plan
    * it replaces, an inner join is estimated at the product of its inputs,
    * and step t's frontier would be estimated at about |edges|^t·|starts|
    * bytes; past `spark.sql.maxSinglePartitionBytes` the planner stops
    * joining a single-partition frontier with a single-partition edge cache
    * (numParts = 1) where they lie. */
  private def checkpoint(step: DataFrame): DataFrame =
    GraftCheckpointBridge.settled(step.localCheckpoint())

  /** The walk starts (walk_id = "node#j", node): `nWalks` per node with an
    * out-edge in `sym`, checkpointed like every later frontier. */
  private def starts(sym: DataFrame, nWalks: Int): DataFrame =
    checkpoint(
      sym
        .select(col("src").as("node"))
        .distinct()
        .select(col("node"), explode(array((0 until nWalks).map(lit): _*)).as("j"))
        .select(concat(col("node"), lit("#"), col("j").cast("string")).as("walk_id"), col("node")))

  /** The portable hash coin: the first 15 hex digits of md5 over the
    * '|'-joined parts, as a 60-bit long. */
  private def coin(parts: Column*): Column =
    conv(substring(md5(concat_ws("|", parts: _*)), 1, 15), 16, 10).cast("long")

  /** The walk corpus (walk_id, step, node) from the frontiers of steps
    * 0..len: a union of checkpoint scans. */
  private def corpus(frontiers: Seq[DataFrame]): DataFrame =
    frontiers.zipWithIndex
      .map { case (f, t) => f.select(col("walk_id"), lit(t).as("step"), col("node")) }
      .reduce(_ union _)

  /** Negative sampling for KG-embedding training (the TransE/DistMult
    * contrastive feedstock, Bordes et al. 2013): for every positive edge
    * (a, b), one corrupted tail drawn "uniformly" from the node dictionary —
    * deterministically, via the portable hash coin: the corrupt index is
    * md5("a|b") mod |dict| into the id-sorted dictionary. Accidental
    * positives (the coin landing on either endpoint) are dropped — the
    * "filtered" sampling convention — so every emitted row is a true
    * negative of the co-occurrence relation it corrupts.
    *
    * Scale posture: the dictionary index is a ROW_NUMBER over the sorted
    * node dictionary — dictionary-grain (the same bounded-artifact class as
    * the IVF codebook), never corpus-scale, so the single-partition window
    * sort is a few thousand rows; the corrupt join is edge ⋈ dictionary on
    * the hash index, both sides hash-partitioned. */
  def negativeSamples(edges: DataFrame): DataFrame = {
    val co = edges.select(col("concept_a"), col("concept_b"))
    val nodes = co
      .select(col("concept_a").as("node"))
      .union(co.select(col("concept_b").as("node")))
      .distinct()
    val dict = nodes.select(
      col("node"),
      (row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("node"))) - 1)
        .cast("long")
        .as("rn"))
    val n = nodes.agg(count(lit(1)).as("n"))
    val withIdx = co
      .crossJoin(broadcast(n))
      .select(
        col("concept_a"),
        col("concept_b"),
        (coin(col("concept_a"), col("concept_b")) % col("n")).as("idx"))
    withIdx
      .join(broadcast(dict), col("idx") === col("rn"))
      .where(col("node") =!= col("concept_a") && col("node") =!= col("concept_b"))
      .select(col("concept_a"), col("concept_b"), col("node").as("neg_tail"))
  }
}
