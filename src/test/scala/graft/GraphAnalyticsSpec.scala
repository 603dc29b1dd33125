package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.kg.PageRank

/** PageRank: exact equality vs an independent single-threaded fixed-point
  * reference implementation of the same recurrence (the arithmetic is
  * integer, so equality is exact, not approximate). */
class GraphAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Single-threaded reference: same recurrence, plain Scala maps. */
  private def referenceRanks(
      edges: Seq[(String, String, Long)],
      iterations: Int
  ): Map[String, Long] = {
    val sym = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val outw = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._3).sum }
    val nodes = sym.map(_._1).distinct
    var rank: Map[String, Long] = nodes.map(_ -> PageRank.Scale).toMap
    for (_ <- 1 to iterations) {
      val contrib = sym
        .map { case (src, dst, w) => dst -> rank(src) * w / outw(src) }
        .groupBy(_._1)
        .map { case (n, cs) => n -> cs.map(_._2).sum }
      rank = nodes.map(n => n -> (PageRank.Teleport + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  private val edges = Seq(
    // a hub (Q1) plus a chain and a detached pair
    ("Q1", "Q2", 10L), ("Q1", "Q3", 5L), ("Q1", "Q4", 1L),
    ("Q2", "Q3", 2L), ("Q4", "Q5", 7L), ("Q6", "Q7", 3L)
  )

  test("distributed fixed-point PageRank equals the single-threaded reference exactly") {
    val df = edges.toDF("concept_a", "concept_b", "n_convs")
    // 9 iterations cross the every-8 checkpoint; numParts = 1 is the
    // dictionary-grain edge cache every program caller gets
    for (iterations <- Seq(5, 9); numParts <- Seq(0, 1)) {
      val got = PageRank
        .run(df, iterations, numParts)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      val want = referenceRanks(edges, iterations)
      assert(got === want, s"iterations = $iterations, numParts = $numParts")
      // the hub must out-rank every spoke
      assert(got("Q1") > got("Q2") && got("Q1") > got("Q4"))
    }
  }

  test("k-hop BFS equals single-threaded BFS over the concept graph") {
    val got = graft.kg.KgPipeline
      .kHopNeighborhood(spark, seed = "Q15", maxHops = 3)
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    // independent reference BFS over the same edge universe
    val cs = graft.kg.DemoConceptStore.concepts
    val ids = cs.map(_.wikibaseId).toSet
    val edges =
      graft.kg.DemoConceptStore.conceptEdgesOf(cs).collect { case (s, _, o) if ids(s) && ids(o) => (s, o) } ++
        graft.kg.DemoConceptStore.surfaceEdgesOf(cs).filter { case (_, c) => ids(c) }
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var dist = Map("Q15" -> 0)
    var frontier = Set("Q15")
    for (d <- 1 to 3) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)).diff(dist.keySet)
      dist ++= next.map(_ -> d)
      frontier = next
    }
    assert(got === dist)
    assert(got("Q15") === 0)
    assert(got.values.exists(_ == 3), "graph should have depth-3 reachability from Q15")
  }

  /** Single-threaded reference: count triangles by brute-force set
    * intersection over sorted adjacency — independent of both the engine's
    * degree orientation and the oracle's three-way self-join. */
  private def referenceTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val und = (edges ++ edges.map(_.swap)).distinct
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = und.map(_._1).distinct
    nodes.map { n =>
      val nb = adj(n)
      // each triangle at n counted twice over ordered neighbour pairs
      n -> nb.toSeq.map(m => (adj(m) & nb).size).sum.toLong / 2
    }.toMap
  }

  test("triangle counts equal brute-force reference on K4 + appendage + detached edge") {
    // K4 (Q1..Q4, 4 triangles, 3 per corner), Q5 hanging off Q1, Q6-Q7 detached
    val tedges = Seq(
      ("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"), ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4"),
      ("Q1", "Q5"), ("Q6", "Q7"))
    val df = tedges.toDF("concept_a", "concept_b")
    val got = graft.kg.Triangles
      .triangleCounts(df)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(got === referenceTriangles(tedges))
    assert(got("Q1") === 3L && got("Q5") === 0L && got("Q6") === 0L)

    // planted cliques with an analytic truth: 20 disjoint 10-cliques (each
    // node closes C(9,2) = 36 triangles), a chain edge from each clique's
    // last node to the next clique's first, and a hub n0 (inside block 0)
    // fanned into every other clique's first node. Chain and hub edges
    // close exactly one more triangle, n0-n9-n10, whose corners count 37.
    val blocks = 20
    val planted = (for (b <- 0 until blocks; i <- 0 until 10; j <- (i + 1) until 10)
      yield (s"n${b * 10 + i}", s"n${b * 10 + j}")) ++
      (0 until blocks - 1).map(b => (s"n${b * 10 + 9}", s"n${(b + 1) * 10}")) ++
      (1 until blocks).map(b => ("n0", s"n${b * 10}"))
    val gotPlanted = graft.kg.Triangles
      .triangleCounts(planted.toDF("concept_a", "concept_b"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(gotPlanted === referenceTriangles(planted))
    assert(gotPlanted.size === blocks * 10)
    assert(gotPlanted.filter(_._2 != 36L) === Map("n0" -> 37L, "n9" -> 37L, "n10" -> 37L),
      "every node at 36 except the n0-n9-n10 seam at 37")
  }

  test("triangle counts equal brute-force reference on a pseudo-random graph with a hub") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val base = (0 until 160).map(_ => (rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val hub = (1 until n).filter(_ => rnd.nextBoolean()).map(i => (0, i)) // hot node 0
    val tedges = (base ++ hub)
      .map { case (a, b) => (s"N${math.min(a, b)}", s"N${math.max(a, b)}") }
      .distinct
    val df = tedges.toDF("concept_a", "concept_b").repartition(13)
    val got = graft.kg.Triangles
      .triangleCounts(df)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(got === referenceTriangles(tedges))
    assert(got.values.sum > 0, "graph must actually contain triangles")
  }

  test("link prediction equals brute-force common-neighbour ranking; degree cap excludes hub wedges") {
    val rnd = new scala.util.Random(11)
    val n = 30
    val base = (0 until 90).map(_ => (rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val hub = (1 until n).map(i => (0, i)) // node 0 adjacent to EVERYONE
    val tedges = (base ++ hub).map(p => (f"N${math.min(p._1, p._2)}%02d", f"N${math.max(p._1, p._2)}%02d")).distinct
    val df = tedges.toDF("concept_a", "concept_b").repartition(5)
    val und = (tedges ++ tedges.map(_.swap)).distinct
    val adj = und.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }

    // common-neighbour counts of the non-adjacent pairs, through centres of
    // degree <= maxDeg
    def common(maxDeg: Int): Map[(String, String), Long] = {
      val eligible = adj.filter(_._2.size <= maxDeg).keySet
      val edgeSet = tedges.toSet
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for (u <- eligible; v <- adj(u); w <- adj(u); if v < w)
        counts((v, w)) = counts.getOrElse((v, w), 0L) + 1L
      counts.toMap.filter { case (pair, _) => !edgeSet(pair) }
    }
    def top(scores: Map[(String, String), Long]): Seq[(String, String, Long)] =
      scores.toSeq
        .map { case ((a, b), s) => (a, b, s) }
        .sortBy { case (a, b, s) => (-s, a, b) }
        .take(8)
    // Jaccard over the whole graph's degrees: the cap only limits the centres
    def jaccard(maxDeg: Int): Map[(String, String), Long] =
      common(maxDeg).map { case ((a, b), c) => (a, b) -> 1000000L * c / (adj(a).size + adj(b).size - c) }

    def got(scorer: (DataFrame, Long) => DataFrame)(maxDeg: Long): Seq[(String, String, Long)] =
      scorer(df, maxDeg)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
    val cn = got((e, cap) => graft.kg.Triangles.linkPrediction(e, maxDeg = cap, k = 8)) _
    val jac = got((e, cap) => graft.kg.Triangles.linkPredictionJaccard(e, maxDeg = cap, k = 8)) _

    assert(cn(10000L) === top(common(10000)))
    // capping at 28 excludes only the hub (degree 29); scores must drop
    // the hub's wedge contributions but hub PAIRS may still appear
    assert(cn(28L) === top(common(28)))
    assert(cn(10000L) !== cn(28L), "hub exclusion must change the ranking on this graph")
    assert(jac(10000L) === top(jaccard(10000)))
    assert(jac(28L) === top(jaccard(28)))
    assert(jac(10000L) !== jac(28L), "hub exclusion must change the Jaccard ranking on this graph")
  }

  test("every reader of the canonical pairs sees a dirty edge list as its clean form") {
    val rnd = new scala.util.Random(5)
    val n = 24
    val base = (0 until 70).map(_ => (rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val hub = (1 until n by 2).map(i => (0, i))
    val clean = (base ++ hub).map(p => (f"N${math.min(p._1, p._2)}%02d", f"N${math.max(p._1, p._2)}%02d")).distinct
    // every pair also reversed, every third pair listed twice more, and
    // self-loops on a listed node and on one listed nowhere else
    val again = clean.zipWithIndex.collect { case (p, i) if i % 3 == 0 => p }
    val dirty = clean ++ clean.map(_.swap) ++ again ++ again.map(_.swap) ++ Seq(("N05", "N05"), ("Z", "Z"))
    // the caps of 8 sit below the hub's degree, so a degree counted over the
    // raw rows would move them
    val readers: Seq[(String, DataFrame => DataFrame)] = Seq(
      "triangleCounts" -> (e => graft.kg.Triangles.triangleCounts(e)),
      "clusteringCoefficients" -> (e => graft.kg.Triangles.clusteringCoefficients(e)),
      "linkPrediction" -> (e => graft.kg.Triangles.linkPrediction(e, maxDeg = 8, k = 10)),
      "linkPredictionRA" -> (e => graft.kg.Triangles.linkPredictionRA(e, maxDeg = 8, k = 10)),
      "linkPredictionJaccard" -> (e => graft.kg.Triangles.linkPredictionJaccard(e, maxDeg = 8, k = 10)),
      "kCore" -> (e => graft.kg.KCore.kCore(e, k = 3)),
      "kTruss" -> (e => graft.kg.KTruss.kTruss(e, k = 3)),
      "assortativity" -> (e => graft.kg.GraphStats.assortativity(e)),
      "rectangleCounts" -> (e => graft.kg.GraphStats.rectangleCounts(e, maxDeg = 8)))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    readers.foreach { case (name, read) =>
      val want = rows(read(clean.toDF("concept_a", "concept_b")))
      assert(want.nonEmpty, name)
      assert(rows(read(dirty.toDF("concept_a", "concept_b").repartition(3))) === want, name)
    }
  }

  test("RA link prediction equals brute force; hub evidence is discounted, not just capped") {
    val rnd = new scala.util.Random(11)
    val n = 30
    val base = (0 until 90).map(_ => (rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val hub = (1 until n).map(i => (0, i))
    val tedges = (base ++ hub).map(p => (f"N${math.min(p._1, p._2)}%02d", f"N${math.max(p._1, p._2)}%02d")).distinct
    val df = tedges.toDF("concept_a", "concept_b").repartition(5)

    def reference(maxDeg: Int): Seq[(String, String, Long)] = {
      val und = (tedges ++ tedges.map(_.swap)).distinct
      val adj = und.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
      val eligible = adj.filter(_._2.size <= maxDeg).keySet
      val edgeSet = tedges.toSet
      val scores = scala.collection.mutable.Map.empty[(String, String), Long]
      for (u <- eligible; v <- adj(u); w <- adj(u); if v < w)
        scores((v, w)) = scores.getOrElse((v, w), 0L) + graft.kg.Triangles.RaScale / adj(u).size
      scores.toSeq
        .collect { case ((a, b), s) if !edgeSet((a, b)) => (a, b, s) }
        .sortBy { case (a, b, s) => (-s, a, b) }
        .take(8)
    }

    def got(maxDeg: Long): Seq[(String, String, Long)] =
      graft.kg.Triangles
        .linkPredictionRA(df, maxDeg = maxDeg, k = 8)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq

    assert(got(10000L) === reference(10000))
    assert(got(28L) === reference(28))
  }

  test("RA discounts promiscuous shared neighbours smoothly (the property common-neighbours lacks)") {
    // a-b share ONLY hub h (degree 5: a, b, x1..x3); c-d share ONLY z
    // (degree 2: c, d). Common-neighbour counting ties them 1:1; RA must
    // rank c-d (10^6 div 2 = 500000) far above a-b (10^6 div 5 = 200000)
    val tedges = Seq(
      ("a", "h"), ("b", "h"), ("h", "x1"), ("h", "x2"), ("h", "x3"),
      ("c", "z"), ("d", "z"))
      .map(p => (Seq(p._1, p._2).min, Seq(p._1, p._2).max))
    val got = graft.kg.Triangles
      .linkPredictionRA(tedges.toDF("concept_a", "concept_b"), k = 100)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(got(("c", "d")) === 500000L)
    assert(got(("a", "b")) === 200000L)
  }

  /** Single-threaded reference LPA: synchronous weighted rounds, max total
    * incident weight per label, tie → min label. */
  private def referenceLpa(edges: Seq[(String, String, Long)], iterations: Int): Map[String, String] = {
    val sym = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val nodes = sym.map(_._1).distinct
    var labels: Map[String, String] = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iterations) {
      labels = sym
        .groupBy(_._2) // by dst
        .map { case (dst, es) =>
          val votes = es.groupBy(e => labels(e._1)).map { case (l, vs) => l -> vs.map(_._3).sum }
          val mx = votes.values.max
          dst -> votes.collect { case (l, w) if w == mx => l }.min
        }
    }
    labels
  }

  test("label propagation equals the synchronous single-threaded reference (two planted blocks)") {
    // two dense blocks joined by one weak bridge; ties exercised inside blocks
    val ledges = Seq(
      ("A1", "A2", 5L), ("A1", "A3", 5L), ("A2", "A3", 5L),
      ("B1", "B2", 5L), ("B1", "B3", 5L), ("B2", "B3", 5L),
      ("A3", "B1", 1L))
    val df = ledges.toDF("concept_a", "concept_b", "n_convs").repartition(3)
    val got = graft.kg.Communities
      .labelPropagation(df, iterations = 4)
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(got === referenceLpa(ledges, 4))
    // the two blocks must settle on different communities
    assert(Set("A1", "A2", "A3").map(got).size === 1)
    assert(Set("B1", "B2", "B3").map(got).size === 1)
    assert(got("A1") !== got("B1"))
  }

  test("label propagation matches the reference on a weighted pseudo-random graph") {
    val rnd = new scala.util.Random(23)
    val n = 30
    val ledges = (0 until 120)
      .map(_ => (rnd.nextInt(n), rnd.nextInt(n), rnd.nextInt(9) + 1L))
      .filter(p => p._1 != p._2)
      .map { case (a, b, w) => (f"N${math.min(a, b)}%02d", f"N${math.max(a, b)}%02d", w) }
      .groupBy(e => (e._1, e._2)) // one row per pair, like the co-occurrence table
      .map { case ((a, b), es) => (a, b, es.head._3) }
      .toSeq
    val df = ledges.toDF("concept_a", "concept_b", "n_convs").repartition(7)
    for ((iterations, numParts) <- Seq((3, 0), (3, 1), (9, 0))) {
      val got = graft.kg.Communities
        .labelPropagation(df, iterations, numParts)
        .collect()
        .map(r => r.getString(0) -> r.getString(1))
        .toMap
      assert(got === referenceLpa(ledges, iterations), s"iterations = $iterations, numParts = $numParts")
    }
  }

  test("clustering coefficients: ppm formula over brute-force triangles and degrees") {
    val tedges = Seq(
      ("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"), ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4"),
      ("Q1", "Q5"), ("Q6", "Q7"))
    val df = tedges.toDF("concept_a", "concept_b")
    val got = graft.kg.Triangles
      .clusteringCoefficients(df)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val tri = referenceTriangles(tedges)
    val und = (tedges ++ tedges.map(_.swap)).distinct
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    for ((n, (d, t, c)) <- got) {
      assert(d === deg(n) && t === tri(n))
      val want = if (d >= 2) 2L * t * 1000000L / (d * (d - 1)) else 0L
      assert(c === want, s"coef_ppm for $n")
    }
    // K4 corners sit in fully-closed neighbourhoods except Q1 (Q5 dangles)
    assert(got("Q2")._3 === 1000000L && got("Q5")._3 === 0L)
    assert(got("Q1")._3 === (2L * 3L * 1000000L) / (4L * 3L))
  }

  /** Single-threaded bounded Bellman-Ford from the max-strength seed. */
  private def referenceSssp(edges: Seq[(String, String, Long)], maxHops: Int): Map[String, Long] = {
    val sym = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val cost = sym.map { case (s, d, w) => (s, d, 1000000L / w) }
    val strength = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._3).sum }
    val seed = strength.toSeq.minBy { case (n, w) => (-w, n) }._1
    var dist = Map(seed -> 0L)
    for (_ <- 1 to maxHops) {
      val relaxed = cost.flatMap { case (s, d, c) => dist.get(s).map(x => d -> (x + c)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist
  }

  test("bounded shortest paths equal single-threaded Bellman-Ford; hop bound binds") {
    // chain off the hub: Q1 is max-strength; Q9 is 4 hops out so maxHops=3 must exclude it
    val sedges = Seq(
      ("Q1", "Q2", 10L), ("Q1", "Q3", 5L), ("Q2", "Q3", 2L),
      ("Q3", "Q4", 4L), ("Q4", "Q8", 2L), ("Q8", "Q9", 2L))
    val df = sedges.toDF("concept_a", "concept_b", "n_convs").repartition(3)
    for (numParts <- Seq(0, 1)) {
      val got = graft.kg.ShortestPaths
        .fromStrongestNode(df, maxHops = 3, numParts = numParts)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      assert(got === referenceSssp(sedges, 3), s"numParts = $numParts")
      assert(got("Q1") === 0L)
      assert(!got.contains("Q9"), "Q9 is beyond the hop bound")
      // the 2-hop path Q1->Q2->Q3 (100000+500000) loses to the direct edge (200000)
      assert(got("Q3") === 200000L)
    }
  }

  /** Single-threaded reference peeling to fixpoint. */
  private def referenceKCore(edges: Seq[(String, String)], k: Int): Map[String, Int] = {
    val und = (edges ++ edges.map(_.swap)).distinct
    var adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, nb) if nb.size < k => n }.toSet
      changed = drop.nonEmpty
      adj = adj.collect { case (n, nb) if !drop(n) => n -> (nb -- drop) }
    }
    adj.map { case (n, nb) => n -> nb.size }
  }

  test("k-core peeling equals reference: chain dissolves, K4 survives, cascade peels") {
    // K4 (Q1..Q4) + a tail Q4-Q5-Q6 that must peel away in CASCADE (Q6
    // first, then Q5, then Q4 keeps core degree 3), + detached chain Q7-Q8
    val edges = Seq(
      ("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"), ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4"),
      ("Q4", "Q5"), ("Q5", "Q6"), ("Q7", "Q8"))
    val df = edges.toDF("concept_a", "concept_b").repartition(3)
    val got2 = graft.kg.KCore.kCore(df, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(got2 === referenceKCore(edges, 2))
    assert(got2.keySet === Set("Q1", "Q2", "Q3", "Q4"), "only the K4 survives the 2-core")
    val got3 = graft.kg.KCore.kCore(df, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(got3 === referenceKCore(edges, 3))
    assert(got3.values.forall(_ >= 3), "3-core min-degree invariant")
    // k above the max core dissolves everything
    assert(graft.kg.KCore.kCore(df, k = 4).count() === 0L)
  }

  /** Single-threaded reference k-truss: recompute per-edge triangle support
    * (common-neighbour count within the surviving set) and peel < k−2 until
    * stable. */
  private def referenceKTruss(edges: Seq[(String, String)], k: Int): Map[(String, String), Int] = {
    var e = edges.map(p => (Seq(p._1, p._2).min, Seq(p._1, p._2).max)).distinct.toSet
    var stable = false
    var sup = Map.empty[(String, String), Int]
    while (!stable) {
      val adj = (e.toSeq ++ e.toSeq.map(_.swap))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
      sup = e.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size }.toMap
      val next = e.filter(p => sup(p) >= k - 2)
      stable = next == e
      e = next
    }
    sup.filter { case (p, _) => e(p) }
  }

  test("k-truss peeling equals reference: tail and bridge edges peel, K4 survives") {
    // K4 (Q1..Q4) + a triangle Q4-Q5-Q6 hanging off Q4 + a bridge Q6-Q7:
    // at k=3 the bridge peels (no triangle) but BOTH cliques survive; at
    // k=4 the hanging triangle (support 1 per edge) must peel in cascade
    val edges = Seq(
      ("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"), ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4"),
      ("Q4", "Q5"), ("Q4", "Q6"), ("Q5", "Q6"), ("Q6", "Q7"))
    val df = edges.toDF("concept_a", "concept_b").repartition(3)
    def got(k: Int): Map[(String, String), Int] =
      graft.kg.KTruss.kTruss(df, k).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt).toMap
    val g3 = got(3)
    assert(g3 === referenceKTruss(edges, 3))
    assert(!g3.contains(("Q6", "Q7")), "the bridge closes no triangle")
    assert(g3.contains(("Q4", "Q5")), "the hanging triangle survives the 3-truss")
    val g4 = got(4)
    assert(g4 === referenceKTruss(edges, 4))
    assert(g4.keySet === Set(("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"),
      ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4")), "only the K4 survives the 4-truss")
    assert(g4.values.forall(_ == 2), "every K4 edge closes exactly 2 triangles")
    assert(graft.kg.KTruss.kTruss(df, 5).count() === 0L, "no 5-truss here")
  }

  test("k-truss on a pseudo-random hub graph matches reference peeling") {
    val rnd = new scala.util.Random(47)
    val n = 26
    val base = (0 until 110).map(_ => (rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val hub = (1 until n).map(i => (0, i))
    val edges = (base ++ hub)
      .map(p => (f"N${math.min(p._1, p._2)}%02d", f"N${math.max(p._1, p._2)}%02d")).distinct
    val df = edges.toDF("concept_a", "concept_b").repartition(5)
    val got = graft.kg.KTruss.kTruss(df, k = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt).toMap
    assert(got === referenceKTruss(edges, 4))
    assert(got.nonEmpty, "hub graph should retain a 4-truss")
  }

  test("k-core on a pseudo-random hub graph matches reference peeling") {
    val rnd = new scala.util.Random(31)
    val n = 30
    val base = (0 until 100).map(_ => (rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val hub = (1 until n).map(i => (0, i))
    val edges = (base ++ hub)
      .map(p => (f"N${math.min(p._1, p._2)}%02d", f"N${math.max(p._1, p._2)}%02d")).distinct
    val df = edges.toDF("concept_a", "concept_b").repartition(5)
    val got = graft.kg.KCore.kCore(df, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(got === referenceKCore(edges, 3))
    assert(got.nonEmpty, "hub graph should retain a 3-core")
  }

  test("k-core and k-truss peeling raise at their round caps") {
    // K4 + a tail Q4-T1-T2-T3: k-core peels it a link a round, k-truss in
    // one round (its edges close no triangle); either needs a second round
    // to see the edge set stable
    val edges = Seq(
      ("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"), ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4"),
      ("Q4", "T1"), ("T1", "T2"), ("T2", "T3")).toDF("concept_a", "concept_b")
    val core = intercept[IllegalArgumentException](graft.kg.KCore.kCore(edges, k = 2, maxRounds = 1).collect())
    assert(core.getMessage.contains("k-core peeling did not converge within 1 rounds"))
    val truss = intercept[IllegalArgumentException](graft.kg.KTruss.kTruss(edges, k = 3, maxRounds = 1).collect())
    assert(truss.getMessage.contains("k-truss peeling did not converge within 1 rounds"))
  }

  test("co-occurrence lift: exact quantized values; chance rate divided out") {
    // convs: c1{A,B} c2{A,B} c3{A,C} c4{B} — duplicate mention rows must
    // not inflate counts (per-conv distinct)
    val m = Seq(
      ("c1", "A"), ("c1", "A"), ("c1", "B"), ("c2", "A"), ("c2", "B"),
      ("c3", "A"), ("c3", "C"), ("c4", "B")
    ).toDF("conv_id", "concept_id")
    val got = graft.kg.KgPipeline
      .cooccurrenceLift(m)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // n_A=3 n_B=3 n_C=1 N=4; lift = (1e6·n_ab·N) div (n_a·n_b)
    assert(got === Map(
      ("A", "B") -> ((2L, 1000000L * 2 * 4 / (3 * 3))),
      ("A", "C") -> ((1L, 1000000L * 1 * 4 / (3 * 1)))))
    // the rare-but-always-together pair (A,C) must out-lift the frequent
    // pair (A,B) even though it co-occurs half as often — the whole point
    assert(got(("A", "C"))._2 > got(("A", "B"))._2)
  }

  test("HITS equals the single-threaded fixed-point reference exactly") {
    // bipartite conv -> concept mention weights: conv c1 surveys everything
    // (hub), concept k1 is mentioned everywhere (authority), plus noise
    val edges = Seq(
      ("c1", "k1", 3L), ("c1", "k2", 2L), ("c1", "k3", 1L),
      ("c2", "k1", 5L), ("c2", "k2", 1L),
      ("c3", "k1", 1L),
      ("c4", "k3", 2L), ("c4", "k4", 3L))

    // independent single-threaded twin of the same recurrence
    def reference(iterations: Int): (Map[String, Long], Map[String, Long]) = {
      val sc = graft.kg.Hits.Scale
      def norm(raw: Map[String, Long]): Map[String, Long] = {
        val denom = (raw.values.max + sc - 1) / sc
        raw.map { case (n, v) => n -> v / denom }
      }
      var auth: Map[String, Long] = edges.map(_._2).distinct.map(_ -> sc).toMap
      var hub: Map[String, Long] = Map.empty
      for (_ <- 1 to iterations) {
        hub = norm(edges.groupBy(_._1).map { case (c, es) =>
          c -> es.map { case (_, k, w) => w * auth(k) }.sum
        })
        auth = norm(edges.groupBy(_._2).map { case (k, es) =>
          k -> es.map { case (c, _, w) => w * hub(c) }.sum
        })
      }
      (hub, auth)
    }

    val df = edges.toDF("conv_id", "concept_id", "n_mentions")
    val got = graft.kg.Hits.run(df, iterations = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val (refHub, refAuth) = reference(4)
    assert(got.collect { case (n, "hub", s) => n -> s }.toMap === refHub)
    assert(got.collect { case (n, "auth", s) => n -> s }.toMap === refAuth)
    assert(graft.kg.Hits.run(df, iterations = 4, numParts = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet === got.toSet, "numParts = 1")

    // structure sanity: k1's reflected self-weight (3^2 + 5^2 + 1^2 = 35)
    // dominates the c4-k4 dyad's (3^2 = 9), so mutual reinforcement must
    // rank k1 the top authority (at dyad weight 7 the 49 > 35 dyad wins —
    // verified while designing this fixture; HITS is a principal
    // eigenvector, not a degree count)
    val auths = got.collect { case (n, "auth", s) => n -> s }.toMap
    assert(auths("k1") == auths.values.max, s"k1 must be the top authority: $auths")
  }

  test("ranks are insensitive to edge-list order (fixed-point sums are exact)") {
    val df1 = edges.toDF("concept_a", "concept_b", "n_convs")
    val df2 = edges.reverse.toDF("concept_a", "concept_b", "n_convs").repartition(7)
    val r1 = PageRank.run(df1, 3).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val r2 = PageRank.run(df2, 3).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r1 === r2)
  }

  test("personalized PageRank equals the single-threaded reference; mass stays near the seed") {
    // seed must be Q1: incident weight 10+5+1 = 16 is the max
    def reference(iterations: Int): Map[String, Long] = {
      val sym = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      val outw = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._3).sum }
      val nodes = sym.map(_._1).distinct
      val seed = nodes.minBy(n => (-outw(n), n))
      assert(seed == "Q1")
      var rank: Map[String, Long] = nodes.map(n => n -> (if (n == seed) PageRank.Scale else 0L)).toMap
      for (_ <- 1 to iterations) {
        val contrib = sym
          .map { case (src, dst, w) => dst -> rank(src) * w / outw(src) }
          .groupBy(_._1)
          .map { case (n, cs) => n -> cs.map(_._2).sum }
        rank = nodes.map { n =>
          n -> ((if (n == seed) PageRank.Teleport else 0L) + 85L * contrib.getOrElse(n, 0L) / 100L)
        }.toMap
      }
      rank
    }
    def ppr(numParts: Int) = PageRank
      .personalized(edges.toDF("concept_a", "concept_b", "n_convs"), iterations = 5, numParts = numParts)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val got = ppr(0)
    assert(got === reference(5))
    assert(ppr(1) === reference(5), "numParts = 1")
    // proximity semantics: the seed out-ranks everything, its strong
    // neighbour Q2 out-ranks the weak one Q4, and the detached Q6-Q7
    // component gets exactly zero mass
    assert(got("Q1") == got.values.max)
    assert(got("Q2") > got("Q4"))
    assert(got("Q6") == 0L && got("Q7") == 0L)
  }

  test("harmonic centrality equals single-threaded BFS; centre of a path beats its ends") {
    // path Q1-Q2-Q3-Q4-Q5 plus detached dyad Q8-Q9 (weights irrelevant)
    val path = Seq(
      ("Q1", "Q2", 1L), ("Q2", "Q3", 1L), ("Q3", "Q4", 1L), ("Q4", "Q5", 1L),
      ("Q8", "Q9", 1L))
    def reference(maxHops: Int): Map[String, Long] = {
      val adj = path
        .flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
        .groupBy(_._1)
        .map { case (n, es) => n -> es.map(_._2).toSet }
      adj.keys.map { s =>
        // BFS from s
        var dist = Map(s -> 0)
        var frontier = Set(s)
        for (h <- 1 to maxHops) {
          frontier = frontier.flatMap(adj).diff(dist.keySet)
          dist ++= frontier.map(_ -> h)
          ()
        }
        s -> dist.collect { case (v, d) if d > 0 => graft.kg.Centrality.Scale / d }.sum
      }.toMap
    }
    def harmonic(maxHops: Int, numParts: Int) = graft.kg.Centrality
      .harmonic(path.toDF("concept_a", "concept_b", "n_convs"), maxHops, numParts)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val got = harmonic(6, 0)
    assert(got === reference(6))
    // an odd round count ends on an unchecked round after the every-2 one
    for ((maxHops, numParts) <- Seq((6, 1), (5, 0)))
      assert(harmonic(maxHops, numParts) === reference(maxHops), s"maxHops = $maxHops, numParts = $numParts")
    // the path centre is closest to everything on the path; the detached
    // dyad scores exactly one unit (its single 1-hop neighbour)
    assert(got("Q3") > got("Q1") && got("Q3") > got("Q5"))
    assert(got("Q8") == graft.kg.Centrality.Scale && got("Q9") == graft.kg.Centrality.Scale)
  }

  test("modularity statistics and q_ppm equal the single-threaded reference") {
    // two clean clusters {A1,A2,A3} / {B1,B2} plus one cross edge
    val es = Seq(
      ("A1", "A2", 4L), ("A1", "A3", 3L), ("A2", "A3", 5L),
      ("B1", "B2", 6L), ("A3", "B1", 1L))
    val labels = Seq(
      ("A1", "cA"), ("A2", "cA"), ("A3", "cA"), ("B1", "cB"), ("B2", "cB"))
    def reference(): Map[String, (Long, Long, Long, Long)] = {
      val lab = labels.toMap
      val m = es.map(_._3).sum
      lab.values.toSeq.distinct.map { c =>
        val nNodes = lab.count(_._2 == c).toLong
        val internal = es.collect { case (a, b, w) if lab(a) == c && lab(b) == c => w }.sum
        val deg = es.collect {
          case (a, b, w) => (if (lab(a) == c) w else 0L) + (if (lab(b) == c) w else 0L)
        }.sum
        val q = 1000000L * internal / m - 1000000L * (deg * deg / m) / (4L * m)
        c -> ((nNodes, internal, deg, q))
      }.toMap
    }
    val got = graft.kg.Communities
      .modularity(
        es.toDF("concept_a", "concept_b", "n_convs"),
        labels.toDF("concept_id", "community"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === reference())
    // a good partition scores positive contributions on both sides
    assert(got("cA")._4 > 0L && got("cB")._4 > 0L)
  }

  test("node2vecWalks equals the single-threaded second-order reference; biases are exact") {
    val rnd = new scala.util.Random(23)
    val n = 18
    val es = ((0 until 60).map(_ => (rnd.nextInt(n), rnd.nextInt(n))) ++ (1 until n).map((0, _)))
      .filter(p => p._1 != p._2)
      .map(p => (f"N${math.min(p._1, p._2)}%02d", f"N${math.max(p._1, p._2)}%02d"))
      .distinct
    val adj = es
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._2).distinct.sorted }
    def h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val (wRet, wIn, wOut) = (1L, 1L, 2L)
    def reference(nWalks: Int, len: Int): Set[(String, Int, String)] = {
      adj.keys.toSeq.flatMap { start =>
        (0 until nWalks).flatMap { j =>
          val id = s"$start#$j"
          var prev = start
          var cur = adj(start).minBy(v => (h(s"$id|1|$v"), v))
          (id, 0, start) +: (id, 1, cur) +: (2 to len).map { t =>
            // candidates in id order; exact cumulative-bucket pick
            val cands = adj(cur)
            val ws = cands.map { v =>
              if (v == prev) wRet else if (adj(prev).contains(v)) wIn else wOut
            }
            val tot = ws.sum
            val coin = h(s"$id|$t") % tot
            val cum = ws.scanLeft(0L)(_ + _).tail
            val pick = cands(cum.indexWhere(coin < _))
            prev = cur
            cur = pick
            (id, t, cur)
          }
        }
      }.toSet
    }
    val got = graft.kg.Walks
      .node2vecWalks(es.toDF("concept_a", "concept_b"), nWalks = 2, len = 4,
        wReturn = wRet, wIn = wIn, wOut = wOut)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(got === reference(2, 4))
    // structural sanity: every step is an edge, every walk runs full length
    val byWalk = got.groupBy(_._1)
    assert(byWalk.size == adj.size * 2)
    assert(byWalk.values.forall(_.size == 5))
    byWalk.values.foreach { rows =>
      rows.toSeq.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Seq(u, v) => assert(adj(u).contains(v), s"$u -> $v is not an edge")
        case _         =>
      }
    }
  }

  test("node2vec survives duplicate and both-orientation input edges (coin-gap regression)") {
    // duplicates must not split a candidate's cumulative interval: without
    // the internal distinct, tied rows share one cum under the RANGE frame
    // and a coin landing in the orphaned gap silently kills the walk
    val clean = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"))
    val dirty = clean ++ clean ++ clean.map(_.swap) // triplicate, mixed orientation
    def corpus(es: Seq[(String, String)]): Set[(String, Int, String)] =
      graft.kg.Walks.node2vecWalks(es.toDF("concept_a", "concept_b"), nWalks = 3, len = 6)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val got = corpus(dirty)
    assert(got === corpus(clean), "duplicate edges must not change any pick")
    val byWalk = got.groupBy(_._1)
    assert(byWalk.size === 4 * 3)
    assert(byWalk.values.forall(_.size === 7), "every walk runs full length")
  }

  test("node2vec bias weights steer the corpus: strong-return weights differ from explore weights") {
    // a triangle + pendant: different (wReturn, wIn, wOut) must change picks
    val es = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"))
    val df = es.toDF("concept_a", "concept_b")
    def corpus(wr: Long, wi: Long, wo: Long): Set[(String, Int, String)] =
      graft.kg.Walks.node2vecWalks(df, nWalks = 4, len = 6, wr, wi, wo)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val returny = corpus(1000000L, 1L, 1L)
    val explorey = corpus(1L, 1L, 1000000L)
    assert(returny !== explorey, "extreme opposite biases must produce different walks")
  }

  test("deepWalks equals the single-threaded hash-coin reference; walks are valid paths") {
    val es = Seq(
      ("Q1", "Q2", 1L), ("Q2", "Q3", 1L), ("Q3", "Q4", 1L), ("Q1", "Q3", 1L))
    val adj = es
      .flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).distinct }
    def h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def reference(nWalks: Int, len: Int): Set[(String, Int, String)] = {
      adj.keys.toSeq.flatMap { n =>
        (0 until nWalks).flatMap { j =>
          val id = s"$n#$j"
          var cur = n
          (id, 0, n) +: (1 to len).map { t =>
            cur = adj(cur).minBy(v => (h(s"$id|$t|$v"), v))
            (id, t, cur)
          }
        }
      }.toSet
    }
    val got = graft.kg.Walks
      .deepWalks(es.toDF("concept_a", "concept_b", "n_convs"), nWalks = 2, len = 4)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(got === reference(2, 4))
    // every consecutive step is an actual edge
    val byWalk = got.groupBy(_._1)
    byWalk.foreach { case (_, rows) =>
      val ordered = rows.toSeq.sortBy(_._2).map(_._3)
      ordered.sliding(2).foreach {
        case Seq(u, v) => assert(adj(u).contains(v), s"$u -> $v is not an edge")
        case _         =>
      }
    }
    // every node contributes exactly nWalks complete walks (no sinks here)
    assert(byWalk.size == adj.size * 2)
    assert(byWalk.values.forall(_.size == 5))
  }

  test("eccentricity: exact hop radii on a path; the hop bound binds") {
    val path = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "D", 1L)).toDF("concept_a", "concept_b", "n_convs")
    for (numParts <- Seq(0, 1)) {
      val got = graft.kg.Centrality
        .eccentricity(path, maxHops = 6, numParts = numParts)
        .collect()
        .map(r => r.getString(0) -> r.getInt(1))
        .toMap
      assert(got === Map("A" -> 3, "B" -> 2, "C" -> 2, "D" -> 3), s"numParts = $numParts")
    }
    // bounded at 1 hop, every node only sees its direct neighbours
    val capped = graft.kg.Centrality
      .eccentricity(path, maxHops = 1)
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    assert(capped.values.forall(_ == 1))
  }

  test("landmark distances: equal the independent reference; upper-bound the true distance") {
    // pseudo-random connected graph with a hub (same generator family as
    // the triangle/k-core cases)
    val nodes = (0 until 18).map(i => s"n$i")
    val rnd = new scala.util.Random(11)
    val extra = (0 until 30).map { _ =>
      val a = nodes(rnd.nextInt(nodes.size)); val b = nodes(rnd.nextInt(nodes.size)); (a, b)
    }
    val ring = nodes.indices.map(i => (nodes(i), nodes((i + 1) % nodes.size)))
    val edges = (ring ++ extra).filter { case (a, b) => a != b }.distinct
    val df = edges.map { case (a, b) => (a, b, 1L) }.toDF("concept_a", "concept_b", "n_convs")

    // single-threaded truth: level-synchronous BFS from every node
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val adj = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    def bfsLevels(s: String): Map[String, Int] = {
      var dist = Map(s -> 0); var frontier = Set(s); var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil)).diff(dist.keySet)
        next.foreach(v => dist += v -> d)
        frontier = next
      }
      dist
    }
    val trueDist = nodes.map(n => n -> bfsLevels(n)).toMap
    // independently recompute the landmark set: k smallest (md5 hex, node)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val present = sym.map(_._1).distinct
    val lms = present.sortBy(n => (md5hex(n), n)).take(4)
    val expected = (for {
      a <- present; b <- present if a < b
      ests = lms.flatMap(l =>
        for (da <- trueDist(l).get(a); db <- trueDist(l).get(b)) yield da + db)
      if ests.nonEmpty
    } yield (a, b) -> ests.min).toMap

    def landmarks(numParts: Int) = graft.kg.Centrality
      .landmarkDistances(df, landmarks = 4, maxHops = 6, numParts = numParts)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    val got = landmarks(0)
    assert(got === expected)
    assert(landmarks(1) === expected, "numParts = 1")
    // triangle-inequality upper bound vs the true distance, with exactness
    // whenever a landmark endpoint is in the pair
    got.foreach { case ((a, b), est) =>
      assert(est >= trueDist(a)(b), s"est($a,$b)=$est < true ${trueDist(a)(b)}")
    }
    lms.foreach { l =>
      got.collect { case ((a, b), est) if a == l || b == l =>
        assert(est == trueDist(a)(b))
      }
    }
  }

  /** Single-threaded Brandes with the SAME hop bound and fixed-point
    * per-edge floor division — independent formulation (mutable maps, depth
    * recursion by level) of the recurrence the engine runs as joins.
    * `sources` restricts the seed set (None = all nodes), mirroring the
    * engine's pivot sampling. */
  private def referenceBetweenness(
      edges: Seq[(String, String)],
      maxHops: Int,
      sources: Option[Set[String]] = None): Map[String, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val nodes = sym.map(_._1).distinct
    val seeds = sources.fold(nodes)(s => nodes.filter(s))
    val bc = scala.collection.mutable.Map[String, Long](nodes.map(_ -> 0L): _*)
    var levels = Vector(seeds.map(n => (n, n) -> 1L).toMap)
    var seen: Set[(String, String)] = levels(0).keySet
    for (_ <- 1 to maxHops) {
      val next = scala.collection.mutable.Map.empty[(String, String), Long]
      for (((s, v), sig) <- levels.last; w <- adj.getOrElse(v, Nil))
        if (!seen((s, w))) next((s, w)) = next.getOrElse((s, w), 0L) + sig
      levels :+= next.toMap
      seen ++= next.keySet
    }
    var deltaNext: Map[(String, String), Long] = levels(maxHops).map { case (k, _) => k -> 0L }
    var sigmaNext = levels(maxHops)
    for (t <- (maxHops - 1) to 1 by -1) {
      val cur = levels(t)
      val d = cur.map { case ((s, v), sig) =>
        val terms = adj.getOrElse(v, Nil).flatMap { w =>
          sigmaNext.get((s, w)).map(sigW => sig * (1000000L + deltaNext((s, w))) / sigW)
        }
        (s, v) -> terms.sum
      }
      d.foreach { case ((_, v), dl) => if (dl > 0) bc(v) += dl }
      deltaNext = d
      sigmaNext = cur
    }
    nodes.map(n => n -> bc(n)).toMap
  }

  private def runBetweenness(es: Seq[(String, String)], maxHops: Int = 4, numParts: Int = 0): Map[String, Long] =
    graft.kg.Centrality
      .betweenness(es.map { case (a, b) => (a, b, 1L) }.toDF("concept_a", "concept_b", "n_convs"), maxHops,
        numParts = numParts)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap

  test("betweenness: the middle of a path brokers every pair; endpoints score 0") {
    val got = runBetweenness(Seq(("A", "B"), ("B", "C")))
    // pair (A,C) routes through B from BOTH endpoints (undirected convention)
    assert(got === Map("A" -> 0L, "B" -> 2000000L, "C" -> 0L))
  }

  test("betweenness: a 4-cycle splits path counts exactly in half") {
    // two shortest A->C paths (via B and D): each mid-node takes sigma/2
    val got = runBetweenness(Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "A")))
    assert(got.values.toSet === Set(1000000L))
  }

  test("betweenness: star centre brokers all leaf pairs; matches reference on a random graph") {
    val star = runBetweenness(Seq(("X", "a"), ("X", "b"), ("X", "c")))
    assert(star("X") === 6000000L) // 3 leaf pairs x 2 directions
    assert(star("a") === 0L && star("b") === 0L && star("c") === 0L)
    // pseudo-random graph: same deterministic construction as the LPA test
    val es = (for (i <- 0 until 12; j <- (i + 1) until 12 if (i * 7 + j * 13) % 5 == 0)
      yield (s"N$i", s"N$j")).toSeq
    assert(runBetweenness(es) === referenceBetweenness(es, 4))
    assert(runBetweenness(es, numParts = 1) === referenceBetweenness(es, 4), "numParts = 1")
    // the hop bound binds identically in both formulations
    assert(runBetweenness(es, maxHops = 2) === referenceBetweenness(es, 2))
  }

  test("negative samples: hash-coin corrupt tails equal the single-threaded reference") {
    val es = Seq(("Q1", "Q2", 3L), ("Q2", "Q3", 1L), ("Q1", "Q4", 2L), ("Q5", "Q6", 1L))
    val got = graft.kg.Walks
      .negativeSamples(es.toDF("concept_a", "concept_b", "n_convs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def h(s: String): Long = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val want = es
      .map { case (a, b, _) => (a, b, nodes((h(s"$a|$b") % nodes.size).toInt)) }
      .filter { case (a, b, t) => t != a && t != b }
      .toSet
    assert(got === want)
    // every emitted tail is a real dictionary node and never an endpoint
    assert(got.forall { case (a, b, t) => nodes.contains(t) && t != a && t != b })
  }

  test("assortativity: a perfect star is exactly -1; a regular cycle is 0 by convention") {
    // star: center degree 3, leaves degree 1 -> r = -1 exactly
    val star = Seq(("C", "L1"), ("C", "L2"), ("C", "L3")).toDF("concept_a", "concept_b")
    val rowS = graft.kg.GraphStats.assortativity(star).collect().head
    assert(rowS.getAs[Long]("m2") === 6L)
    assert(rowS.getAs[Long]("sx") === 12L)   // 3*3 + 1*3
    assert(rowS.getAs[Long]("sxy") === 18L)  // 6 pairs of 3*1
    assert(rowS.getAs[Long]("sx2") === 30L)  // 9*3 + 1*3
    assert(rowS.getAs[Long]("num") === -36L)
    assert(rowS.getAs[Long]("den") === 36L)
    assert(rowS.getAs[Double]("r") === -1.0)
    // 4-cycle: every degree 2 -> zero degree variance -> r = 0 convention
    val cyc = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("A", "D")).toDF("concept_a", "concept_b")
    val rowC = graft.kg.GraphStats.assortativity(cyc).collect().head
    assert(rowC.getAs[Long]("den") === 0L)
    assert(rowC.getAs[Double]("r") === 0.0)
  }

  test("rectangles: K4 has 3 per node; pendants and detached edges count 0") {
    // K4 on A,B,C,D (3 Hamilton 4-cycles, each through all four nodes),
    // a pendant E-A (on no cycle), a detached edge F-G
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"), ("C", "D"),
      ("E", "A"), ("F", "G")
    ).toDF("concept_a", "concept_b")
    val got = graft.kg.GraphStats
      .rectangleCounts(edges)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val want = Map("A" -> 3L, "B" -> 3L, "C" -> 3L, "D" -> 3L, "E" -> 0L, "F" -> 0L, "G" -> 0L)
    assert(got === want)
    // a plain 4-cycle: exactly one rectangle through each node
    val cyc = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("A", "D")).toDF("concept_a", "concept_b")
    val gotCyc = graft.kg.GraphStats
      .rectangleCounts(cyc)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(gotCyc === Map("A" -> 1L, "B" -> 1L, "C" -> 1L, "D" -> 1L))
  }

  test("rectangles: hub prune excludes the hub and its incident cycles, by original degree") {
    // square A-B-C-D plus hub H linked to everything: prune at maxDeg=3
    // removes H (deg 4) and leaves the square's 1-per-node counts
    val edges = Seq(
      ("A", "B"), ("B", "C"), ("C", "D"), ("A", "D"),
      ("H", "A"), ("H", "B"), ("H", "C"), ("H", "D")
    ).toDF("concept_a", "concept_b")
    val got = graft.kg.GraphStats
      .rectangleCounts(edges, maxDeg = 3L)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(got === Map("A" -> 1L, "B" -> 1L, "C" -> 1L, "D" -> 1L))
  }

  /** Independent single-threaded SCC reference: Kosaraju (forward DFS
    * finish order, then reverse-graph DFS), scc_id = min member id. */
  private def kosarajuScc(edges: Seq[(String, String)]): Map[String, String] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val fwd = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val bwd = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val seen = scala.collection.mutable.Set.empty[String]
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    def dfs1(u: String): Unit = {
      seen += u
      fwd.getOrElse(u, Nil).foreach(v => if (!seen(v)) dfs1(v))
      order += u
    }
    nodes.foreach(n => if (!seen(n)) dfs1(n))
    seen.clear()
    val comp = scala.collection.mutable.Map.empty[String, List[String]]
    def dfs2(u: String, root: String): Unit = {
      seen += u
      comp(root) = u :: comp.getOrElse(root, Nil)
      bwd.getOrElse(u, Nil).foreach(v => if (!seen(v)) dfs2(v, root))
    }
    order.reverse.foreach(n => if (!seen(n)) dfs2(n, n))
    comp.values.flatMap { members =>
      val id = members.min
      members.map(_ -> id)
    }.toMap
  }

  private def runScc(edges: Seq[(String, String)]): Map[String, String] =
    graft.kg.Scc
      .run(spark, edges.toDF("src", "dst"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap

  test("SCC: two 3-cycles joined one-way, a DAG tail, and a detached cycle") {
    val edges = Seq(
      // 3-cycle {A,B,C} -> one-way bridge -> 3-cycle {D,E,F}
      ("A", "B"), ("B", "C"), ("C", "A"),
      ("C", "D"),
      ("D", "E"), ("E", "F"), ("F", "D"),
      // DAG tail: F -> G -> H (singletons)
      ("F", "G"), ("G", "H"),
      // detached 2-cycle
      ("X", "Y"), ("Y", "X")
    )
    val got = runScc(edges)
    assert(got === kosarajuScc(edges))
    assert(got("A") === "A" && got("B") === "A" && got("C") === "A")
    assert(got("D") === "D" && got("F") === "D")
    assert(got("G") === "G" && got("H") === "H")
    assert(got("X") === "X" && got("Y") === "X")
  }

  test("SCC: a pure DAG is all singletons; one big cycle is one component") {
    val dag = Seq(("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"))
    assert(runScc(dag) === Map("A" -> "A", "B" -> "B", "C" -> "C", "D" -> "D"))
    val cyc = (0 until 6).map(i => (s"N$i", s"N${(i + 1) % 6}"))
    assert(runScc(cyc) === (0 until 6).map(i => s"N$i" -> "N0").toMap)
  }

  test("SCC: matches Kosaraju on a pseudo-random digraph") {
    // deterministic hash-derived digraph: cyclic enough to have real SCCs
    val n = 24
    val edges = (for {
      i <- 0 until n
      j <- 0 until n
      if i != j
      h = ((i * 31 + j) * 2654435761L) & 0xffffffffL
      if h % 7 == 0
    } yield (f"V$i%02d", f"V$j%02d")).toSeq
    assert(edges.nonEmpty)
    assert(runScc(edges) === kosarajuScc(edges))

    // planted directed 4-cycles in three layers, bridged one-way from cycle
    // c to cycle c + 10 (layers 0 -> 1 -> 2). Ids are zero-padded so an
    // upstream cycle's minimum colors its whole downstream chain: only the
    // chain head settles per outer round, so the peel needs three rounds.
    val nCyc = 30
    def v(k: Int) = f"v$k%03d"
    val cycles = (0 until nCyc * 4).map(k => (v(k), v(k - k % 4 + (k + 1) % 4)))
    val bridges = (0 until 20).map(c => (v(c * 4), v((c + 10) * 4)))
    val layered = cycles ++ bridges
    val got = runScc(layered)
    assert(got === kosarajuScc(layered))
    val sccs = got.groupBy(_._2).values.map(_.keys.toSeq)
    assert(sccs.size === nCyc, "one component per planted cycle")
    assert(sccs.forall(m => m.size == 4 && m.map(_.drop(1).toInt / 4).distinct.size == 1),
      "every SCC is exactly one planted 4-cycle")
    val capped = intercept[IllegalArgumentException](
      graft.kg.Scc.run(spark, layered.toDF("src", "dst"), maxOuterRounds = 2))
    assert(capped.getMessage.contains("did not settle within 2 outer rounds"))
    val cond = graft.kg.Scc
      .condensation(spark, layered.toDF("src", "dst"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(cond.toSet === bridges.toSet && cond.length === bridges.size, "one condensation edge per bridge")
  }

  test("SCC trim and forward phases raise at the inner round cap") {
    // a chain trims from both ends, two nodes a round: two rounds
    val chain = Seq(("A", "B"), ("B", "C"), ("C", "D")).toDF("src", "dst")
    val trim = intercept[IllegalArgumentException](graft.kg.Scc.run(spark, chain, maxInnerRounds = 1))
    assert(trim.getMessage.contains("SCC trim phase did not converge within 1 rounds"))
    // a 6-cycle trims nothing (one round); its minimum takes 5 rounds to
    // color the cycle forward
    val cycle = (0 until 6).map(i => (s"N$i", s"N${(i + 1) % 6}")).toDF("src", "dst")
    val fwd = intercept[IllegalArgumentException](graft.kg.Scc.run(spark, cycle, maxInnerRounds = 2))
    assert(fwd.getMessage.contains("SCC forward phase did not converge within 2 rounds"))
  }

  test("fixpoint loops leave the same cached rounds behind however many rounds they run") {
    // a 4-clique (both directions) with a one-way tail of n links: k-core
    // and SCC's trim peel the tail one link a round
    val clique = for (a <- 1 to 4; b <- 1 to 4 if a != b) yield (s"Q$a", s"Q$b")
    def withTail(n: Int) = clique ++ (1 to n).map(i => (if (i == 1) "Q4" else s"T${i - 1}", s"T$i"))
    val sc = spark.sparkContext
    // persisted RDDs a call leaves behind once its result is collected. The
    // registry holds them weakly, so a collection first drops those nothing
    // references any more; what remains is what the result keeps cached
    def residue(run: => DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = run
      out.collect()
      System.gc()
      val left = (sc.getPersistentRDDs.keySet.toSet -- before).size
      assert(out.columns.nonEmpty) // keeps `out` reachable through the count
      left
    }
    val loops: Seq[(String, Seq[(String, String)] => DataFrame)] = Seq(
      "connected components" -> (es => graft.kg.ConnectedComponents.run(spark, es.toDF("src", "dst"))),
      "SCC" -> (es => graft.kg.Scc.run(spark, es.toDF("src", "dst"))),
      "k-core" -> (es => graft.kg.KCore.kCore(es.toDF("concept_a", "concept_b"), k = 2)),
      "k-truss" -> (es => graft.kg.KTruss.kTruss(es.toDF("concept_a", "concept_b"), k = 3)))
    loops.foreach { case (name, run) =>
      val short = residue(run(withTail(2)))
      val long = residue(run(withTail(8)))
      assert(long <= short, s"$name: $short cached RDDs left after a 2-link tail, $long after an 8-link tail")
    }
    // the fixed-count loops over a static edge cache, at 2 and 9 rounds (9
    // crosses both checkpoint cadences, 2 and 8): the cache is freed, and
    // only the result's own checkpoint stays
    val co = withTail(8).map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      .map { case (a, b) => (a, b, 1L) }.toDF("concept_a", "concept_b", "n_convs")
    val bipartite = withTail(8).map { case (a, b) => (a, b, 1L) }.toDF("conv_id", "concept_id", "n_mentions")
    val fixed: Seq[(String, Int => DataFrame)] = Seq(
      "PageRank" -> (n => PageRank.run(co, iterations = n)),
      "PPR" -> (n => PageRank.personalized(co, iterations = n)),
      "HITS" -> (n => graft.kg.Hits.run(bipartite, iterations = n)),
      "label propagation" -> (n => graft.kg.Communities.labelPropagation(co, iterations = n)),
      "shortest paths" -> (n => graft.kg.ShortestPaths.fromStrongestNode(co, maxHops = n)),
      "harmonic" -> (n => graft.kg.Centrality.harmonic(co, maxHops = n)),
      "betweenness" -> (n => graft.kg.Centrality.betweenness(co, maxHops = n)))
    fixed.foreach { case (name, run) =>
      val short = residue(run(2))
      val long = residue(run(9))
      assert(long <= short && short <= 1, s"$name: $short cached RDDs left after 2 rounds, $long after 9")
    }
  }

  test("pivot-sampled betweenness: all-pivots equals exact; k pivots match the restricted reference") {
    val es = (for (i <- 0 until 12; j <- (i + 1) until 12 if (i * 7 + j * 13) % 5 == 0)
      yield (f"P$i%02d", f"P$j%02d")).toSeq
    def run(pivots: Int) = graft.kg.Centrality
      .betweenness(es.map { case (a, b) => (a, b, 1L) }.toDF("concept_a", "concept_b", "n_convs"),
        maxHops = 4, pivots = pivots)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    // enough pivots to cover every node: the sample IS the population
    assert(run(1000) === referenceBetweenness(es, 4))
    // k = 4: the hash-min pivot set is deterministic — recompute it here
    // with the same md5 rule and hand the reference the same sources
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val piv = nodes.sortBy(n => (md5hex(n), n)).take(4).toSet
    assert(run(4) === referenceBetweenness(es, 4, Some(piv)))
  }

  test("kg_scc and kg_condensation leave the session conf as they found it") {
    val before = spark.conf.getAll
    Seq("kg_scc", "kg_condensation").foreach { q =>
      assert(SparkEntry.queries(q)(spark, TestSpark.sf0001).collect().nonEmpty, s"$q returned no rows")
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty, s"$q changed the session conf: ${changed.map(k => k -> (before.get(k), after.get(k)))}")
    }
  }

  test("condensation: two bridged cycles collapse to one DAG edge") {
    val edges = Seq(
      ("A", "B"), ("B", "C"), ("C", "A"), // SCC {A,B,C}
      ("C", "D"), // bridge
      ("D", "E"), ("E", "F"), ("F", "D") // SCC {D,E,F}
    )
    val got = graft.kg.Scc
      .condensation(spark, edges.toDF("src", "dst"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(got === Set(("A", "D")))
    // a pure cycle condenses to zero edges
    val cyc = Seq(("X", "Y"), ("Y", "Z"), ("Z", "X"))
    assert(graft.kg.Scc.condensation(spark, cyc.toDF("src", "dst")).count() === 0L)
  }

  test("implication digraph: edges point rarer -> frequent; ties are mutual") {
    val pairs = Seq(("Q1", "Q2"), ("Q2", "Q3")).toDF("concept_a", "concept_b")
    val marginals = Seq(("Q1", 5L), ("Q2", 9L), ("Q3", 9L)).toDF("concept_id", "n")
    val got = graft.kg.Scc
      .implicationDigraph(pairs, marginals)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    // Q1(5) -> Q2(9); Q2(9) == Q3(9) -> both directions
    assert(got === Set(("Q1", "Q2"), ("Q2", "Q3"), ("Q3", "Q2")))
  }

  test("burst days: calendar RANGE window (gap days count), first day bursts, flat tail doesn't") {
    // Q1: days 1..3 flat at 10, then a 30 spike on day 10 (trailing window
    // days 3..9 holds only day-3's 10 -> 30*7 > 2*10: burst). Day 11 at 10:
    // trail = {10: 30} (days 4..10) -> 10*7 > 2*30: burst (rate still above
    // 2x the sparse baseline); day 12 at 10: trail = {30,10} = 40 -> 70 <=
    // 80: no burst. A ROWS frame would have kept all of days 1..3 in the
    // day-10 baseline and missed the spike semantics.
    val trends = Seq(
      ("Q1", 1L, 10L), ("Q1", 2L, 10L), ("Q1", 3L, 10L),
      ("Q1", 10L, 30L), ("Q1", 11L, 10L), ("Q1", 12L, 10L)
    ).toDF("concept_id", "day_num", "n_mentions")
    val got = graft.kg.KgPipeline
      .burstDays(trends, window = 7, factor = 2)
      .collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getInt(4)))
      .toSet
    assert(
      got === Set(
        (1L, 0L, 1),   // first active day: empty trail -> burst by construction
        (2L, 10L, 1),  // 10*7 > 2*10
        (3L, 20L, 1),  // 70 > 40
        (10L, 10L, 1), // spike vs the one surviving trail day
        (11L, 30L, 1), // 70 > 60
        (12L, 40L, 0)  // 70 <= 80: settled
      ))
  }

  test("diameter summary: max/min eccentricity over a path") {
    val path = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "E")).toDF("concept_a", "concept_b")
    val row = graft.kg.GraphStats
      .diameterSummary(graft.kg.Centrality.eccentricity(path, maxHops = 6))
      .collect()
      .head
    assert(row.getAs[Int]("diameter_hops") === 4)
    assert(row.getAs[Int]("radius_hops") === 2)
    assert(row.getAs[Long]("n_nodes") === 5L)
  }

  test("walk generators return a constant-size plan: checkpoint scans under a union, no join or aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Union}
    import org.apache.spark.sql.execution.LogicalRDD
    val df = edges.toDF("concept_a", "concept_b", "n_convs")
    val len = 6
    for ((name, walks) <- Seq(
        "deepWalks" -> graft.kg.Walks.deepWalks(df, nWalks = 2, len = len),
        "node2vecWalks" -> graft.kg.Walks.node2vecWalks(df, nWalks = 2, len = len))) {
      val plan = walks.queryExecution.logical
      assert(plan.find(p => p.isInstanceOf[Join] || p.isInstanceOf[Aggregate]).isEmpty, s"$name:\n$plan")
      assert(plan.find(_.isInstanceOf[Union]).nonEmpty, s"$name:\n$plan")
      assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), s"$name:\n$plan")
      assert(plan.collectLeaves().size === len + 1, s"$name: one checkpoint per step")
      assert(walks.count() === 7L * 2 * (len + 1), s"$name: every walk runs full length")
    }
  }

  // The final plans of the checkpoints that run a walk step (a join), for
  // the walk plan-shape tests below.
  import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec        => planNodes(q.plan)
      case o                        => o.children.flatMap(planNodes)
    })
  }
  // the listener bus is FIFO, so once a later marker query has been seen
  // every step has been
  private def stepPlans(walks: => org.apache.spark.sql.DataFrame): Seq[Seq[SparkPlan]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { seen.add(f -> qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      walks.collect()
      spark.range(1).toDF("walk_steps_marker").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def marked = seen.toArray.exists { case (_, qe: QueryExecution) => qe.analyzed.output.exists(_.name == "walk_steps_marker") }
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked)
      seen.toArray.toSeq.collect { case ("localCheckpoint", qe: QueryExecution) => planNodes(qe.executedPlan) }
        .filter(_.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.HashJoin]))
    } finally spark.listenerManager.unregister(listener)
  }
  // an exchange that reads the edge cache through no join re-exchanges it
  private def reExchangesCache(ex: SparkPlan) = {
    import org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val below = planNodes(ex)
    below.exists(p => p.isInstanceOf[InMemoryTableScanExec] || p.isInstanceOf[TableCacheQueryStageExec]) &&
      !below.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.HashJoin])
  }
  // an 11-node complete graph: by step 3 the estimate a frontier inherits
  // from its step plan passes spark.sql.maxSinglePartitionBytes
  private def completeGraph = {
    val ids = (1 to 11).map(i => f"Q$i%02d")
    (for (a <- ids; b <- ids if a < b) yield (a, b, 1L)).toDF("concept_a", "concept_b", "n_convs")
  }

  test("walk steps at numParts = 1 exchange only the walks, never the single-partition edge cache") {
    val len = 6
    // a one-partition frontier is joined where it lies: no exchange at all
    val deep = stepPlans(graft.kg.Walks.deepWalks(completeGraph, nWalks = 2, len = len, numParts = 1))
    assert(deep.size === len)
    deep.zipWithIndex.foreach { case (plan, i) =>
      val exchanges = plan.filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(exchanges.size === 0, s"deepWalks step ${i + 1}: ${exchanges.mkString("\n")}")
    }

    val n2v = stepPlans(graft.kg.Walks.node2vecWalks(completeGraph, nWalks = 2, len = len, numParts = 1))
    assert(n2v.size === len)
    n2v.zipWithIndex.foreach { case (plan, i) =>
      val exchanges = plan.filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(!exchanges.exists(reExchangesCache), s"node2vecWalks step ${i + 1}: ${exchanges.mkString("\n")}")
    }
  }

  test("node2vec steps at numParts = 2 exchange at numParts partitions, none at the session's width") {
    val len = 6
    val n2v = stepPlans(graft.kg.Walks.node2vecWalks(completeGraph, nWalks = 2, len = len, numParts = 2))
    assert(n2v.size === len)
    n2v.zipWithIndex.foreach { case (plan, i) =>
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
      val where = s"node2vecWalks step ${i + 1}: ${exchanges.mkString("\n")}"
      assert(!exchanges.exists(reExchangesCache), where)
      assert(exchanges.forall(_.outputPartitioning.numPartitions == 2), where)
      // step 1 exchanges the starts onto the edge cache; each later step its
      // frontier, its candidates by (prev, cand) and its window by walk
      assert(exchanges.size === (if (i == 0) 1 else 3), where)
    }
    // the coins are hashes of the walk, so the layout leaves the corpus as it is
    def corpus(numParts: Int) =
      graft.kg.Walks.node2vecWalks(completeGraph, nWalks = 2, len = len, numParts = numParts)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(corpus(2) === corpus(1))
  }
}
