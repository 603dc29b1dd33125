package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.ConnectedComponents

/** Connected components: star-contraction vs min-propagation vs a local
  * union-find oracle, including the diameter-pathological chain. */
class CcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // canonical root = min member id per component
    val members = parent.keys.toSeq.groupBy(find)
    members.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }.toMap
  }

  private def runBoth(edges: Seq[(String, String)]): Unit = {
    val df = edges.toDF("src", "dst")
    val want = unionFind(edges)
    val star = ConnectedComponents
      .run(spark, df)
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(star == want, "star contraction")
    val prop = ConnectedComponents
      .runPropagation(spark, df, maxIterations = 2000)
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(prop == want, "min propagation")
  }

  test("long chain (diameter 300) converges under star contraction in O(log n) rounds") {
    val chain = (0 until 300).map(i => (f"n$i%04d", f"n${i + 1}%04d"))
    val df = chain.toDF("src", "dst")
    val got = ConnectedComponents.run(spark, df).collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.length == 301)
    assert(got.forall(_._2 == "n0000"))
  }

  test("random multi-component graphs match union-find") {
    val rng = new scala.util.Random(7)
    val edges = (0 until 400).map { _ =>
      val cluster = rng.nextInt(12)
      (s"c$cluster-${rng.nextInt(30)}", s"c$cluster-${rng.nextInt(30)}")
    }.filter(e => e._1 != e._2)
    runBoth(edges)
  }

  test("hub graph (one concept linked from many surfaces)") {
    val hub = (0 until 500).map(i => (s"surface:$i", "Q1")) ++ Seq(("Q1", "Q2"), ("x", "y"))
    runBoth(hub)
  }

  test("incremental CC == full CC: batch merges components, adds nodes, no-ops") {
    val rng = new scala.util.Random(11)
    val base = (0 until 300).map { _ =>
      val cluster = rng.nextInt(10)
      (s"c$cluster-${rng.nextInt(25)}", s"c$cluster-${rng.nextInt(25)}")
    }.filter(e => e._1 != e._2)
    // the batch exercises all three shapes: a cross-cluster MERGE edge, a
    // brand-new component, an edge internal to an existing component (no-op),
    // plus random edges that may attach new nodes to old components
    val batch = Seq(
      ("c0-0", "c1-0"),              // merges two existing components
      ("fresh-a", "fresh-b"),        // entirely new component
      ("c2-1", "c2-2"),              // likely internal no-op
      ("new-node", "c3-0")           // new node attaching to an old component
    ) ++ (0 until 60).map { _ =>
      val cluster = rng.nextInt(12)  // clusters 10/11 don't exist in base
      (s"c$cluster-${rng.nextInt(28)}", s"c$cluster-${rng.nextInt(28)}")
    }.filter(e => e._1 != e._2)
    val want = unionFind(base ++ batch)
    val existing = ConnectedComponents.run(spark, base.toDF("src", "dst"))
    val got = ConnectedComponents
      .runIncremental(spark, existing, batch.toDF("src", "dst"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(got.length == got.map(_._1).distinct.length, "one row per node")
    assert(got.toMap == want)
  }

  test("incremental CC property: random base/batch splits match union-find") {
    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val edges = (0 until 250).map { _ =>
        val cluster = rng.nextInt(8)
        (s"s$seed-c$cluster-${rng.nextInt(20)}", s"s$seed-c$cluster-${rng.nextInt(20)}")
      }.filter(e => e._1 != e._2)
      val (batch, base) = edges.partition(_ => rng.nextInt(4) == 0)
      val want = unionFind(edges)
      val existing = ConnectedComponents.run(spark, base.toDF("src", "dst"))
      val got = ConnectedComponents
        .runIncremental(spark, existing, batch.toDF("src", "dst"))
        .collect()
        .map(r => r.getString(0) -> r.getString(1))
        .toMap
      assert(got == want, s"seed $seed: incremental != full union-find")
    }
  }

  test("a graph wider than the round cap fails loudly instead of returning unconverged labels") {
    // 40-node path: propagation needs 40 rounds, star contraction more than 1
    val path = (0 until 39).map(i => (f"p$i%02d", f"p${i + 1}%02d")).toDF("src", "dst")
    val prop = intercept[IllegalArgumentException] {
      ConnectedComponents.runPropagation(spark, path, maxIterations = 25).collect()
    }
    assert(prop.getMessage.contains("did not converge within 25 rounds"))
    val star = intercept[IllegalArgumentException] {
      ConnectedComponents.run(spark, path, maxIterations = 1).collect()
    }
    assert(star.getMessage.contains("did not converge within 1 rounds"))
  }
}
