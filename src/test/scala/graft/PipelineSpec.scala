package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Metrics
import graft.kg.{Checkpoint, ConnectedComponents, KgPipeline, Transcripts}

/** End-to-end pipeline behavior on sf0.001: derivation invariants, stable
  * ordering, checkpoint resume, connected components, distributed metrics. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = TestSpark.sf0001

  test("transcripts derivation: schema, en-only, unique (conv_id, turn_idx)") {
    val t = Transcripts.read(spark, dir).cache()
    assert(t.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(t.count() == docs.where($"lang" === "en").count())
    assert(t.groupBy("conv_id", "turn_idx").count().where($"count" > 1).count() == 0)
  }

  test("stable turn ordering: turn_seq dense 0..n-1 per conversation, ordered by turn_idx") {
    val ordered = KgPipeline.orderedTurns(Transcripts.read(spark, dir))
    val bad = ordered
      .groupBy("conv_id")
      .agg(
        min("turn_seq").as("mn"),
        max("turn_seq").as("mx"),
        count(lit(1)).as("n"),
        // monotone: turn_seq order must equal turn_idx order
        (count(lit(1)) === countDistinct("turn_idx")).as("idx_unique")
      )
      .where($"mn" =!= 0 || $"mx" =!= $"n" - 1 || !$"idx_unique")
    assert(bad.count() == 0)
  }

  test("mentions reference known text: gazetteer extraction over a literal turn") {
    val turns = Seq(
      ("c.conv.1", 0, "user", "the table scan beats a full table scan and a sort table sort", None: Option[String], new java.sql.Timestamp(0L))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val m = KgPipeline.extractMentions(spark, turns, KgPipeline.defaultConcepts).collect()
    val q10 = m.filter(_.concept_id == "Q10").map(x => (x.start, x.end, x.surface)).sortBy(_._1)
    // "table scan" at 4, "full table scan" at 23, both merged per concept
    assert(q10.toSeq == Seq((4, 14, "table scan"), (23, 38, "full table scan")))
    // Q13 "sort": "sort table" negative kills the first sort; final "sort" survives
    val q13 = m.filter(_.concept_id == "Q13").map(_.surface).toSeq
    assert(q13 == Seq("sort"))
    assert(m.forall(x => x.surface.length == x.end - x.start))
  }

  test("checkpoint: killed run resumes at bucket granularity with no recompute or loss") {
    val out = Files.createTempDirectory("graft_ckpt").toString
    val turns = KgPipeline.eligibleTurns(Transcripts.read(spark, dir))
    def stage(df: org.apache.spark.sql.DataFrame) =
      KgPipeline
        .extractMentions(spark, df, KgPipeline.defaultConcepts)
        .toDF()
        .join(df.select("conv_id", "turn_idx", "bucket").distinct(), Seq("conv_id", "turn_idx"))

    // simulate a run killed after finishing buckets 0..31 of 64
    val firstHalf = turns
      .withColumn("bucket", Checkpoint.bucketCol("conv_id"))
      .where($"bucket" < 32)
      .drop("bucket")
    val n1 = Checkpoint.runResumable(spark, firstHalf, "conv_id", out, "mentions", "run1")(stage)
    assert(n1 > 0 && n1 <= 32)

    // resume with the FULL input: only the remaining buckets run
    val n2 = Checkpoint.runResumable(spark, turns, "conv_id", out, "mentions", "run2")(stage)
    assert(n2 > 0)
    // third run: nothing left
    val n3 = Checkpoint.runResumable(spark, turns, "conv_id", out, "mentions", "run3")(stage)
    assert(n3 == 0)

    // crash-window idempotence: simulate a run that wrote a bucket's data
    // but died before the lineage commit — delete that bucket's lineage rows
    // and re-run; the bucket is reprocessed via partition overwrite with NO
    // duplicate rows
    val lineageDf = spark.read.parquet(Checkpoint.lineagePath(out))
    val dropBucket = lineageDf.select("bucket").orderBy("bucket").limit(1).collect()(0).getInt(0)
    val pruned = lineageDf.where($"bucket" =!= dropBucket).cache()
    pruned.count()
    pruned.write.mode("overwrite").parquet(Checkpoint.lineagePath(out))
    val n4 = Checkpoint.runResumable(spark, turns, "conv_id", out, "mentions", "run4")(stage)
    assert(n4 == 1)

    // resumed output == clean one-shot output
    val resumed = spark.read.parquet(Checkpoint.dataPath(out))
      .select("conv_id", "turn_idx", "concept_id", "start", "end")
    val oneShot = KgPipeline
      .extractMentions(spark, turns, KgPipeline.defaultConcepts)
      .toDF()
      .select("conv_id", "turn_idx", "concept_id", "start", "end")
    assert(resumed.exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(resumed).count() == 0)

    // lineage has one ok row per bucket
    val lineage = spark.read.parquet(Checkpoint.lineagePath(out))
    assert(lineage.select("bucket").distinct().count() == lineage.count())
  }

  test("checkpoint: a source-row update invalidates exactly its bucket (F3 timestamp predicate)") {
    val out = Files.createTempDirectory("graft_ckpt_ts").toString
    val turns = KgPipeline.eligibleTurns(Transcripts.read(spark, dir)).cache()
    def stage(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "text", "bucket")

    // full run with staleness tracking on: every bucket completes
    val n1 = Checkpoint.runResumable(
      spark, turns, "conv_id", out, "s", "run1", lastModifiedCol = Some("ts"))(stage)
    assert(n1 > 0)
    // unchanged source: nothing to do
    val n2 = Checkpoint.runResumable(
      spark, turns, "conv_id", out, "s", "run2", lastModifiedCol = Some("ts"))(stage)
    assert(n2 == 0)

    // a re-extraction touches ONE conversation: its ts moves forward and its
    // text changes — exactly that conversation's bucket must rerun
    val someConv = turns.select("conv_id").orderBy("conv_id").limit(1).collect()(0).getString(0)
    val updated = turns
      .withColumn("ts", when($"conv_id" === someConv, $"ts" + expr("INTERVAL 1 DAY")).otherwise($"ts"))
      .withColumn("text", when($"conv_id" === someConv, concat($"text", lit(" UPDATED"))).otherwise($"text"))
    val n3 = Checkpoint.runResumable(
      spark, updated, "conv_id", out, "s", "run3", lastModifiedCol = Some("ts"))(stage)
    val staleBucket = turns
      .where($"conv_id" === someConv)
      .select(Checkpoint.bucketCol("conv_id")).collect()(0).getInt(0)
    assert(n3 == 1)

    // the rewritten bucket carries the updated text; others are untouched
    val data = spark.read.parquet(Checkpoint.dataPath(out))
    assert(data.where($"conv_id" === someConv && !$"text".endsWith(" UPDATED")).count() == 0)
    assert(data.where($"text".endsWith(" UPDATED") && $"bucket" =!= staleBucket).count() == 0)
    // and a fourth run on the updated source is again a no-op
    val n4 = Checkpoint.runResumable(
      spark, updated, "conv_id", out, "s", "run4", lastModifiedCol = Some("ts"))(stage)
    assert(n4 == 0)
  }

  test("connected components: known graph, two components + isolated pair") {
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), // chain
      ("x", "y"), // pair
      ("m", "m") // self loop
    ).toDF("src", "dst")
    val got = ConnectedComponents
      .run(spark, edges)
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "x" -> "x", "y" -> "x", "m" -> "m"))
  }

  test("canonical entities: surfaces cluster with their concept families") {
    val cc = KgPipeline.canonicalEntities(spark).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // Q10..Q18 + Q50/Q60 all connect through SUBCONCEPT_OF/RELATED_TO => one component rooted at Q10
    assert(cc("Q50") == cc("Q10") && cc("Q60") == cc("Q10") && cc("surface:spark") == cc("Q10"))
    // Q70/Q80 form their own component
    assert(cc("Q70") == cc("Q80") && cc("Q70") != cc("Q10"))
    assert(cc("surface:customer") == cc("Q70"))
  }

  test("distributed span-level metrics equal the local implementation") {
    import graft.core.TextSpan
    val gold = Vector(
      Vector(TextSpan(0, 10, "Q1"), TextSpan(20, 30, "Q1")),
      Vector.empty[TextSpan],
      Vector(TextSpan(5, 9, "Q1"))
    )
    val pred = Vector(
      Vector(TextSpan(0, 10, "Q1")),
      Vector.empty[TextSpan],
      Vector(TextSpan(6, 9, "Q1"), TextSpan(40, 45, "Q1"))
    )
    val local = Metrics.countSpanLevel(gold, pred, threshold = 0.5)
    def df(d: Vector[Vector[TextSpan]]) =
      d.zipWithIndex
        .map { case (spans, i) => (i.toString, spans.map(s => (s.start, s.end))) }
        .toDF("passage_id", "raw")
        .select(col("passage_id"), expr("transform(raw, x -> named_struct('start', x._1, 'end', x._2))").as("spans"))
    val row = Metrics.spanLevelDF(df(gold), df(pred), threshold = 0.5).collect()(0)
    assert(
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
        (local.tp, local.fp, local.tn, local.fn)
    )
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("triples sink MERGE-idempotency: overlapping re-runs leave exactly the distinct triple set") {
    // Cypher MERGE semantics (update_neo4j.py:107-124): re-writing a slice of
    // the input must upsert, never duplicate. The sink emulates MERGE with
    // conv-bucket dynamic-partition overwrite: any bucket written is complete,
    // so re-running overlapping buckets replaces them idempotently.
    val sinkDir = Files.createTempDirectory("triples_sink").toString
    val nB = 16
    // underscored conv ids: a sink that parsed the conversation back out of
    // subj strings (instead of bucketing on the real conv_id column) would
    // collapse these and mis-bucket — regression for exactly that bug
    val turns = KgPipeline
      .eligibleTurns(Transcripts.read(spark, dir))
      .withColumn("conv_id", concat($"conv_id", lit("_u")))
      .withColumn("bucket", Checkpoint.bucketCol("conv_id", nB))
      .cache()
    def write(sel: org.apache.spark.sql.DataFrame): Unit =
      KgPipeline.writeTriplesMerge(spark, sel, KgPipeline.defaultConcepts, sinkDir, nB)
    write(turns.where($"bucket" < 10)) // run 1: conv buckets 0..9
    write(turns.where($"bucket" >= 5)) // run 2: 5..15 — overlaps 5..9
    val stored = spark.read.parquet(sinkDir).select("subj", "pred", "obj")
    val expected = KgPipeline.triplesFromTurns(spark, turns, KgPipeline.defaultConcepts)
    assert(stored.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(stored).count() == 0)
    turns.unpersist()
  }

  test("fast triple path equals the independent mentions-based path on edge-case turns") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val ts = new java.sql.Timestamp(0L)
    val corpus = Seq(
      ("c.conv.1", 0, "tool", "table scan from a tool call", Some("grep"), ts),
      ("c.conv.1", 1, "user", "   ", None, ts),
      ("c.conv.1", 2, "user", "a sort table and a table scan", None, ts),
      ("c.conv.1", 3, "assistant", "nothing to see here", None, ts),
      ("c.conv.1", 4, "assistant", "\uD834\uDD1E clef, then a full table scan", None, ts),
      ("c_conv_2", 0, "user", "sort the join", None, ts),
      ("c_conv_2", 1, "user", null, None, ts)
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val concepts = KgPipeline.defaultConcepts
    val want = StructType(Seq("subj", "pred", "obj").map(StructField(_, StringType, nullable = true)))
    // both on the eligible turns and on the raw ones (null and blank text,
    // tool role): the two paths must agree whatever the caller passes
    for (turns <- Seq(KgPipeline.eligibleTurns(corpus), corpus)) {
      val fast = KgPipeline.triplesFromTurns(spark, turns, concepts)
      val slow = KgPipeline.triplesFrom(spark, turns, KgPipeline.extractMentions(spark, turns, concepts).toDF(), concepts)
      assert(fast.schema == want)
      assert(fast.count() == slow.count())
      assert(fast.exceptAll(slow).count() == 0)
      assert(slow.exceptAll(fast).count() == 0)
    }
    // the cases are live: Q13's negative label drops the "sort table" sort
    // while a plain "sort" fires, the supplementary-plane turn still
    // matches, and the underscored conversation is kept whole in subj
    val edges = KgPipeline
      .triplesFromTurns(spark, KgPipeline.eligibleTurns(corpus), concepts)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(edges(("c.conv.1_2", "MENTIONS_CONCEPT", "Q10")))
    assert(!edges(("c.conv.1_2", "MENTIONS_CONCEPT", "Q13")))
    assert(edges(("c_conv_2_0", "MENTIONS_CONCEPT", "Q13")))
    assert(edges(("c.conv.1_4", "MENTIONS_CONCEPT", "Q10")))
    assert(edges(("c_conv_2", "HAS_PASSAGE", "c_conv_2_0")))
    assert(!edges.exists(e => e._1 == "c.conv.1_3" && e._2 == "MENTIONS_CONCEPT"))
    assert(!edges.exists(e => Set("c.conv.1_0", "c.conv.1_1", "c_conv_2_1")(e._3)))
  }

  test("synthetic transcripts generator: deterministic, skewed, schema-complete") {
    val t1 = Transcripts.synthesize(spark, 10000, 1000).cache()
    val t2 = Transcripts.synthesize(spark, 10000, 1000)
    assert(t1.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert(t1.exceptAll(t2).count() == 0) // deterministic
    val sizes = t1.groupBy("conv_id").count()
    val top = sizes.orderBy($"count".desc).limit(1).collect()(0).getLong(1)
    val med = sizes.agg(expr("percentile_approx(count, 0.5)")).collect()(0).getLong(0)
    assert(top > 5 * med, s"expected skewed conversations, top=$top median=$med")
  }

  test("concept-store swap drill: add/delete/redirect rebuild the whole surface (S10)") {
    import graft.kg.DemoConceptStore
    val swapped = DemoConceptStore.swappedConcepts
    val ids = swapped.map(_.wikibaseId).toSet
    assert(ids.contains("Q90") && !ids.contains("Q17") && !ids.contains("Q80"))

    // extraction rebuilt from the swapped store: the added concept fires,
    // the deleted one cannot, and the redirected surface lands on the target
    val m = KgPipeline.mentions(spark, dir, swapped).toDF().cache()
    val byConcept = m.groupBy("concept_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byConcept.getOrElse("Q90", 0L) > 0, "added concept Q90 (filter) must produce mentions")
    assert(!byConcept.contains("Q17"), "deleted concept Q17 must produce none")
    assert(!byConcept.contains("Q80"), "retired id Q80 must produce none")
    val rowSurfaces = m.where(lower(col("surface")) === "row").select("concept_id").distinct().collect().map(_.getString(0)).toSet
    assert(rowSurfaces == Set("Q70"), s"redirected surface 'row' must mention the redirect target, got $rowSurfaces")

    // canonicalization rebuilt from the swapped store: surface:row joins
    // Q70's component; Q17/Q80 vanish from the graph
    val comp = KgPipeline.canonicalEntities(spark, swapped).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp.contains("surface:filter") && comp("surface:filter") == comp("Q90"))
    assert(comp("surface:row") == comp("Q70"))
    assert(!comp.contains("Q17") && !comp.contains("Q80"))

    // the default store is untouched by the swap (no shared mutable state)
    val defaultIds = KgPipeline.mentions(spark, dir).toDF().select("concept_id").distinct().collect().map(_.getString(0)).toSet
    assert(defaultIds.contains("Q17") && !defaultIds.contains("Q90"))
    m.unpersist()
  }
}
