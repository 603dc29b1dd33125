package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Sampling
import graft.kg.{Aggregations, ConceptJson, KgPipeline, Linking}

/** G1 arrays, alignment invariant, G4 parse, G5 span grouping, G9 seeded
  * sampling, J7/O4 surface linking, S10 concept JSON loading. */
class AggregationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mentions = KgPipeline.mentions(spark, TestSpark.sf0001).toDF().cache()

  test("G1 per-turn concept arrays: spans sorted by start, counts match") {
    val perTurn = Aggregations.mentionsPerTurn(mentions)
    val row = perTurn.orderBy(desc("n_spans")).limit(1).collect()(0)
    val arr = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("concepts")
    assert(arr.length == row.getAs[Long]("n_spans"))
    val starts = arr.map(_.getInt(0))
    assert(starts == starts.sorted)
    assert(perTurn.agg(sum("n_spans")).collect()(0).getLong(0) == mentions.count())
  }

  test("G1 alignment invariant: equal turn coverage passes, missing turns flagged") {
    val aligned = Seq(
      ("clf1", "c1", 0), ("clf1", "c1", 1), ("clf2", "c1", 0), ("clf2", "c1", 1)
    ).toDF("classifier_id", "conv_id", "turn_idx")
    assert(Aggregations.alignmentViolations(aligned).count() == 0)
    val misaligned = aligned.union(Seq(("clf1", "c2", 0), ("clf2", "c2", 0), ("clf2", "c2", 1))
      .toDF("classifier_id", "conv_id", "turn_idx"))
    val bad = Aggregations.alignmentViolations(misaligned).collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("c2"))
  }

  test("G4 model-field parse: new format only, None parts and bad ids rejected") {
    assert(Aggregations.parseModelField("Q123:abcdefgh:jk234567") == Some(("Q123", "abcdefgh", "jk234567")))
    assert(Aggregations.parseModelField("Q123:None:jk234567").isEmpty)
    assert(Aggregations.parseModelField("""KeywordClassifier("x")""").isEmpty)
    assert(Aggregations.parseModelField("Q123:abcdefgh").isEmpty)
    assert(Aggregations.parseModelField("q123:abcdefgh:jk234567").isEmpty) // bad wikibase id
    assert(Aggregations.parseModelField("Q123:abcdefg1:jk234567").isEmpty) // '1' not in alphabet
  }

  test("G2 parent_concept_ids_flat: comma-joined WITH trailing comma (aggregate.py:628-631)") {
    import graft.core.Concept
    // ",".join([]) + "," == "," for no parents; order preserved otherwise
    assert(Concept.normalized("Q9", "x").parentConceptIdsFlat == ",")
    assert(Concept.normalized("Q9", "x", subconceptOf = Seq("Q1")).parentConceptIdsFlat == "Q1,")
    assert(Concept.normalized("Q9", "x", subconceptOf = Seq("Q3", "Q1", "Q2")).parentConceptIdsFlat == "Q3,Q1,Q2,")
    // model string round-trips through the G4 parser
    val c = graft.kg.DemoConceptStore.concepts.head
    val m = graft.kg.DemoConceptStore.modelString(c)
    assert(Aggregations.parseModelField(m) == Some((c.wikibaseId, c.id, graft.kg.DemoConceptStore.classifierId(c))))
  }

  test("G5 spans_v2: identical (start,end) intervals group their concepts") {
    val m = Seq(
      ("c1", 0, 5, 9, "Q1"), ("c1", 0, 5, 9, "Q2"), ("c1", 0, 7, 12, "Q1")
    ).toDF("conv_id", "turn_idx", "start", "end", "concept_id")
    val got = Aggregations.spansV2(m).orderBy("start").collect()
    assert(got.length == 2)
    assert(got(0).getAs[scala.collection.Seq[String]]("concepts_v2") == Seq("Q1", "Q2"))
  }

  test("G9 seeded balanced sampling: quota per stratum, reproducible, nulls dropped") {
    val df = (1 to 200)
      .map(i => (i.toLong, if (i % 20 == 0) null else s"s${i % 4}"))
      .toDF("id", "stratum")
    val a = Sampling.balancedSample(df, Seq("stratum"), sampleSize = 40, seed = 7L)
    val b = Sampling.balancedSample(df, Seq("stratum"), sampleSize = 40, seed = 7L)
    assert(a.collect().map(_.getLong(0)).sorted.toSeq == b.collect().map(_.getLong(0)).sorted.toSeq)
    val perStratum = a.groupBy("stratum").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStratum.keySet == Set("s0", "s1", "s2", "s3"))
    assert(perStratum.values.forall(_ == 10))
    // top-up path: 42 = 4*10 + 2 extra
    val c = Sampling.balancedSample(df, Seq("stratum"), sampleSize = 42, seed = 7L)
    assert(c.count() == 42)
    // undersized stratum: its deficit is topped up from other strata
    // (sampling.py computes missing_rows from the actual result size)
    val skewed = ((1 to 100).map(i => (i.toLong, s"s${i % 2}")) ++ Seq((900L, "rare")))
      .toDF("id", "stratum")
    val d = Sampling.balancedSample(skewed, Seq("stratum"), sampleSize = 30, seed = 7L)
    assert(d.count() == 30) // quota 10/stratum, 'rare' has 1 row, 9 topped up
  }

  test("G9 balanced sampling keeps caller columns named __stratum, __r and __rn") {
    val df = (1 to 200).map(i => (i.toLong, s"s${i % 4}")).toDF("id", "stratum")
    val wide = df.withColumn("__stratum", concat(lit("x"), $"id")).withColumn("__r", $"id" * 2).withColumn("__rn", $"id" + 1000)
    val want = Sampling.balancedSample(df, Seq("stratum"), sampleSize = 42, seed = 7L).collect().map(_.getLong(0)).sorted
    val got = Sampling.balancedSample(wide, Seq("stratum"), sampleSize = 42, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == want.toSeq.map(i => (i, s"x$i", i * 2, i + 1000)))
  }

  test("G10 train balancing keeps a caller column named __rn, in any case") {
    val passages = (1 to 50).map(i => (i.toLong, if (i % 5 == 0) "a scan" else "text")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.limitAndBalance(df, $"text".contains("scan"), maxSamples = 12L, orderCol = "doc_id")
    val want = ids(passages).collect().map(_.getLong(0)).sorted.toSeq
    for (name <- Seq("__rn", "__RN")) {
      val got = ids(passages.withColumn(name, $"doc_id" * 3)).collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(got.toSeq == want.map(i => (i, i * 3)), name)
    }
  }

  test("G10 train balancing refuses a caller column named is_positive, in any case") {
    val passages = (1 to 10).map(i => (i.toLong, "a scan")).toDF("doc_id", "text")
    for (name <- Seq("is_positive", "IS_POSITIVE")) {
      val e = intercept[IllegalArgumentException](
        Sampling.limitAndBalance(passages.withColumn(name, lit("caller")), $"text".contains("scan"), 4L, "doc_id"))
      assert(e.getMessage.contains("is_positive"), name)
    }
  }

  test("G1 alignment: same turn COUNT but different turn SET is a violation") {
    val cov = Seq(
      ("clf1", "c1", 0), ("clf1", "c1", 1), ("clf1", "c1", 2),
      ("clf2", "c1", 0), ("clf2", "c1", 1), ("clf2", "c1", 3) // same count, different set
    ).toDF("classifier_id", "conv_id", "turn_idx")
    assert(Aggregations.alignmentViolations(cov).collect().map(_.getString(0)).toSeq == Seq("c1"))
    // a classifier missing a conversation entirely is also a violation
    val cov2 = Seq(
      ("clf1", "c1", 0), ("clf2", "c1", 0), ("clf1", "c2", 0)
    ).toDF("classifier_id", "conv_id", "turn_idx")
    assert(Aggregations.alignmentViolations(cov2).collect().map(_.getString(0)).toSeq == Seq("c2"))
  }

  test("J7/O4 surface linking: preferred label wins, else most-common concept") {
    val m = Seq(
      ("merge", "Q12"), ("merge", "Q12"), // 'merge' is Q12's preferred label
      ("scan", "Q10"), ("scan", "Q10"), ("scan", "Q10") // alternative of Q10
    ).toDF("surface", "concept_id")
    val got = Linking
      .linkSurfaces(spark, m, KgPipeline.defaultConcepts)
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(got("merge") == (("Q12", "preferred")))
    assert(got("scan") == (("Q10", "alternative")))
  }

  test("linking over real extracted mentions: every dictionary surface resolves") {
    val linked = Linking.linkSurfaces(spark, mentions, KgPipeline.defaultConcepts)
    // overlap-merged spans can create composite surfaces outside the
    // dictionary (e.g. the union of "sort-merge" and "merge join"); every
    // surface that IS a dictionary label must link
    val dictLabels = KgPipeline.defaultConcepts.flatMap(_.allLabels.map(_.toLowerCase)).toSet
    val surfaces = mentions.select(lower(col("surface"))).distinct().collect().map(_.getString(0))
    val expected = surfaces.count(dictLabels)
    assert(linked.count() == expected)
    assert(expected >= surfaces.length - 2 && expected > 10)
  }

  test("J7 end-to-end: every mention gets a canonical component id") {
    val canon = KgPipeline.canonicalizeMentions(spark, mentions).cache()
    assert(canon.count() == mentions.count())
    assert(canon.where(col("canonical_id").isNull).count() == 0)
    val byId = canon.select("concept_id", "canonical_id").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // Q10..Q18 cluster under the relational-operator/runtime family root
    assert(byId("Q11") == byId("Q10") && byId("Q15") == byId("Q10"))
    // Q70/Q80 family stays separate
    assert(!byId.get("Q70").contains(byId("Q10")))
  }

  test("multi-classifier mentions: two real passes, aligned coverage, misalignment flagged") {
    import graft.kg.Transcripts
    val m = KgPipeline.multiClassifierMentions(spark, TestSpark.sf0001).cache()
    // genuinely multi-classifier: keyword ids per concept + one embedding id
    assert(m.select("classifier_id").distinct().count() >= 2)
    assert(m.where(col("n_mentions") <= 0).count() == 0)
    // both classifiers ran over the same turn set -> zero alignment violations
    val turns = KgPipeline
      .eligibleTurns(Transcripts.read(spark, TestSpark.sf0001))
      .select("conv_id", "turn_idx")
      .cache()
    val coverage = Seq("kwpass", "embpass")
      .map(c => turns.withColumn("classifier_id", lit(c)))
      .reduce(_ union _)
    assert(Aggregations.alignmentViolations(coverage).count() == 0)
    // drop one turn from one classifier -> exactly that conversation is flagged
    val first = turns.limit(1).collect()(0)
    val broken = coverage.where(
      !(col("classifier_id") === "embpass" &&
        col("conv_id") === first.getString(0) && col("turn_idx") === first.getInt(1))
    )
    val flagged = Aggregations.alignmentViolations(broken).collect().map(_.getString(0)).toSeq
    assert(flagged == Seq(first.getString(0)))
    m.unpersist(); turns.unpersist()
  }

  test("concept counts keyed-map grain (index.py:632-637): map contract matches the long format") {
    val m = KgPipeline.mentions(spark, TestSpark.sf0001).toDF()
    val mapped = KgPipeline.conceptCountsMap(spark, m).collect()
    val long = KgPipeline
      .conceptCounts(spark, m)
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }
    assert(mapped.length == long.size)
    mapped.foreach { r =>
      val got = r.getMap[String, Long](1).toMap
      assert(got == long(r.getString(0)), s"conv ${r.getString(0)}")
      got.keys.foreach(k => assert(k.matches("^Q\\d+:.+"), s"key shape: $k"))
    }
  }

  test("demo concept store parity with the JSON resource the oracle tools read") {
    val p = Paths.get("/root/repo/src/test/resources/demo_concepts.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(p))
    import scala.jdk.CollectionConverters._
    val fromJson = root.asScala.toVector.map(n => ConceptJson.parse(n.toString))
    assert(fromJson == graft.kg.DemoConceptStore.concepts,
      "demo_concepts.json drifted from DemoConceptStore — regenerate ref_mentions fixtures")
  }

  test("S10 concept JSON loader: reference Q787 fixture round-trips validators") {
    val p = Paths.get("/root/reference/tests/fixtures/data/processed/concepts/Q787.json")
    assume(Files.exists(p), "reference fixture not present")
    val c = ConceptJson.loadFile(p)
    assert(c.wikibaseId == "Q787")
    assert(c.preferredLabel == "forestry sector")
    assert(c.alternativeLabels == c.alternativeLabels.distinct.sorted)
    assert(!c.alternativeLabels.contains(c.preferredLabel))
    assert(c.subconceptOf.nonEmpty)
    // the loaded concept drives the matcher end-to-end
    val matcher = new graft.extract.KeywordMatcher(c)
    assert(matcher.findSpans("investment in the forestry sector is growing").nonEmpty)
  }
}
