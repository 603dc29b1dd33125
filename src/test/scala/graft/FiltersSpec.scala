package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Ensemble
import graft.extract.EmbeddingClassifier
import graft.kg.{Filters, KgPipeline}

/** Document-selection filters (F1-F8), consolidation (A8), ensemble metrics
  * (G7), equity strata (G8) and the embedding-classifier shape (C2). */
class FiltersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("F1 dont_run_on: source = lowercased first dotted segment") {
    val df = Seq("Sabin.doc.1", "cclw.doc.2", "unfccc.party.3").toDF("conv_id")
    val kept = df.where(Filters.sourceAllowed($"conv_id", Seq("sabin", "af"))).collect().map(_.getString(0))
    assert(kept.toSeq == Seq("cclw.doc.2", "unfccc.party.3"))
    assert(df.where(Filters.sourceAllowed($"conv_id", Nil)).count() == 3)
  }

  test("F2 placeholder filter") {
    val df = Seq("sabin.x.placeholder", "sabin.real.doc", "cclw.placeholder").toDF("conv_id")
    val kept = df.where(Filters.notPlaceholder($"conv_id")).collect().map(_.getString(0))
    assert(kept.toSeq == Seq("sabin.real.doc", "cclw.placeholder"))
  }

  test("F4 translated-stem preference keeps translated variant when present") {
    val df = Seq("doc1", "doc1_translated_en", "doc2", "doc3_translated_fr").toDF("stem")
    val kept = Filters.preferTranslated(df).collect().map(_.getString(0)).sorted
    assert(kept.toSeq == Seq("doc1_translated_en", "doc2", "doc3_translated_fr"))
    val bare = df.select(Filters.removeTranslatedSuffix($"stem")).collect().map(_.getString(0))
    assert(bare.toSeq == Seq("doc1", "doc1", "doc2", "doc3"))
  }

  test("F4 translated-stem preference keeps a caller column named __rn") {
    val df = Seq(("doc1", 7), ("doc1_translated_en", 8), ("doc2", 9)).toDF("stem", "__rn")
    val kept = Filters.preferTranslated(df).collect().map(r => (r.getString(0), r.getInt(1))).sorted
    assert(kept.toSeq == Seq(("doc1_translated_en", 8), ("doc2", 9)))
  }

  test("F6 span validity split") {
    val m = Seq((0, 5, 10), (3, 3, 10), (8, 12, 10), (-1, 4, 10))
      .toDF("start", "end", "len")
    val (valid, bad) = Filters.splitValidSpans(m, col("len"))
    assert(valid.count() == 1 && bad.count() == 3)
  }

  test("F8 training-text exclusion anti-joins on content hash") {
    val passages = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text")
    val training = Seq(Tuple1("beta")).toDF("text")
    val kept = Filters.excludeTrainingTexts(passages, training).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("F8 training-text exclusion keeps a caller column named __h") {
    val passages = Seq((1L, "alpha", "h1"), (2L, "beta", "h2"), (3L, "gamma", "h3")).toDF("id", "text", "__h")
    val training = Seq(Tuple1("beta")).toDF("text")
    val kept = Filters.excludeTrainingTexts(passages, training).collect().map(r => (r.getLong(0), r.getString(2))).sorted
    assert(kept.toSeq == Seq((1L, "h1"), (3L, "h3")))
  }

  test("stringify lines: strip each line, join with spaces") {
    val df = Seq(Tuple1(Seq("  a line ", "another\t", " third"))).toDF("lines")
    assert(df.select(Filters.stringifyLines($"lines")).collect()(0).getString(0) == "a line another third")
  }

  test("A8 consolidation merges spans per passage id") {
    val p = Seq(
      ("id1", "same text", Seq((0, 4)), Map("k" -> "v")),
      ("id1", "same text", Seq((5, 9)), Map("k" -> "v")),
      ("id2", "other", Seq.empty[(Int, Int)], Map.empty[String, String])
    ).toDF("id", "text", "spans", "metadata")
    val got = KgPipeline.consolidatePassages(p).orderBy("id").collect()
    assert(got.length == 2)
    assert(got(0).getAs[scala.collection.Seq[Any]]("spans").length == 2)
  }

  test("G7 ensemble passage stats: ratio, disagreement, majority, stdev") {
    val preds = Seq(
      ("p1", "c1", true, 0.9), ("p1", "c2", false, 0.2), ("p1", "c3", true, 0.8),
      ("p2", "c1", true, 0.6), ("p2", "c2", false, 0.4)
    ).toDF("passage_id", "classifier_id", "positive", "probability")
    val got = Ensemble.passageStats(preds).collect().map(r => r.getString(0) -> r).toMap
    val p1 = got("p1")
    assert(p1.getAs[Double]("positive_ratio") == 2.0 / 3)
    assert(math.abs(p1.getAs[Double]("disagreement") - 2.0 / 3) < 1e-12)
    assert(p1.getAs[Double]("majority_vote") == 1.0)
    val p2 = got("p2")
    assert(p2.getAs[Double]("majority_vote") == 0.5) // 50-50 tie
    assert(math.abs(p2.getAs[Double]("disagreement") - 1.0) < 1e-12)
  }

  test("G8 equity strata: 'all' plus one group per stratum value") {
    val rows = Seq(("en", "src0", 10), ("en", "src1", 20), ("de", "src0", 30))
      .toDF("lang", "source", "v")
    val got = Ensemble
      .equityStrata(rows, Seq("lang", "source"))(_.agg(count(lit(1)).as("n"), sum($"v").as("s")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(("all", "all")) == ((3L, 60L)))
    assert(got(("lang", "en")) == ((2L, 30L)))
    assert(got(("source", "src0")) == ((2L, 40L)))
  }

  test("G8 equity strata keep a caller column named __m for the aggregate") {
    val rows = Seq(("en", "src0", 1), ("en", "src1", 2), ("de", "src0", 4)).toDF("lang", "source", "__m")
    val got = Ensemble
      .equityStrata(rows, Seq("lang", "source"))(_.agg(sum($"__m").as("s")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("all", "all") -> 7L, ("lang", "en") -> 3L, ("lang", "de") -> 4L,
      ("source", "src0") -> 5L, ("source", "src1") -> 2L))
  }

  test("G8 equity strata refuse a caller column named like one of their outputs, in any case") {
    val rows = Seq(("en", "src0", 1), ("de", "src0", 4)).toDF("lang", "source", "v")
    for (name <- Seq("stratum", "Stratum_Value")) {
      val e = intercept[IllegalArgumentException](
        Ensemble.equityStrata(rows.withColumn(name, lit("mine")), Seq("lang"))(_.agg(sum($"v").as("s"))))
      assert(e.getMessage.contains(name.toLowerCase), name)
    }
  }

  test("C2 embedding classifier emits whole-text spans with probability") {
    val passages = Seq(
      ("p1", 100, Array(1.0f, 0.0f)),
      ("p2", 50, Array(0.0f, 1.0f)),
      ("p3", 80, Array(0.9f, 0.1f))
    ).toDF("passage_id", "text_len", "embedding")
    val got = EmbeddingClassifier
      .predict(passages, "Q9", Array(1.0, 0.0), threshold = 0.65)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("p1", 0, 100), ("p3", 0, 80)))
  }
}
