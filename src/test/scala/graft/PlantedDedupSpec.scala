package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Dedup

/** Deterministic corpus of 50-word documents (murmur3-mixed words, no RNG)
  * with two planted near-dup tiers per base doc (i % 10 == 0):
  *   EASY (i+9): last word changed — 1 of 48 word-3-gram shingles differs,
  *     true Jaccard 47/49 = 0.959, (8,4)-LSH catch probability ~1 - 4e-9.
  *   HARD (i+8): last 5 words changed — 5 shingles differ, true Jaccard
  *     43/53 = 0.811, catch probability 1-(1-0.811^4)^8 = 0.989 — the tier
  *     that actually exercises the banding curve. */
object PlantedDedupCorpus {

  val WordsPerDoc = 50
  val Vocab = 5000

  def synthesize(spark: SparkSession, n: Long): DataFrame = {
    // murmur3 mixing per (doc, position): affine id arithmetic would make
    // ids congruent mod Vocab byte-identical (collapsing the corpus into
    // exact-dup clusters that are quadratic INSIDE each LSH bucket — real
    // pipelines run exact dedup first for the same reason)
    def words(idCol: Column) =
      transform(
        sequence(lit(0), lit(WordsPerDoc - 1)),
        j => concat(lit("w"), pmod(hash(idCol, j), lit(Vocab)).cast("string"))
      )
    val changed = when(col("id") % 10 === 9, 1).when(col("id") % 10 === 8, 5).otherwise(0)
    val baseId = col("id") - (col("id") % 10)
    val baseWords = words(baseId)
    val text = when(
      changed > 0,
      concat_ws(
        " ",
        concat(
          slice(baseWords, lit(1), lit(WordsPerDoc) - changed),
          transform(
            sequence(lit(1), changed), // guarded: only evaluated when changed > 0
            k => concat(lit("x"), col("id").cast("string"), lit("_"), k.cast("string"))
          )
        )
      )
    ).otherwise(concat_ws(" ", words(col("id"))))
    spark.range(n).select(col("id").as("doc_id"), text.as("text"))
  }
}

/** The planted near-dup tiers make the dedup operators' answers analytic:
  * the corpus shape itself, MinHash-LSH recall on the easy tier, and the
  * exact duplicated-substring ranges of every family. */
class PlantedDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 1000L
  private lazy val docs = PlantedDedupCorpus.synthesize(spark, n).cache()

  test("planted dedup corpus: tiers have the documented shingle Jaccard") {
    assert(docs.count() == n)
    val texts = docs.where($"doc_id".isin(0L, 8L, 9L, 3L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingleSet(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def jac(a: String, b: String) = {
      val (x, y) = (shingleSet(a), shingleSet(b))
      (x & y).size.toDouble / (x | y).size
    }
    // easy tier: last word changed -> 47/49
    assert(math.abs(jac(texts(0L), texts(9L)) - 47.0 / 49) < 1e-9)
    // hard tier: last 5 words changed -> 43/53
    assert(math.abs(jac(texts(0L), texts(8L)) - 43.0 / 53) < 1e-9)
    // unrelated docs are far below any threshold
    assert(jac(texts(0L), texts(3L)) < 0.1)
    // deterministic
    val again = PlantedDedupCorpus.synthesize(spark, n)
    assert(docs.exceptAll(again).count() == 0)
  }

  test("minhashPairs at (8,4) bands catches every easy-tier pair") {
    val found = Dedup
      .minhashPairs(docs, threshold = 0.5, bands = 8, rowsPerBand = 4)
      .select("doc_a", "doc_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    // catch probability 1 - 4e-9 per pair: a miss means the banding broke
    val easy = (0L until n by 10).map(i => (i, i + 9)).toSet
    val missed = easy -- found
    assert(missed.isEmpty, s"${missed.size} of ${easy.size} easy-tier pairs missed, e.g. ${missed.take(3)}")
  }

  test("duplicatedWindowRanges(width = 20) returns each family's shared prefix exactly") {
    // every family (base, +8, +9) shares a 45-word prefix and base/+9 share
    // 49 words, so the ranges are exactly base [0,49), +9 [0,49), +8 [0,45)
    val ranges = Dedup.duplicatedWindowRanges(docs, width = 20)
    val agg = ranges
      .agg(
        count(lit(1)),
        sum(when($"dup_start" === 0, 1).otherwise(0)),
        sum($"dup_len"))
      .collect()(0)
    assert(agg.getLong(0) == 3 * (n / 10), "one range per planted family member")
    assert(agg.getLong(1) == agg.getLong(0), "every range starts at token 0")
    assert(agg.getLong(2) == (49L + 49L + 45L) * (n / 10), "total dup_len")
  }
}
