package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G9 balanced sampling (/root/reference/knowledge_graph/sampling.py:12-106):
  * drop rows with null/"None" strata, take an equal quota from every valid
  * stratum, then top up the shortfall from the leftovers at random. Seeded
  * `rand` makes a run reproducible; the oracle-checked query variant
  * (g9_balanced_sample) orders by a content hash instead so a second engine
  * can reproduce it exactly. */
object Sampling {

  def balancedSample(
      df: DataFrame,
      strataCols: Seq[String],
      sampleSize: Int,
      seed: Long = 42L
  ): DataFrame = {
    val valid = strataCols.foldLeft(df) { (d, c) =>
      d.where(col(c).isNotNull && col(c) =!= "None")
    }
    val key = concat_ws("", strataCols.map(col): _*)
    val Seq(stratum, r, rn) = WorkingColumns(df, "__stratum", "__r", "__rn")
    val withKey = valid.withColumn(stratum, key).withColumn(r, rand(seed))

    val nStrata = withKey.select(stratum).distinct().count()
    if (nStrata == 0) return df.limit(0)
    val quota = (sampleSize / nStrata).toInt

    val w = Window.partitionBy(col(stratum)).orderBy(col(r))
    val ranked = withKey.withColumn(rn, row_number().over(w)).cache()
    val base = ranked.where(col(rn) <= quota)

    // shortfall from the ACTUAL base size (sampling.py:86-101 computes
    // missing_rows from len(result)): undersized strata contribute fewer
    // than quota rows, and the top-up must make up for that too
    val shortfall = sampleSize - base.count()
    val result =
      if (shortfall <= 0) base
      else {
        // top-up: random rows from the remainder, global random order
        val leftovers = ranked
          .where(col(rn) > quota)
          .orderBy(col(r), col(rn))
          .limit(shortfall.toInt)
        base.unionByName(leftovers)
      }
    result.drop(stratum, r, rn)
  }

  /** Temperature-based source mixing — the multinomial data-mixing step of
    * LLM corpus assembly (sample source s with probability ∝ n_s^T, T=0.5
    * here: up-weights small sources relative to proportional sampling, the
    * standard multilingual/multi-source rebalancing). A fixed `budget` of
    * documents is allocated across sources by the LARGEST-REMAINDER method
    * over fixed-point weights, then filled per-source in deterministic
    * content-hash order:
    *
    *   q_s  = floor(sqrt(n_s) * 2^20)        (per-row IEEE sqrt — exact in
    *                                          any engine; no float SUMS)
    *   base = (budget * q_s) div W,  W = Σ q_s  (exact long arithmetic)
    *   +1 to the `budget - Σ base` sources with the largest remainder
    *   (budget * q_s) mod W, ties broken by source name
    *
    * Quotas are capped at n_s (a tiny source can't oversubscribe). Every
    * aggregate is over the ~|sources| count table (broadcast back to the
    * corpus); the only corpus-sized work is one hash-ranked row_number per
    * source — a single shuffle on source, AQE-splittable if one source
    * dominates. Selection order is md5(doc_id) — reproducible by any engine,
    * unlike a seeded PRNG. */
  def temperatureMix(docs: DataFrame, budget: Long): DataFrame = {
    val counts = docs
      .groupBy("source")
      .agg(count(lit(1)).as("n"))
      .withColumn("q", floor(sqrt(col("n")) * (1L << 20)).cast("long"))
    // all aggregates below are over the tiny per-source table
    val wTot = Window.partitionBy()
    val quotas = counts
      .withColumn("w", sum(col("q")).over(wTot))
      .withColumn("base", expr("(CAST(" + budget + " AS BIGINT) * q) div w"))
      .withColumn("rem", expr("(CAST(" + budget + " AS BIGINT) * q) % w"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(wTot))
      .withColumn("rr", row_number().over(Window.partitionBy().orderBy(col("rem").desc, col("source"))))
      .withColumn("quota", least(col("n"), col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L)))
      .select("source", "quota")
    val w = Window.partitionBy("source").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("__rn", row_number().over(w))
      .join(broadcast(quotas), Seq("source"))
      .where(col("__rn") <= col("quota"))
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic train/val/test hash split. Membership is a pure function
    * of (salt, key) — a portable md5 hash bucketed into ppm-weighted bands —
    * NOT a seeded PRNG or `randomSplit`: growing the corpus never reassigns
    * an existing row (randomSplit re-draws everything when the input
    * changes — a silent eval-contamination source across ingest epochs),
    * re-runs and other engines reproduce the assignment bit-exactly, and
    * the whole operator is one map-only projection at any corpus size.
    * `salt` makes independent splits of the same corpus possible (fold
    * assignment, ablation re-splits). Weights are exact ppm longs summing
    * to 1e6 — no float boundary can drift between engines. */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Long)],
      salt: String = ""
  ): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"split weights must be positive: $splits")
    require(splits.map(_._2).sum == 1000000L, s"split ppm weights must sum to 1e6: $splits")
    val h = conv(substring(md5(concat_ws(":", lit(salt), col(keyCol).cast("string"))), 1, 15), 16, 10)
      .cast("long") % 1000000L
    val cum = splits.scanLeft(0L)(_ + _._2).tail
    val label = splits.zip(cum).reverse.foldLeft(lit(splits.last._1)) {
      case (acc, ((name, _), hi)) => when(h < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** G10 eval-set exclusion (operations/train.py:101-120): drop training
    * passages whose TEXT appears in the evaluation set — a broadcast-able
    * anti-join on text (the reference's set-membership filter). */
  def deduplicateAgainstEval(training: DataFrame, evaluation: DataFrame): DataFrame =
    training.join(evaluation.select("text").distinct(), Seq("text"), "left_anti")

  /** G10 train balancing (operations/train.py:122-178): cap at `maxSamples`
    * aiming for a half/half positive/negative split; if a perfect split
    * isn't possible, take all of the smaller group and fill the remainder
    * from the larger one (positives first, like the reference). The
    * reference takes "the first k" in list order; a distributed engine must
    * NAME that order — `orderCol` (the quota arithmetic is identical). The
    * two group counts are a bounded model artifact collected to the driver;
    * the selection itself is a per-group row_number window. */
  def limitAndBalance(
      passages: DataFrame,
      isPositive: org.apache.spark.sql.Column,
      maxSamples: Long,
      orderCol: String
  ): DataFrame = {
    WorkingColumns.requireAbsent(passages, "limitAndBalance", "is_positive")
    // the reference's positivity test (p.spans non-empty) can never be null;
    // an arbitrary caller predicate can — treat null as negative rather than
    // NPE-ing on the collected group key / silently dropping the rows
    val flagged = passages.withColumn("is_positive", coalesce(isPositive, lit(false)))
    val counts = flagged
      .groupBy("is_positive")
      .count()
      .collect()
      .map(r => r.getBoolean(0) -> r.getLong(1))
      .toMap
    val nPos = counts.getOrElse(true, 0L)
    val nNeg = counts.getOrElse(false, 0L)
    val half = maxSamples / 2
    var posQ = math.min(nPos, half)
    var negQ = math.min(nNeg, half)
    var rem = maxSamples - posQ - negQ
    if (rem > 0 && posQ < nPos) { val e = math.min(rem, nPos - posQ); posQ += e; rem -= e }
    if (rem > 0 && negQ < nNeg) negQ += math.min(rem, nNeg - negQ)
    val w = Window.partitionBy(col("is_positive")).orderBy(col(orderCol))
    val Seq(rn) = WorkingColumns(flagged, "__rn")
    flagged
      .withColumn(rn, row_number().over(w))
      .where(
        (col("is_positive") && col(rn) <= posQ) ||
          (!col("is_positive") && col(rn) <= negQ))
      .drop(rn)
  }
}
