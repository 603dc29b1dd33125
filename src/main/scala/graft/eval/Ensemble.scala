package graft.eval

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

import graft.data.WorkingColumns

/** G7 ensemble metrics (/root/reference/knowledge_graph/ensemble/metrics.py:69-170)
  * and G8 equity-strata grouping (operations/evaluate.py:200-254), as plain
  * column aggregates over a long-format predictions frame:
  *   predictions(passage_id, classifier_id, positive boolean, probability double)
  */
object Ensemble {

  /** Per-passage ensemble statistics over the classifier dimension:
    *  - positive_ratio: fraction of classifiers voting positive
    *  - disagreement: 2 * min(pos, neg) / n  (metrics.py:96-118)
    *  - majority_vote: > 0.5 positive, ties => 0.5 semantics (exactly 0.5
    *    ratio reported as 0.5)
    *  - prob_stdev: sample stddev of probabilities (metrics.py:144-170)
    */
  def passageStats(predictions: DataFrame): DataFrame = {
    val n = count(lit(1))
    val pos = sum(when(col("positive"), 1).otherwise(0))
    val neg = n - pos
    predictions
      .groupBy("passage_id")
      .agg(
        (pos.cast("double") / n).as("positive_ratio"),
        (lit(2.0) * least(pos, neg) / n).as("disagreement"),
        when(pos * 2 === n, 0.5)
          .otherwise(when(pos * 2 > n, 1.0).otherwise(0.0))
          .as("majority_vote"),
        coalesce(stddev_samp(col("probability")), lit(0.0)).as("prob_stdev"),
        n.as("n_classifiers")
      )
  }

  /** G8: metric groups = "all" plus one group per (metadata key, value) of
    * the configured stratum columns — implemented by exploding each row into
    * its (stratum, value) memberships and aggregating once, the shuffle-
    * bounded equivalent of the reference's per-group loops. `agg` receives
    * the grouped frame so callers pick their metric columns. */
  def equityStrata(
      rows: DataFrame,
      strataCols: Seq[String]
  )(agg: RelationalGroupedDataset => DataFrame): DataFrame = {
    WorkingColumns.requireAbsent(rows, "equityStrata", "stratum", "stratum_value")
    val memberships = array(
      struct(lit("all").as("stratum"), lit("all").as("stratum_value")) +:
        strataCols.map(c =>
          struct(lit(c).as("stratum"), coalesce(col(c).cast("string"), lit("None")).as("stratum_value"))
        ): _*
    )
    val Seq(m) = WorkingColumns(rows, "__m")
    val exploded = rows
      .withColumn(m, explode(memberships))
      .withColumn("stratum", col(m).getField("stratum"))
      .withColumn("stratum_value", col(m).getField("stratum_value"))
      .drop(m)
    agg(exploded.groupBy("stratum", "stratum_value"))
  }
}
