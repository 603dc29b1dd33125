package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{SpanAlgebra, TextSpan}

/** Confusion matrix + derived metrics, mirroring
  * /root/reference/knowledge_graph/metrics.py:7-95. */
final case class ConfusionMatrix(tp: Long = 0, fp: Long = 0, tn: Long = 0, fn: Long = 0) {
  def support: Long = tp + fp + tn + fn
  def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
  def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
  def accuracy: Double = if (support == 0) 0.0 else (tp + tn).toDouble / support
  def f1: Double = fBeta(1.0)
  def fBeta(beta: Double): Double = {
    if (tp == 0) return 0.0
    require(beta >= 0 && beta <= 1, "beta must be between 0 and 1")
    val p = precision
    val r = recall
    if (p == 0 && r == 0) 0.0
    else {
      val b2 = beta * beta
      (1 + b2) * p * r / (b2 * p + r)
    }
  }
  def +(other: ConfusionMatrix): ConfusionMatrix =
    ConfusionMatrix(tp + other.tp, fp + other.fp, tn + other.tn, fn + other.fn)
}

/** The evaluation harness (G6): span- and passage-level precision/recall vs
  * gold standards — the P/R >= 0.95 gate of the north rule. Local pure
  * versions mirror /root/reference/knowledge_graph/metrics.py:98-186; the
  * DataFrame version computes the same counts distributed (join on passage
  * id + per-row span matching, then one global sum). */
object Metrics {

  /** metrics.py:98-142 — passages zipped positionally; TP per gold span with
    * some predicted span over the jaccard threshold; FP per predicted span
    * with no gold match; both-empty passage => TN. */
  def countSpanLevel(
      gold: Seq[Seq[TextSpan]],
      predicted: Seq[Seq[TextSpan]],
      threshold: Double = 0.9
  ): ConfusionMatrix = {
    require(gold.length == predicted.length, "gold and predicted passage lists must align")
    var cm = ConfusionMatrix()
    gold.lazyZip(predicted).foreach { (g, p) =>
      if (g.isEmpty && p.isEmpty) cm = cm.copy(tn = cm.tn + 1)
      else {
        g.foreach { gs =>
          if (p.exists(ps => SpanAlgebra.jaccard(gs, ps) > threshold)) cm = cm.copy(tp = cm.tp + 1)
          else cm = cm.copy(fn = cm.fn + 1)
        }
        p.foreach { ps =>
          if (!g.exists(gs => SpanAlgebra.jaccard(ps, gs) > threshold)) cm = cm.copy(fp = cm.fp + 1)
        }
      }
    }
    cm
  }

  /** metrics.py:145-186 — set operations on positive/negative passage ids. */
  def countPassageLevel(
      goldByPassage: Map[String, Seq[TextSpan]],
      predictedByPassage: Map[String, Seq[TextSpan]]
  ): ConfusionMatrix = {
    val goldPos = goldByPassage.collect { case (id, s) if s.nonEmpty => id }.toSet
    val goldNeg = goldByPassage.keySet -- goldPos
    val predPos = predictedByPassage.collect { case (id, s) if s.nonEmpty => id }.toSet
    val predNeg = predictedByPassage.keySet -- predPos
    ConfusionMatrix(
      tp = (goldPos & predPos).size,
      fp = (predPos -- goldPos).size,
      tn = (goldNeg & predNeg).size,
      fn = (goldPos -- predPos).size
    )
  }

  /** Envelope Jaccard of two (start, end) structs — identical int arithmetic
    * then ONE double division; the DuckDB oracles replicate this exact shape
    * for bit-equality, so every caller must share THIS definition. */
  private def jac(a: Column, b: Column): Column = {
    val inter = greatest(
      lit(0),
      least(a.getField("end"), b.getField("end")) - greatest(a.getField("start"), b.getField("start"))
    )
    val union = greatest(a.getField("end"), b.getField("end")) -
      least(a.getField("start"), b.getField("start"))
    inter.cast("double") / union
  }

  /** Full-join gold/predicted span arrays on passage_id, null arrays
    * coalesced empty — shared prologue of every distributed eval. */
  private def joined(gold: DataFrame, predicted: DataFrame): DataFrame =
    gold
      .withColumnRenamed("spans", "g")
      .join(predicted.withColumnRenamed("spans", "p"), Seq("passage_id"), "full")
      .withColumn("g", coalesce(col("g"), array()))
      .withColumn("p", coalesce(col("p"), array()))

  /** Distributed span-level confusion counts. Inputs: (passage_id,
    * spans array<struct<start int, end int>>) for gold and predictions; the
    * join is an equi-join on passage id (safer than the reference's
    * positional zip, J6) and the per-row matching is a pure column plan. */
  def spanLevelDF(gold: DataFrame, predicted: DataFrame, threshold: Double = 0.9): DataFrame = {
    val j = joined(gold, predicted)

    j.select(
      when(size(col("g")) === 0 && size(col("p")) === 0, 1L).otherwise(0L).as("tn"),
      size(filter(col("g"), gs => exists(col("p"), ps => jac(gs, ps) > threshold))).cast("long").as("tp"),
      size(filter(col("g"), gs => !exists(col("p"), ps => jac(gs, ps) > threshold))).cast("long")
        .as("fn_raw"),
      size(filter(col("p"), ps => !exists(col("g"), gs => jac(ps, gs) > threshold))).cast("long")
        .as("fp_raw"),
      (size(col("g")) === 0 && size(col("p")) === 0).as("both_empty")
    ).select(
      sum("tp").as("tp"),
      sum(when(col("both_empty"), 0L).otherwise(col("fp_raw"))).as("fp"),
      sum("tn").as("tn"),
      sum(when(col("both_empty"), 0L).otherwise(col("fn_raw"))).as("fn")
    )
  }

  /** Distributed passage-level confusion counts (metrics.py:145-186): a
    * passage is positive when its span list is non-empty; TP/FP/TN/FN are
    * set intersections over the full passage universe. Same (passage_id,
    * spans) inputs as spanLevelDF. */
  def passageLevelDF(gold: DataFrame, predicted: DataFrame): DataFrame = {
    val j = joined(gold, predicted)
      .select((size(col("g")) > 0).as("gpos"), (size(col("p")) > 0).as("ppos"))
    j.select(
      sum(when(col("gpos") && col("ppos"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("gpos") && col("ppos"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("gpos") && !col("ppos"), 1L).otherwise(0L)).as("tn"),
      sum(when(col("gpos") && !col("ppos"), 1L).otherwise(0L)).as("fn")
    )
  }

  /** Threshold sweep in ONE pass: the same counts as spanLevelDF at each
    * jaccard threshold, computed from a single gold⋈predicted join (the
    * per-threshold filters are extra codegen'd columns, not extra shuffles —
    * at 100 TB a 4-threshold sweep costs the same join as one threshold).
    * Inputs as spanLevelDF; thresholds given as integer percents so the
    * output stays float-free: (threshold_pct, tp, fp, tn, fn). */
  def spanLevelSweep(gold: DataFrame, predicted: DataFrame, thresholdsPct: Seq[Int]): DataFrame =
    sweepCore(joined(gold, predicted), thresholdsPct, groupCols = Nil)

  /** G6 × G8 composition: the same one-join threshold sweep, stratified by an
    * equity-group column derived from the passage id (operations/evaluate.py
    * computes metrics per group, :109-171/:200-254). The stratum is one extra
    * groupBy key on the SAME join — a per-group sweep costs the same shuffle
    * as the global one at any scale. Output: (stratum, threshold_pct, tp,
    * fp, tn, fn). */
  def spanLevelSweepBy(
      gold: DataFrame,
      predicted: DataFrame,
      thresholdsPct: Seq[Int],
      stratum: Column
  ): DataFrame =
    sweepCore(joined(gold, predicted).withColumn("stratum", stratum), thresholdsPct, groupCols = Seq("stratum"))

  private def sweepCore(j: DataFrame, thresholdsPct: Seq[Int], groupCols: Seq[String]): DataFrame = {
    val perRow = thresholdsPct.flatMap { pct =>
      val t = lit(pct / 100.0)
      Seq(
        size(filter(col("g"), gs => exists(col("p"), ps => jac(gs, ps) > t))).cast("long").as(s"tp_$pct"),
        size(filter(col("g"), gs => !exists(col("p"), ps => jac(gs, ps) > t))).cast("long").as(s"fn_$pct"),
        size(filter(col("p"), ps => !exists(col("g"), gs => jac(ps, gs) > t))).cast("long").as(s"fp_$pct")
      )
    } :+ when(size(col("g")) === 0 && size(col("p")) === 0, 1L).otherwise(0L).as("tn")

    val sums = thresholdsPct.flatMap(pct =>
      Seq(sum(s"tp_$pct").as(s"tp_$pct"), sum(s"fn_$pct").as(s"fn_$pct"), sum(s"fp_$pct").as(s"fp_$pct"))
    ) :+ sum("tn").as("tn")
    val projected = j.select(groupCols.map(col) ++ perRow: _*)
    val one =
      if (groupCols.isEmpty) projected.agg(sums.head, sums.tail: _*)
      else projected.groupBy(groupCols.map(col): _*).agg(sums.head, sums.tail: _*)

    one
      .select(groupCols.map(col) :+ explode(array(thresholdsPct.map { pct =>
        struct(
          lit(pct).as("threshold_pct"),
          col(s"tp_$pct").as("tp"),
          col(s"fp_$pct").as("fp"),
          col("tn").as("tn"),
          col(s"fn_$pct").as("fn")
        )
      }: _*)).as("r"): _*)
      .select(groupCols.map(col) ++ Seq(col("r.threshold_pct"), col("r.tp"), col("r.fp"), col("r.tn"), col("r.fn")): _*)
  }
}
