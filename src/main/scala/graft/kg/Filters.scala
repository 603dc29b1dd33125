package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.data.WorkingColumns

/** A classifier deployment spec — the reference's ClassifierSpec
  * (/root/reference/flows/classifier_specs/spec_interface.py:40-92), loaded
  * from per-environment YAML there; here a plain broadcastable case class. */
final case class ClassifierSpec(
    wikibaseId: String,
    classifierId: String,
    conceptId: Option[String] = None,
    gpu: Boolean = false,
    dontRunOn: Vector[String] = Vector.empty
)

/** The reference's document-selection filters (SURVEY.md §2.2), as pure
  * column predicates so Catalyst pushes them below the extraction fan-out. */
object Filters {

  /** F1 (spec_interface.py:125-138): drop a document for a classifier when
    * its source — the lowercased first dotted segment of the stem/conv id —
    * is in the spec's dont_run_on list. */
  def sourceAllowed(convId: Column, dontRunOn: Seq[String]): Column =
    if (dontRunOn.isEmpty) lit(true)
    else !lower(split(convId, "\\.").getItem(0)).isin(dontRunOn.map(_.toLowerCase): _*)

  /** F2 (flows/inference.py:1154-1162): drop sabin placeholder stems. */
  def notPlaceholder(convId: Column): Column =
    !(lower(convId).startsWith("sabin") && lower(convId).endsWith("placeholder"))

  /** F4 (flows/inference.py:219-243): for each document id prefer the
    * translated stem when present. Input rows carry a `stem` column; returns
    * one row per document id, keeping `{id}_translated_{lang}` over `{id}`. */
  def preferTranslated(df: DataFrame, stemCol: String = "stem"): DataFrame = {
    val docId = regexp_replace(col(stemCol), "_translated_[a-z]{2}$", "")
    val isTranslated = col(stemCol).rlike("_translated_[a-z]{2}$")
    val w = Window
      .partitionBy(docId)
      .orderBy(isTranslated.cast("int").desc, col(stemCol).asc)
    val Seq(rn) = WorkingColumns(df, "__rn")
    df.withColumn(rn, row_number().over(w)).where(col(rn) === 1).drop(rn)
  }

  /** §2.8 remove_translated_suffix (flows/utils.py:388). */
  def removeTranslatedSuffix(stem: Column): Column =
    regexp_replace(stem, "_translated_[a-z]{2}$", "")

  /** F6 (span.py:93-116 enforced post-predict, inference.py:646-678): span
    * validity predicate over a mentions frame; invalid rows become metric
    * counts, not silent drops. Returns (valid, violations) frames. */
  def splitValidSpans(mentions: DataFrame, textLen: Column): (DataFrame, DataFrame) = {
    val valid = col("start") >= 0 && col("start") < col("end") && col("end") <= textLen
    (mentions.where(valid), mentions.where(!valid))
  }

  /** F8 (operations/predict.py:259-305): exclude passages whose text was in
    * the training set — broadcast anti-join on a content hash so the big
    * side never shuffles its text column. */
  def excludeTrainingTexts(passages: DataFrame, trainingTexts: DataFrame): DataFrame = {
    val Seq(h) = WorkingColumns(passages, "__h")
    val trainHashes = trainingTexts.select(md5(col("text")).as(h)).distinct()
    passages
      .withColumn(h, md5(col("text")))
      .join(broadcast(trainHashes), Seq(h), "left_anti")
      .drop(h)
  }

  /** §2.8 _stringify (flows/inference.py:566-567): strip each line, join
    * with single spaces. Python str.strip() removes ALL whitespace, not just
    * spaces, hence the regexp rather than trim(). */
  def stringifyLines(textLines: Column): Column =
    concat_ws(" ", transform(textLines, l => regexp_replace(l, "^\\s+|\\s+$", "")))
}
