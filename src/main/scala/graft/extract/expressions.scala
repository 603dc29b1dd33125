package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Identifier8

/** Native Catalyst expressions for mention extraction.
  *
  * Why expressions instead of a typed flatMap: a Dataset flatMap forces a
  * full decode of every input row into JVM objects and a re-encode of every
  * output object — at 10^8 rows that allocation traffic, not the matching
  * arithmetic, is what throttles single-node scaling. As expressions, the
  * extraction runs inside the codegen'd projection: the presence
  * expressions read the text column's UTF-8 bytes in place (span-grain
  * extraction decodes one String per row), conv_id/turn_idx flow through as
  * unsafe rows untouched, and results are emitted as ArrayData consumed
  * directly by explode.
  *
  * These are CodegenFallback (the matcher itself is already compiled JVM
  * code; generating Java for it would buy nothing), which keeps the
  * surrounding stage in whole-stage codegen.
  */

/** array<string> of concept ids with >= 1 surviving mention in the text. */
case class ExtractConceptsPresent(child: Expression, gazetteer: Gazetteer)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val idsUtf8: Array[UTF8String] =
    gazetteer.concepts.map(c => UTF8String.fromString(c.wikibaseId)).toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(Array.empty[Any])
    val present = gazetteer.findPresent(v.asInstanceOf[UTF8String])
    var n = 0
    var i = 0
    while (i < present.length) { if (present(i)) n += 1; i += 1 }
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < present.length) {
      if (present(i)) { out(k) = idsUtf8(i); k += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "extract_concepts_present"
}

/** The conversation-derived triples of one turn, emitted in the one pass
  * that reads it: `(conv_id, HAS_PASSAGE, passage_id)`, then one
  * `(passage_id, MENTIONS_CONCEPT, concept_id)` per concept with >= 1
  * surviving mention (the same per-turn dedup as ExtractConceptsPresent).
  * A null text emits only the HAS_PASSAGE row; null ids pass through as
  * nulls. */
case class PassageTriples(convId: Expression, passageId: Expression, text: Expression, gazetteer: Gazetteer)
    extends Generator
    with CodegenFallback {

  override def children: Seq[Expression] = Seq(convId, passageId, text)

  override def elementSchema: StructType = StructType(
    Seq("subj", "pred", "obj").map(StructField(_, StringType, nullable = true))
  )

  @transient private lazy val idsUtf8: Array[UTF8String] =
    gazetteer.concepts.map(c => UTF8String.fromString(c.wikibaseId)).toArray

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    import PassageTriples.{HasPassage, MentionsConcept}
    val pid = passageId.eval(input)
    val out = scala.collection.mutable.ArrayBuffer[InternalRow](InternalRow(convId.eval(input), HasPassage, pid))
    val v = text.eval(input)
    if (v != null) {
      val present = gazetteer.findPresent(v.asInstanceOf[UTF8String])
      var i = 0
      while (i < present.length) {
        if (present(i)) out += InternalRow(pid, MentionsConcept, idsUtf8(i))
        i += 1
      }
    }
    out
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(convId = newChildren(0), passageId = newChildren(1), text = newChildren(2))

  override def prettyName: String = "passage_triples"
}

object PassageTriples {
  private val HasPassage = UTF8String.fromString("HAS_PASSAGE")
  private val MentionsConcept = UTF8String.fromString("MENTIONS_CONCEPT")
}

/** array<struct<concept_id, start, end, surface, span_id>> — full
  * span-grain mention extraction (C1 semantics for every concept at once). */
case class ExtractMentions(child: Expression, gazetteer: Gazetteer, withSpanIds: Boolean = true)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("concept_id", StringType, nullable = false),
        StructField("start", IntegerType, nullable = false),
        StructField("end", IntegerType, nullable = false),
        StructField("surface", StringType, nullable = false),
        StructField("span_id", StringType, nullable = true)
      )
    ),
    containsNull = false
  )
  override def nullable: Boolean = false

  @transient private lazy val idsUtf8: Array[UTF8String] =
    gazetteer.concepts.map(c => UTF8String.fromString(c.wikibaseId)).toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(Array.empty[Any])
    val text = v.asInstanceOf[UTF8String].toString
    val all = gazetteer.findAllRaw(text) // UTF-16 indices for substring
    val convert = graft.core.CodePoints.hasSupplementary(text)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    var ci = 0
    while (ci < all.length) {
      val spans = all(ci)
      if (spans.nonEmpty) {
        val conceptId = gazetteer.concepts(ci).wikibaseId
        spans.foreach { s =>
          val surface = text.substring(s.start, s.end)
          // emitted offsets (and the ids derived from them) are codepoint-
          // based, matching the reference's Python string indices
          val cpStart = if (convert) text.codePointCount(0, s.start) else s.start
          val cpEnd = if (convert) text.codePointCount(0, s.end) else s.end
          val spanId =
            if (withSpanIds) UTF8String.fromString(Identifier8.spanId(text, cpStart, cpEnd, conceptId))
            else null
          rows += InternalRow(
            idsUtf8(ci),
            cpStart,
            cpEnd,
            UTF8String.fromString(surface),
            spanId
          )
        }
      }
      ci += 1
    }
    new GenericArrayData(rows.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "extract_mentions"
}

object expressions {
  import org.apache.spark.sql.GraftColumnBridge

  def extractConceptsPresent(text: Column, gazetteer: Gazetteer): Column =
    GraftColumnBridge.column(ExtractConceptsPresent(GraftColumnBridge.expression(text), gazetteer))

  def passageTriples(convId: Column, passageId: Column, text: Column, gazetteer: Gazetteer): Column =
    GraftColumnBridge.column(
      PassageTriples(
        GraftColumnBridge.expression(convId),
        GraftColumnBridge.expression(passageId),
        GraftColumnBridge.expression(text),
        gazetteer))

  def extractMentions(text: Column, gazetteer: Gazetteer, withSpanIds: Boolean = true): Column =
    GraftColumnBridge.column(ExtractMentions(GraftColumnBridge.expression(text), gazetteer, withSpanIds))
}
