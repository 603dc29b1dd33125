package graft.kg

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.core.Concept

/** Concept-store JSON loader (S10): reads concept fixtures shaped like the
  * reference's serialized Concept model
  * (/root/reference/tests/fixtures/data/processed/concepts/Q787.json, fields
  * per knowledge_graph/concept.py:23-93) and applies the same load-time
  * validators via Concept.normalized. In production the store would be a
  * Wikibase export snapshot; here it is a local JSON file or directory. */
object ConceptJson {

  private val mapper = new ObjectMapper()

  private def strings(node: JsonNode, field: String): Seq[String] =
    Option(node.get(field)).filterNot(_.isNull).map(_.asScala.toSeq.map(_.asText())).getOrElse(Nil)

  private def optString(node: JsonNode, field: String): Option[String] =
    Option(node.get(field)).filterNot(_.isNull).map(_.asText())

  def parse(json: String): Concept = {
    val n = mapper.readTree(json)
    Concept.normalized(
      wikibaseId = optString(n, "wikibase_id").orNull,
      preferredLabel = n.get("preferred_label").asText(),
      alternativeLabels = strings(n, "alternative_labels"),
      negativeLabels = strings(n, "negative_labels"),
      description = optString(n, "description"),
      definition = optString(n, "definition"),
      subconceptOf = strings(n, "subconcept_of"),
      hasSubconcept = strings(n, "has_subconcept"),
      relatedConcepts = strings(n, "related_concepts")
    )
  }

  def loadFile(path: java.nio.file.Path): Concept =
    parse(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
}
