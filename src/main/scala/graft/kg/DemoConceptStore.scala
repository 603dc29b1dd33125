package graft.kg

import graft.core.Concept

/** The built-in concept-store dimension used by the demo pipeline, oracle
  * queries and benchmarks.
  *
  * Shaped like the reference's Wikibase concept store
  * (/root/reference/knowledge_graph/concept.py:23-93 and the fixture
  * /root/reference/tests/fixtures/data/processed/concepts/Q787.json): each
  * concept has a preferred label, alternative labels, optional negative
  * labels, and hierarchy/related edges. Labels are drawn from the synthetic
  * documents corpus vocabulary so keyword extraction produces non-trivial
  * mention sets on /root/testdata.
  *
  * Design notes for oracle parity (see OracleGen): every case-insensitive
  * label here is plain ASCII [a-z ]/hyphen text, so the DuckDB RE2 pattern
  * `\b(...)\b` is exactly equivalent to the engine's Python-dialect
  * `(?<!\w)(...)(?!\w)`; the single case-sensitive label ("Spark SQL Engine")
  * can never match the all-lowercase corpus, which keeps count-based oracles
  * exact (case-sensitive + case-insensitive overlap merging never fires).
  */
object DemoConceptStore {

  val concepts: Vector[Concept] = Vector(
    Concept.normalized("Q10", "table scan", Seq("scan", "full-table scan"), subconceptOf = Seq("Q50")),
    Concept.normalized("Q11", "hash join", Seq("join"), subconceptOf = Seq("Q50")),
    Concept.normalized("Q12", "merge", Seq("sort-merge", "merge join"), subconceptOf = Seq("Q50"), relatedConcepts = Seq("Q11")),
    // negative label: a "sort" that is part of "sort table" is NOT a sort
    // mention (keyword.py:260-277 negative-overlap filtering)
    Concept.normalized("Q13", "sort", negativeLabels = Seq("sort table"), subconceptOf = Seq("Q50")),
    Concept.normalized("Q14", "window", Seq("window function"), subconceptOf = Seq("Q50")),
    Concept.normalized("Q15", "spark", Seq("Spark SQL Engine"), subconceptOf = Seq("Q60")),
    Concept.normalized("Q16", "stream", Seq("data stream", "streaming"), subconceptOf = Seq("Q60"), relatedConcepts = Seq("Q15")),
    Concept.normalized("Q17", "vector", subconceptOf = Seq("Q60")),
    Concept.normalized("Q18", "aggregation", Seq("agg", "group"), subconceptOf = Seq("Q50")),
    Concept.normalized("Q50", "relational operator"),
    Concept.normalized("Q60", "runtime", relatedConcepts = Seq("Q50")),
    Concept.normalized("Q70", "customer data", Seq("customer")),
    Concept.normalized("Q80", "row storage", Seq("row"), relatedConcepts = Seq("Q70"))
  )

  def byId: Map[String, Concept] = concepts.map(c => c.wikibaseId -> c).toMap

  /** classifier id = Identifier8("KeywordClassifier", concept.id)
    * (/root/reference/knowledge_graph/classifier/keyword.py:192-195). */
  def classifierId(c: Concept): String =
    graft.core.Identifier8.generate("KeywordClassifier", c.id)

  /** Aggregation model string "wikibase_id:concept_id:classifier_id"
    * (/root/reference/flows/aggregate.py:103-110). */
  def modelString(c: Concept): String =
    s"${c.wikibaseId}:${c.id}:${classifierId(c)}"

  /** Concept hierarchy / related edges in (subj, pred, obj) triple form,
    * matching /root/reference/flows/update_neo4j.py:436-450: SUBCONCEPT_OF
    * child->parent (has_subconcept also emitted child->parent, i.e. reversed)
    * and RELATED_TO as stated. */
  def conceptEdges: Vector[(String, String, String)] = conceptEdgesOf(concepts)

  def conceptEdgesOf(cs: Vector[Concept]): Vector[(String, String, String)] = {
    val sub = cs.flatMap(c => c.subconceptOf.map(p => (c.wikibaseId, "SUBCONCEPT_OF", p)))
    val subRev = cs.flatMap(c => c.hasSubconcept.map(ch => (ch, "SUBCONCEPT_OF", c.wikibaseId)))
    val rel = cs.flatMap(c => c.relatedConcepts.map(r => (c.wikibaseId, "RELATED_TO", r)))
    (sub ++ subRev ++ rel).distinct
  }

  /** Entity-linking dictionary edges: every label surface links to its
    * concept (the broadcast-dictionary scoring step of J7; reference analog
    * /root/reference/scripts/wikidata_linker.py:55-98 searches labels). */
  def surfaceEdgesOf(cs: Vector[Concept]): Vector[(String, String)] =
    cs.flatMap(c => c.allLabels.map(l => ("surface:" + l.toLowerCase, c.wikibaseId))).distinct

  /** The store after a wikibase-style update batch (S10 dynamism — the
    * reference's concept store changes between runs via add / delete /
    * redirect, wikibase.py:213-271). Relative to `concepts`:
    *  - ADDED:      Q90 "filter" (new concept over existing corpus vocab)
    *  - DELETED:    Q17 "vector"
    *  - REDIRECTED: Q80 -> Q70 (Q80's id retires; its labels resolve onto
    *                the redirect target, so "row storage"/"row" now mention
    *                Q70 — the observable effect of following a redirect)
    * Everything downstream (gazetteer, oracle SQL, linking dictionary,
    * hierarchy edges) is REBUILT from this vector by the same co-derivation
    * machinery as the default store; nothing is hand-adjusted. */
  val swappedConcepts: Vector[Concept] = {
    val q80 = byId("Q80")
    concepts.flatMap {
      case c if c.wikibaseId == "Q17" || c.wikibaseId == "Q80" => None
      case c if c.wikibaseId == "Q70" =>
        Some(
          Concept.normalized(
            "Q70",
            c.preferredLabel,
            alternativeLabels = c.alternativeLabels ++ q80.allLabels,
            negativeLabels = c.negativeLabels,
            subconceptOf = c.subconceptOf,
            hasSubconcept = c.hasSubconcept,
            relatedConcepts = c.relatedConcepts
          ))
      case c => Some(c)
    } :+ Concept.normalized("Q90", "filter", subconceptOf = Seq("Q50"))
  }
}
