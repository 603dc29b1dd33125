package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Concept, Identifier8}
import graft.extract.Gazetteer

/** One turn of a conversation transcript (the engine's passage grain). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: java.sql.Timestamp
)

/** One concept mention (span) found in one turn — the canonical precursor of
  * both the Vespa-style concept records (flows/aggregate.py:734-750) and the
  * MENTIONS_CONCEPT triples (flows/update_neo4j.py:738-745). The passage text
  * is deliberately NOT carried on the mention row (the reference duplicates
  * it per span; at 10^12 turns that multiplies shuffle width by mention
  * count) — `surface` keeps just the matched substring and `span_id` the
  * reference-compatible deterministic id.
  */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    concept_id: String,
    start: Int,
    end: Int,
    surface: String,
    span_id: String
)

/** The knowledge-graph construction pipeline, Spark-first:
  *
  *   transcripts --(window: stable turn order)--> turns
  *     --(broadcast gazetteer flatMap)--> mentions
  *     --(hash aggs)--> per-turn concept arrays / per-conv concept counts
  *   turns --(one generator pass per turn: HAS_PASSAGE + MENTIONS_CONCEPT,
  *            union concept-store edges)--> (subj, pred, obj) triples
  *     --(iterative joins)--> canonical entity components
  *
  * Where the reference fans out (classifier × 200-doc batch) into containers
  * (flows/inference.py:909-1107), we fan out across partitions: ALL concepts
  * are matched in one pass per turn via the broadcast trie, so the J1
  * passages×classifiers cross join never materializes — it's fused into the
  * extraction operator. Aggregations are plain groupBys (Catalyst gives
  * partial aggregation map-side); AQE handles skewed conversations.
  */
object KgPipeline {

  def defaultConcepts: Vector[Concept] = DemoConceptStore.concepts

  /** Stable turn ordering (north rule): window over conv_id ordered by
    * turn_idx, BEFORE extraction, so per-turn text equality vs the reference
    * holds. turn_seq is the dense 0-based position of the turn within its
    * conversation (the reference's positional passage order,
    * flows/inference.py:782-798). */
  def orderedTurns(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    transcripts.withColumn("turn_seq", (row_number().over(w) - 1).cast("int"))
  }

  /** Turn eligibility: drop role='tool' (blocked block types,
    * inference.py:80-84) and blank text (no-op documents,
    * inference.py:714-735). */
  val eligible: Column = col("role") =!= "tool" && trim(col("text")) =!= lit("")

  /** Extraction-eligible turns in stable order. */
  def eligibleTurns(transcripts: DataFrame): DataFrame =
    orderedTurns(transcripts).where(eligible)

  /** Gazetteer mention extraction: one broadcast trie pass per turn over all
    * concepts (C1 semantics for every concept at once). Typed flatMap — the
    * one genuinely imperative operator in the pipeline; everything else stays
    * in Catalyst expressions. */
  def extractMentions(spark: SparkSession, turns: DataFrame, concepts: Vector[Concept]): Dataset[Mention] = {
    import spark.implicits._
    val gaz = new Gazetteer(concepts)
    turns
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        explode(graft.extract.expressions.extractMentions(col("text"), gaz)).as("m")
      )
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("m.concept_id").as("concept_id"),
        col("m.start").as("start"),
        col("m.end").as("end"),
        col("m.surface").as("surface"),
        col("m.span_id").as("span_id")
      )
      .as[Mention]
  }

  def mentions(spark: SparkSession, sfDir: String, concepts: Vector[Concept] = defaultConcepts): Dataset[Mention] =
    extractMentions(spark, eligibleTurns(Transcripts.read(spark, sfDir)), concepts)

  /** Edge-grain extraction: one row per (turn, concept) with at least one
    * mention. The dedup that MENTIONS_CONCEPT needs happens INSIDE the
    * extraction pass (a turn's matches are all local to one call) — the
    * 100 TB-critical difference vs deduping 10^10 mention rows post hoc.
    * The triple layer applies the same per-turn dedup inside its own
    * generator (PassageTriples) rather than calling this. */
  def extractMentionEdges(
      spark: SparkSession,
      turns: DataFrame,
      concepts: Vector[Concept]
  ): DataFrame = {
    val gaz = new Gazetteer(concepts)
    turns
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        explode(graft.extract.expressions.extractConceptsPresent(col("text"), gaz)).as("concept_id")
      )
  }

  /** Per-(conversation, concept) mention counts. */
  def mentionCounts(m: DataFrame): DataFrame =
    m.groupBy("conv_id", "concept_id")
      .agg(count(lit(1)).as("n_mentions"))

  /** G2/G1: the Vespa-concept aggregation at count grain — per turn and
    * concept: name, parent ids (comma-joined + trailing comma,
    * aggregate.py:628-631), model string (aggregate.py:103-110), mention
    * count. The concept dimension is a broadcast join. */
  def vespaConcepts(spark: SparkSession, m: DataFrame, concepts: Vector[Concept] = defaultConcepts): DataFrame = {
    import spark.implicits._
    val dim = concepts
      .map(c => (c.wikibaseId, c.preferredLabel, c.parentConceptIdsFlat, DemoConceptStore.modelString(c)))
      .toDF("concept_id", "name", "parent_concept_ids_flat", "model")
    m.groupBy("conv_id", "turn_idx", "concept_id")
      .agg(count(lit(1)).as("n_mentions"))
      .join(broadcast(dim), Seq("concept_id"))
      .select("conv_id", "turn_idx", "concept_id", "name", "parent_concept_ids_flat", "model", "n_mentions")
  }

  /** Deterministic labelling-run base epochs for the two classifier passes of
    * the labeller/timestamp drill. The reference stamps each span with
    * `datetime.now()` at labelling time (span.py:93-99) — non-reproducible by
    * construction — so the engine models the same field family with a
    * deterministic per-run epoch plus a per-span offset; the MERGE (first-seen
    * labeller union, span.py:148-180) and SINK (`timestamp =
    * max(span.timestamps)`, flows/aggregate.py:726-750) semantics are
    * identical either way. */
  val Pass1Epoch = 1700000000L
  val Pass2Epoch = 1700007200L

  /** The concepts the secondary labelling pass covers: even-numbered Q-ids —
    * a deterministic proper subset so merged (two-labeller) and unmerged
    * (one-labeller) spans both occur. */
  def secondPassIds(concepts: Vector[Concept]): Vector[String] =
    concepts.map(_.wikibaseId).filter(id => id.matches("Q\\d+") && id.drop(1).toLong % 2 == 0).sorted

  /** Span-grain Vespa concepts CARRYING labellers + timestamps — the A4 merge
    * rules and the Vespa max-timestamp contract at the distributed grain.
    *
    * Two labelling passes annotate the mention layer: the primary keyword
    * classifier labels every span; a secondary pass labels the spans of
    * `secondPassIds` concepts. Because per-concept keyword matching is
    * independent (C1 is per-concept in the reference; the trie only fuses
    * evaluation), the secondary pass's spans are BY CONSTRUCTION the
    * concept-restricted subset of the primary pass's — so it is computed as a
    * filter rather than a second extraction scan. Spans identical in
    * (start, end, concept) across passes merge per span.py:148-180: labellers
    * in first-seen (pass) order, timestamps unioned; the sink row then takes
    * `timestamp = max(timestamps)` per flows/aggregate.py:746-748.
    *
    * One hash aggregation on the natural span key + a broadcast dim join —
    * no extra shuffle vs the count-grain path at any scale. */
  def vespaConceptsTs(spark: SparkSession, m: DataFrame, concepts: Vector[Concept] = defaultConcepts): DataFrame = {
    import spark.implicits._
    val base = m.select(col("conv_id"), col("turn_idx"), col("start"), col("end"), col("concept_id"))
    val p1 = base.select(
      col("*"),
      lit(1).as("pass_rank"),
      lit("KeywordClassifier:v1").as("labeller"),
      (lit(Pass1Epoch) + (col("start") * 7 + col("end") * 3) % 3600).cast("long").as("ts_epoch")
    )
    val p2 = base
      .where(col("concept_id").isin(secondPassIds(concepts): _*))
      .select(
        col("*"),
        lit(2).as("pass_rank"),
        lit("KeywordClassifier:v2").as("labeller"),
        (lit(Pass2Epoch) + (col("start") * 5 + col("end")) % 3600).cast("long").as("ts_epoch")
      )
    val dim = concepts
      .map(c => (c.wikibaseId, c.preferredLabel, DemoConceptStore.modelString(c)))
      .toDF("concept_id", "name", "model")
    p1.unionByName(p2)
      .groupBy("conv_id", "turn_idx", "start", "end", "concept_id")
      .agg(
        // first-seen labeller order == ascending pass rank (each pass carries
        // one labeller per span, so no distinct is needed on either engine)
        concat_ws(
          ",",
          transform(sort_array(collect_list(struct(col("pass_rank"), col("labeller")))), x => x.getField("labeller"))
        ).as("labellers_str"),
        count(lit(1)).cast("int").as("n_labellers"),
        max(col("ts_epoch")).as("ts_epoch")
      )
      .join(broadcast(dim), Seq("concept_id"))
      .select(
        "conv_id", "turn_idx", "start", "end", "concept_id",
        "name", "model", "labellers_str", "n_labellers", "ts_epoch")
  }

  /** G3 concept counts per document: key "{wikibase_id}:{name}" -> count
    * (flows/index.py:632-637). */
  def conceptCounts(spark: SparkSession, m: DataFrame, concepts: Vector[Concept] = defaultConcepts): DataFrame = {
    import spark.implicits._
    val dim = concepts.map(c => (c.wikibaseId, c.preferredLabel)).toDF("concept_id", "name")
    m.join(broadcast(dim), Seq("concept_id"))
      .groupBy(col("conv_id"), concat(col("concept_id"), lit(":"), col("name")).as("concept_key"))
      .agg(count(lit(1)).as("n"))
  }

  /** G3 at the reference's keyed-map grain (flows/index.py:632-637): one row
    * per document with the {"{id}:{name}" -> count} MAP column the reference
    * writes into its index documents. Long format (conceptCounts) is the
    * scale-preferred shape; this materializes the exact map contract, with
    * entries inserted in sorted-key order so downstream serialization
    * (to_json, map_entries) is deterministic. */
  def conceptCountsMap(spark: SparkSession, m: DataFrame, concepts: Vector[Concept] = defaultConcepts): DataFrame =
    conceptCounts(spark, m, concepts)
      .groupBy("conv_id")
      .agg(
        map_from_entries(sort_array(collect_list(struct(col("concept_key"), col("n")))))
          .as("concept_counts")
      )

  /** The graph layer: distinct (subj, pred, obj) triples
    * (flows/update_neo4j.py:249-333, :436-450; FIXTURES.md §6):
    *   (conv_id,  HAS_PASSAGE,      conv_id_turnIdx)   one per eligible turn
    *   (passage,  MENTIONS_CONCEPT, wikibase_id)       distinct per mention
    *   (child,    SUBCONCEPT_OF,    parent)            from the concept store
    *   (concept,  RELATED_TO,       related)           from the concept store
    * Distinct = Cypher MERGE upsert semantics. */
  def triples(spark: SparkSession, sfDir: String, concepts: Vector[Concept] = defaultConcepts): DataFrame =
    triplesFromTurns(spark, eligibleTurns(Transcripts.read(spark, sfDir)), concepts)

  /** The three edge families of the triple layer, optionally carrying extra
    * sink columns. Both conversation-derived families come from ONE
    * generator pass per turn (PassageTriples: HAS_PASSAGE plus that turn's
    * MENTIONS_CONCEPT edges), so the transcripts are scanned, filtered and
    * given their passage id once; `convCols` are evaluated against the turn
    * rows (which expose conv_id) and ride through the Generate. The
    * concept-store branch carries `dimCols`. The SINGLE source of truth for
    * both the query path (triplesFromTurns) and the MERGE sink
    * (writeTriplesMerge) — a new edge family added here reaches both. */
  private def tripleUnion(
      spark: SparkSession,
      turns: DataFrame,
      concepts: Vector[Concept],
      convCols: Seq[org.apache.spark.sql.Column],
      dimCols: Seq[org.apache.spark.sql.Column]
  ): DataFrame = {
    import spark.implicits._
    val passageId = concat(col("conv_id"), lit("_"), col("turn_idx").cast("string"))
    val gaz = new Gazetteer(concepts)
    val turnEdges = turns.select(
      convCols :+ graft.extract.expressions.passageTriples(col("conv_id"), passageId, col("text"), gaz): _*
    )
    val ids = concepts.map(_.wikibaseId).toSet
    val conceptEdges = DemoConceptStore
      .conceptEdgesOf(concepts)
      .filter { case (s, _, o) => ids(s) && ids(o) }
      .toDF("subj", "pred", "obj")
      .select(Seq(col("subj"), col("pred"), col("obj")) ++ dimCols: _*)
    turnEdges.unionByName(conceptEdges)
  }

  /** Shuffle-free triple materialization: every family is distinct by
    * construction (a turn's concepts are deduped inside its generator
    * call), so the only wide operation left in the whole path is the
    * ordering window — and Catalyst prunes even that here because turn_seq
    * is not referenced. Each turn is read once. */
  def triplesFromTurns(spark: SparkSession, turns: DataFrame, concepts: Vector[Concept]): DataFrame =
    tripleUnion(spark, turns, concepts, Nil, Nil)

  /** MERGE-semantics triple sink — the parquet stand-in for Cypher MERGE /
    * Iceberg MERGE INTO (update_neo4j.py:107-124): dynamic-partition
    * overwrite keyed by conversation bucket.
    *
    * CONTRACT: each run's `turns` must be a union of COMPLETE buckets under
    * `Checkpoint.bucketCol(_, nBuckets)` with the SAME nBuckets as the sink
    * (exactly the slicing Checkpoint.runResumable produces). A rewritten
    * partition replaces everything previously in it, so a run covering only
    * SOME conversations of a bucket would silently delete the bucket's other
    * conversations — bucket-aligned input is what makes overlapping re-runs
    * upserts instead of deletes. The bucket is computed from the turns'
    * actual conv_id column (NOT parsed back out of subj strings, which would
    * collapse conv_ids containing underscores), so any conv_id shape is
    * safe. Concept-store edges go to a DEDICATED bucket: they are re-emitted
    * in full by every run, so that partition is always complete — routing
    * them by subj hash would let a partial run clobber conversation buckets
    * it did not rewrite. */
  def writeTriplesMerge(
      spark: SparkSession,
      turns: DataFrame,
      concepts: Vector[Concept],
      path: String,
      nBuckets: Int = Checkpoint.DefaultBuckets
  ): Unit = {
    import org.apache.spark.sql.SaveMode
    tripleUnion(
      spark,
      turns,
      concepts,
      convCols = Seq(Checkpoint.bucketCol("conv_id", nBuckets)),
      dimCols = Seq(lit(nBuckets).as("bucket"))
    ).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(path)
  }

  /** Triples from pre-materialized span-grain mentions (when the mentions
    * table already exists — e.g. resuming from a checkpointed mentions
    * layer). Prefer triplesFromTurns when extracting fresh: it skips the
    * dedup shuffle entirely. */
  def triplesFrom(spark: SparkSession, turns: DataFrame, m: DataFrame, concepts: Vector[Concept]): DataFrame = {
    import spark.implicits._
    val passageId = concat(col("conv_id"), lit("_"), col("turn_idx").cast("string"))
    val hasPassage = turns.select(
      col("conv_id").as("subj"),
      lit("HAS_PASSAGE").as("pred"),
      passageId.as("obj")
    )
    // distinct on the narrow key columns FIRST, build the subj string after —
    // the dedup shuffle then moves (conv_id, int, Qxx) rows instead of long
    // concatenated strings
    val mentionsEdges = m
      .select(col("conv_id"), col("turn_idx"), col("concept_id"))
      .distinct()
      .select(passageId.as("subj"), lit("MENTIONS_CONCEPT").as("pred"), col("concept_id").as("obj"))
    val conceptEdges = DemoConceptStore
      .conceptEdgesOf(concepts)
      .filter { case (s, _, o) =>
        val ids = concepts.map(_.wikibaseId).toSet; ids(s) && ids(o)
      }
      .toDF("subj", "pred", "obj")
    // no global distinct: the three branches are disjoint by pred, and each
    // is distinct by construction (turns are unique per (conv_id, turn_idx),
    // mention edges deduped above, store edges deduped at build) — a final
    // distinct() would re-shuffle every edge for nothing
    hasPassage.union(mentionsEdges).union(conceptEdges)
  }

  /** The graph node layer (graph_models.py:113-161; FIXTURES.md §6):
    * document / passage / concept property bags, long-formatted as
    * (node_id, kind, prop). Documents carry their turn count, passages their
    * ordering key, concepts their preferred label — the properties the
    * reference's Neo4j nodes carry that survive the transcripts mapping. */
  def nodes(spark: SparkSession, turns: DataFrame, concepts: Vector[Concept]): DataFrame = {
    import spark.implicits._
    val docNodes = turns
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("conv_id").as("node_id"), lit("document").as("kind"), col("n").cast("string").as("prop"))
    val passageNodes = turns.select(
      concat(col("conv_id"), lit("_"), col("turn_idx").cast("string")).as("node_id"),
      lit("passage").as("kind"),
      col("turn_idx").cast("string").as("prop")
    )
    val conceptNodes = concepts
      .map(c => (c.wikibaseId, "concept", c.preferredLabel))
      .toDF("node_id", "kind", "prop")
    docNodes.union(passageNodes).union(conceptNodes)
  }

  /** Trend relation (concept_id, day_num, n_mentions) over the mention
    * layer `m`, shared by kg_trends and kg_bursts. The one fact⋈fact join
    * in the family; both sides hash-partition on conv_id. At 100 TB the
    * cheaper shape is carrying ts through extraction so the day lands in
    * the mention row itself — kept as a join so the materialized mention
    * layer stays ts-agnostic for every other consumer. */
  def trends(spark: SparkSession, sfDir: String, m: DataFrame): DataFrame = {
    val turnsTs = eligibleTurns(Transcripts.read(spark, sfDir))
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        expr("unix_timestamp(ts) div 86400").as("day_num"))
    m.select("conv_id", "turn_idx", "concept_id")
      .join(turnsTs, Seq("conv_id", "turn_idx"))
      .groupBy("concept_id", "day_num")
      .agg(count(lit(1)).as("n_mentions"))
  }

  /** Burst detection over the trend relation (concept_id, day_num,
    * n_mentions) — the "is this concept suddenly hot" temporal analytic: a
    * day bursts when its mention count exceeds `factor`× the trailing
    * `window`-day DAILY average, i.e. n·window > factor·trail_sum with
    * trail_sum the CALENDAR-range trailing sum (RANGE frame on the integer
    * day, excluding today — a ROWS frame would silently skip gap days and
    * inflate the baseline of sparse concepts). All-integer, so the oracle
    * hash-compares exactly; an empty trailing window coalesces to 0 — a
    * concept's FIRST active day flags as a burst by construction (it is
    * one: the rate rose from nothing).
    *
    * Scale posture: the window partitions BY CONCEPT over day-grain rows —
    * dictionary × corpus-days, never corpus-grain; no global sort, and a
    * hot concept's partition is bounded by the calendar, not the corpus. */
  def burstDays(trends: DataFrame, window: Int = 7, factor: Int = 2): DataFrame = {
    val w = Window
      .partitionBy("concept_id")
      .orderBy("day_num")
      .rangeBetween(-window, -1)
    trends
      .withColumn("trail_sum", coalesce(sum(col("n_mentions")).over(w), lit(0L)))
      .withColumn(
        "is_burst",
        (col("n_mentions") * window > col("trail_sum") * factor).cast("int"))
  }

  /** Concept co-occurrence: unordered concept pairs mentioned within the same
    * conversation, weighted by conversation count — the corpus-level graph
    * signal used for canonicalization and skew analysis. */
  def cooccurrence(m: DataFrame): DataFrame = {
    val perConv = m.select("conv_id", "concept_id").distinct()
    val a = perConv.as("a")
    val b = perConv.as("b")
    a.join(b, col("a.conv_id") === col("b.conv_id") && col("a.concept_id") < col("b.concept_id"))
      .groupBy(col("a.concept_id").as("concept_a"), col("b.concept_id").as("concept_b"))
      .agg(count(lit(1)).as("n_convs"))
  }

  /** Co-occurrence SIGNIFICANCE (quantized lift — exp(PMI)): raw co-counts
    * over-weight pairs of globally frequent concepts (two concepts that each
    * appear in half the corpus co-occur constantly by chance); lift divides
    * that chance rate out:
    *
    *   lift_q(a,b) = (10^6 · n_ab · N) div (n_a · n_b)
    *
    * where n_x = conversations mentioning x and N = conversations mentioning
    * anything. 10^6 = independence; above = genuinely associated. The
    * log-free form keeps every step a long floor-division (ln is not
    * cross-engine bit-stable), exactly preserving the PMI ordering.
    * Overflow headroom: n_ab·N < 9.2×10^12 in-long (≈3M conversations for a
    * pair both members of which appear everywhere). Past that the numerator
    * doesn't fit a long: under non-ANSI configs the multiply would WRAP
    * silently (corrupt rankings, no error), and even under Spark 4's default
    * ANSI mode it would only throw a bare ARITHMETIC_OVERFLOW — so the
    * numerator is guarded per row and raises an actionable message first
    * (the fix then is dropping the 10^6 scale constant — rankings are
    * scale-invariant under it).
    *
    * Scale posture: the marginals n_a are one map-side-combined aggregate on
    * the already-distinct (conv, concept) pairs; N is a 1-row aggregate;
    * both join back dictionary-sized (broadcast), so the only corpus-scale
    * work remains cooccurrence's own pair aggregation. */
  def cooccurrenceLift(m: DataFrame): DataFrame = {
    val perConv = m.select("conv_id", "concept_id").distinct()
    val marg = perConv.groupBy("concept_id").agg(count(lit(1)).as("n"))
    val total = perConv.select("conv_id").distinct().agg(count(lit(1)).as("n_total"))
    cooccurrence(m)
      .join(broadcast(marg.select(col("concept_id").as("concept_a"), col("n").as("n_a"))), Seq("concept_a"))
      .join(broadcast(marg.select(col("concept_id").as("concept_b"), col("n").as("n_b"))), Seq("concept_b"))
      .crossJoin(broadcast(total))
      .selectExpr(
        "concept_a",
        "concept_b",
        "n_convs",
        // overflow guard: numerator = 10^6 * n_convs * n_total must stay in
        // long; the check is division-only so it can never overflow itself
        // (sessions run Spark 4's default ANSI mode, where a wrapped multiply
        // throws a bare ARITHMETIC_OVERFLOW — this guard fires first with an
        // actionable message instead)
        """IF(n_convs <= (9223372036854775807 DIV 1000000) DIV n_total,
          |   (1000000 * n_convs * n_total) DIV (n_a * n_b),
          |   CAST(raise_error(concat('cooccurrenceLift numerator overflows long: n_convs=',
          |        CAST(n_convs AS STRING), ' n_total=', CAST(n_total AS STRING),
          |        '; drop the 10^6 scale constant (rankings are scale-invariant)')) AS BIGINT)
          |) AS lift_q""".stripMargin)
  }

  /** J7 end-to-end: canonical mention ids. Each extracted mention's surface
    * is linked against the broadcast dictionary (Linking), surfaces/concepts
    * are clustered by connected components over dictionary + hierarchy edges
    * (ConnectedComponents), and every mention row gets the canonical
    * component id of its concept — the corpus-level generalization of the
    * reference's per-passage greedy span grouping (span.py:445-469). */
  def canonicalizeMentions(
      spark: SparkSession,
      m: DataFrame,
      concepts: Vector[Concept] = defaultConcepts
  ): DataFrame = {
    val components = canonicalEntities(spark, concepts)
      .withColumnRenamed("node", "concept_id")
      .withColumnRenamed("component", "canonical_id")
    val linked = Linking
      .linkSurfaces(spark, m, concepts)
      .select(col("surface").as("surface_lc"), col("concept_id").as("linked_concept_id"), col("link_kind"))
    m.withColumn("surface_lc", lower(col("surface")))
      .join(broadcast(linked), Seq("surface_lc"), "left")
      .join(broadcast(components), Seq("concept_id"), "left")
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("concept_id"),
        col("start"),
        col("end"),
        col("surface"),
        coalesce(col("linked_concept_id"), col("concept_id")).as("linked_concept_id"),
        coalesce(col("link_kind"), lit("extraction")).as("link_kind"),
        coalesce(col("canonical_id"), col("concept_id")).as("canonical_id")
      )
  }

  /** Classifier identity for the embedding pass, mirroring the reference's
    * per-(classifier-class, concept) ids (classifier/classifier.py analog of
    * keyword.py:192-195). */
  def embeddingClassifierId(c: Concept): String =
    Identifier8.generate("EmbeddingClassifier", c.id)

  /** G1 multi-classifier mentions: TWO genuinely different classifier passes
    * over the SAME turn set — the fused keyword gazetteer (per-concept
    * counts, classifier ids per the reference's KeywordClassifier identity)
    * and a passage-grain embedding classifier (deterministic synthetic turn
    * embeddings derived from the reconstructed doc id, sequential-fold cosine
    * vs a fixed concept vector, so the DuckDB oracle reproduces it
    * bit-exactly) — unioned into one
    * (classifier_id, conv_id, turn_idx, concept_id, n_mentions) table: the
    * reference's {classifier: labelled passages} fan-in
    * (flows/aggregate.py:301-408). */
  def multiClassifierMentions(
      spark: SparkSession,
      sfDir: String,
      concepts: Vector[Concept] = defaultConcepts,
      threshold: Double = 0.65 // ~median of the corpus cosine distribution
  ): DataFrame = {
    import spark.implicits._
    val turns = eligibleTurns(Transcripts.read(spark, sfDir))
    val clfDim = concepts
      .map(c => (c.wikibaseId, DemoConceptStore.classifierId(c)))
      .toDF("concept_id", "classifier_id")
    val kw = extractMentions(spark, turns, concepts)
      .toDF()
      .groupBy("conv_id", "turn_idx", "concept_id")
      .agg(count(lit(1)).as("n_mentions"))
      .join(broadcast(clfDim), Seq("concept_id"))
      .select("classifier_id", "conv_id", "turn_idx", "concept_id", "n_mentions")

    // TEXT-DERIVED second pass (C2-shaped): the turn's embedding is its
    // hashed-token-count histogram — bucket = portable 60-bit md5 token hash
    // mod dim, +1 smoothing so no vector is zero — scored by sequential-fold
    // cosine against a fixed concept vector. Counts are small integers
    // (exact in double), the fold order is the array order in both engines,
    // so the DuckDB oracle reproduces the probability bit-exactly while the
    // signal genuinely depends on the text content, not the row identity.
    val dim = 8
    // the whole histogram is ONE native per-row call (HashHistogramExpression,
    // bit-identical to the transform/filter HOF chain it replaces — that form
    // dispatched interpreted lambdas per token AND per bucket)
    // driver-constant concept vector: same int arithmetic as the SQL twin,
    // norm precomputed once (see Similarity.cosineToConst)
    val cvec = (0 until dim).map(i => ((i * 5 + 2) % 101).toDouble / 101.0).toArray
    val target = concepts.find(_.wikibaseId == "Q15").getOrElse(concepts.head)
    val emb = turns
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        graft.extract.HashHistogramExpression.hashHistogram(col("text"), dim).as("e"))
      .select(col("conv_id"), col("turn_idx"), graft.data.Similarity.cosineToConst(col("e"), cvec).as("prob"))
      .where(col("prob") >= threshold)
      .select(
        lit(embeddingClassifierId(target)).as("classifier_id"),
        col("conv_id"),
        col("turn_idx"),
        lit(target.wikibaseId).as("concept_id"),
        lit(1L).as("n_mentions")
      )
    kw.unionByName(emb)
  }

  /** Cross-classifier collation at the turn grain (G1): every classifier's
    * labels for one passage folded into a deterministic sorted string plus
    * the distinct classifier count — the driver-comparable long format of the
    * reference's per-document {text_block_id: [concepts]} map. */
  def collateClassifiers(m: DataFrame): DataFrame =
    m.groupBy("conv_id", "turn_idx")
      .agg(
        concat_ws(
          ";",
          sort_array(
            collect_list(
              concat_ws(":", col("classifier_id"), col("concept_id"), col("n_mentions").cast("string"))
            )
          )
        ).as("models_str"),
        countDistinct(col("classifier_id")).as("n_classifiers")
      )

  /** A8 passage consolidation (labelled_passage.py:140-185): merge passages
    * sharing an id (id = content hash of the text), concatenating spans and
    * keeping one metadata map. text is identical within a group by
    * construction; metadata is taken per the reference's "passages with
    * identical text share metadata" invariant. */
  def consolidatePassages(passages: DataFrame): DataFrame =
    passages
      .groupBy("id")
      .agg(
        first(col("text")).as("text"),
        flatten(collect_list(col("spans"))).as("spans"),
        first(col("metadata")).as("metadata")
      )

  /** J7 entity canonicalization: connected components over the
    * surface-label <-> concept dictionary edges plus concept-concept edges,
    * giving each mention surface / concept a canonical component id. Runs the
    * distributed iterative-join CC (skew handled by AQE on the join keys);
    * the component id is the lexicographically minimal node id. */
  def canonicalEntities(spark: SparkSession, concepts: Vector[Concept] = defaultConcepts): DataFrame = {
    import spark.implicits._
    ConnectedComponents.run(spark, dictionaryEdges(concepts).toDF("src", "dst"))
  }

  /** The canonicalization edge universe: concept-concept pairs plus
    * surface-label -> concept pairs, both restricted to the dictionary. */
  private def dictionaryEdges(concepts: Vector[Concept]): Vector[(String, String)] = {
    val ids = concepts.map(_.wikibaseId).toSet
    val conceptPairs = DemoConceptStore
      .conceptEdgesOf(concepts)
      .filter { case (s, _, o) => ids(s) && ids(o) }
      .map { case (s, _, o) => (s, o) }
    val surfacePairs = DemoConceptStore.surfaceEdgesOf(concepts).filter { case (_, c) => ids(c) }
    conceptPairs ++ surfacePairs
  }

  /** Bounded-depth BFS over the concept/surface graph (the same undirected
    * edge universe canonicalization clusters): min-hop distance from a seed
    * concept out to `maxHops`. The frontier-expansion loop is the standard
    * distributed BFS — each round joins ONLY the newest frontier (not the
    * whole visited set) against the edge list, anti-joins the visited set,
    * and checkpoints each round to truncate lineage, so round cost tracks
    * frontier size. At 10^9-node scale the visited set stays partitioned
    * on node and the per-round shuffle is frontier-sized; the oracle is an
    * independent recursive-CTE walk with min-hop aggregation. */
  def kHopNeighborhood(
      spark: SparkSession,
      seed: String,
      maxHops: Int = 3,
      concepts: Vector[Concept] = defaultConcepts
  ): DataFrame = {
    import spark.implicits._
    val und = Rounds.materialize(
      GraphStats.bothDirections(dictionaryEdges(concepts).toDF("concept_a", "concept_b")).distinct())
    Rounds.materialize(Rounds.repeat(Seq((seed, 0)).toDF("node", "hops"), maxHops, every = 1) { (dist, d) =>
      val next = dist
        .where(col("hops") === d - 1)
        .join(und, col("node") === col("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("hops"))
      dist.unionByName(next)
    })
  }

  /** J7 incremental canonicalization: a deterministic ~25% of the store's
    * dictionary edges arrive as a BATCH folded into the base assignment via
    * ConnectedComponents.runIncremental — the concept-store-update shape of
    * canonicalization at 10^12-edge scale (re-running full CC per store
    * refresh is the thing this avoids). The driver oracle for this query is
    * the FULL recursive-CTE component computation: equality with the full
    * run IS the incremental-correctness statement. */
  def canonicalEntitiesIncremental(
      spark: SparkSession,
      concepts: Vector[Concept] = defaultConcepts
  ): DataFrame = {
    import spark.implicits._
    val (batch, base) =
      dictionaryEdges(concepts).partition { case (s, d) => math.floorMod((s + "" + d).hashCode, 4) == 0 }
    val existing = ConnectedComponents.run(spark, base.toDF("src", "dst"))
    ConnectedComponents.runIncremental(spark, existing, batch.toDF("src", "dst"))
  }
}
