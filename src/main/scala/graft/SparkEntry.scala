package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.kg.{DemoConceptStore, KgPipeline, OracleGen, Sources, Transcripts}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are grouped as:
  *   kg_*    — the knowledge-graph construction pipeline over the transcripts
  *             table (derived deterministically from `documents`, FIXTURES.md
  *             §1): stable-ordered turns, gazetteer mention extraction,
  *             aggregation, triples, canonicalization, lineage.
  *   dedup_* — corpus deduplication (exact, n-gram Jaccard, MinHash-LSH,
  *             SimHash, embedding-cosine).
  *   sim_*   — embedding similarity search (brute-force top-k, IVF ANN).
  *   text_*  — text quality / token / fingerprint / language-id analysis.
  *   mm_*    — multimodal binary-column plumbing (stub decoder).
  *   q*_/g9_ — relational operator coverage (agg/join/window/sample).
  *
  * Every oracle-checked aggregate avoids float-sum nondeterminism (integer
  * sums, int/int divisions, or exact sequential-fold dot products).
  */
object SparkEntry {

  /** Flagship: the full KG pipeline's triples on sf0.001 (rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    KgPipeline.triples(spark, "/root/testdata/sf0.001")

  private def docs(s: SparkSession, dir: String) = Sources.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Sources.table(s, dir, "embeddings")
  private def events(s: SparkSession, dir: String) = Sources.table(s, dir, "events")

  /** A session artifact: a relation or model state derived from one backing
    * table (`documents` or `embeddings`), built once per (application,
    * dataset dir) and served to every query that reads it — in production
    * each is a persisted corpus-epoch artifact, so queries never pay the
    * build. Declaring one registers it: `warmSharedCaches` builds every
    * declaration.
    *
    * The registry keeps one entry per (artifact, application, dir) with the
    * backing table's fingerprint (`Sources.fingerprint`, the definition the
    * table registry uses too) beside the value; a rewrite of the table
    * changes the fingerprint and the rebuilt entry replaces the old one. The
    * superseded value is only dropped from the registry, never unpersisted —
    * a caller may still hold it — so Spark's ContextCleaner frees its blocks
    * once it is unreachable. A DataFrame artifact is compacted on build and
    * keeps the row count compaction takes; a Seq artifact keeps its length. */
  private[graft] final class Artifact[V](name: String, table: String)(build: (SparkSession, String) => V) {
    Artifact.declared += this

    def apply(s: SparkSession, dir: String): V = entry(s, dir).value.asInstanceOf[V]
    def rows(s: SparkSession, dir: String): Long = entry(s, dir).rows

    private def entry(s: SparkSession, dir: String): Artifact.Entry = {
      val key = (name, s.sparkContext.applicationId, dir)
      val fp = Sources.fingerprint(dir, table)
      Artifact.entries.get(key).filter(_.fingerprint == fp).getOrElse {
        val e = build(s, dir) match {
          case df: DataFrame @unchecked => val (c, n) = compact(df); Artifact.Entry(fp, c, n)
          case xs: Seq[_] => Artifact.Entry(fp, xs, xs.size.toLong)
        }
        Artifact.entries.put(key, e)
        e
      }
    }
  }

  private[graft] object Artifact {
    final case class Entry(fingerprint: String, value: Any, rows: Long)
    val entries = scala.collection.concurrent.TrieMap.empty[(String, String, String), Entry]
    val declared = scala.collection.mutable.ArrayBuffer.empty[Artifact[_]]
  }

  /** Materialize a DataFrame artifact and, when it lands far below the
    * session shuffle-partition constant, re-lay it out at a scale-derived
    * partition count (~500k rows/partition): every consumer scan then
    * launches a handful of tasks instead of one per original shuffle
    * partition (a dictionary-grain artifact cached as 128 near-empty
    * blocks cost each consumer a 128-task scan stage). The production
    * analog is output file sizing on the artifact write (guide §6); a
    * corpus-scale artifact keeps its full partitioning. The intermediate
    * checkpoint is unpersisted once the re-laid-out copy has materialized,
    * so a compacted artifact is cached once, not twice. Returns the
    * artifact and its row count. */
  private def compact(df: DataFrame): (DataFrame, Long) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val ck = df.localCheckpoint()
    val n = ck.count()
    val p = partsFor(df.sparkSession, n)
    if (p * 2 > ck.rdd.getNumPartitions) (ck, n)
    else {
      val ckIds = sc.getPersistentRDDs.keySet.toSet -- before
      val out = ck.repartition(p).localCheckpoint()
      ckIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      (out, n)
    }
  }

  /** Static-graph-cache partition count derived from the edge count —
    * ~500k edges (tens of MB) per partition, clamped to [1, the session
    * shuffle-partition setting]: a dictionary-sized backbone runs its
    * whole fixed-point loop on 1 partition instead of spraying 11 nodes
    * over 128 overhead-only tasks per round, while a corpus-epoch graph
    * (32M+ edges) still fans out to the full session parallelism (guide
    * §2: derive partitioning from input size, not a constant tuned for
    * either local mode or the cluster). */
  private def partsFor(s: SparkSession, rows: Long): Int = {
    val conf = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(conf.toLong, rows / 500000L + 1L)).toInt
  }

  /** The mention table is the pipeline's MATERIALIZED intermediate layer —
    * the reference persists exactly this grain (labelled passages, its S4
    * sink) and every downstream aggregation/graph consumer reads the
    * materialized table rather than re-running extraction. Determinism is
    * unaffected — the artifact is bit-identical to a re-extraction. */
  private val mentions = new Artifact[DataFrame]("mentions", "documents")((s, dir) => KgPipeline.mentions(s, dir).toDF())

  /** The co-occurrence edge list (the KG's weighted edge layer, consumed by
    * PageRank/triangles/communities/k-core/lift/...): in production it is
    * written once per corpus epoch and the analytics family queries the
    * materialized edges. */
  private val coEdges = new Artifact[DataFrame]("coEdges", "documents")((s, dir) => KgPipeline.cooccurrence(mentions(s, dir)))

  /** The strong-edge backbone shared by every distance-based analytic
    * (closeness/eccentricity/betweenness/components/k-core/link-predict):
    * the raw conv-grain co-occurrence graph is near-complete, so distance is
    * only meaningful on the >= 85%-of-max edges; the 1-row max broadcasts.
    * A deterministic projection of the co-occurrence edge layer, written
    * next to it once per corpus epoch in production. */
  private val strongBackbone = new Artifact[DataFrame]("strongBackbone", "documents")((s, dir) => {
    val co = coEdges(s, dir)
    co.join(broadcast(co.agg(max(col("n_convs")).as("mx"))))
      .where(col("n_convs") * 100 >= col("mx") * 85)
      .select("concept_a", "concept_b")
  })

  /** HLL register table over the corpus token stream (≤ 256 rows) — the
    * corpus-epoch cardinality artifact whose estimate seeds sketch_kmv's
    * map-side pre-filter; bounded model state like the codebooks
    * (sketch_distinct still computes its own registers from scratch — this
    * artifact feeds only the composed query). */
  private val hllRegisters = new Artifact[Seq[(Long, Long)]]("hllRegisters", "documents")((s, dir) =>
    graft.data.Sketches.hllRegisters(docs(s, dir), m = 256).collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))

  /** MinHash signature index over the full corpus — in production a
    * PERSISTED artifact of a corpus epoch (BENCH/BASELINE.md keeps a
    * historical 1M-doc build + persist timing); every LSH consumer (pair
    * query, clustering) probes the same index rather than re-hashing the
    * corpus. */
  private val minhashSigs = new Artifact[DataFrame]("minhashSigs", "documents")((s, dir) =>
    Dedup.minhashSignatures(docs(s, dir), k = 32))

  /** The IVF codebook is an ingest-time model artifact (nCells centroid
    * rows), not per-query state, shared across every IVF query exactly as a
    * persisted index would be reused in production. Deterministic
    * (quantized-integer Lloyd means), so the cached copy is bit-identical
    * to a rebuild and oracle parity is unaffected. */
  private val ivfCodebook = new Artifact[Seq[(Int, Seq[Double])]]("ivfCodebook", "embeddings")((s, dir) =>
    Similarity.ivfCentroids(emb(s, dir)))

  /** SQ8 per-dimension scale vector — the int8 quantizer's whole model
    * state (d numbers), an ingest-time artifact like the IVF codebook. */
  private val sq8Scales = new Artifact[Seq[Double]]("sq8Scales", "embeddings")((s, dir) => Similarity.sq8Scales(emb(s, dir)))

  /** PQ codebooks (m subspaces × kCents centroids) — the trained product
    * quantizer, an ingest-time model artifact like the IVF codebook. */
  private val pqBooks = new Artifact[Seq[(Int, Int, Seq[Double])]]("pqBooks", "embeddings")((s, dir) =>
    Similarity.pqCodebooks(emb(s, dir)))

  /** The PQ code table (vec_id, s, cent) — the corpus encoded against the
    * PQ codebooks, m small ints per vector: the persisted 32×-compressed
    * index every PQ query probes, so a query scores its ADC partials
    * against it instead of re-encoding the corpus. */
  private val pqCodes = new Artifact[DataFrame]("pqCodes", "embeddings")((s, dir) =>
    Similarity.pqEncode(emb(s, dir), pqBooks(s, dir)))

  /** The eval harness's inputs, (passage_id, spans) over the full
    * eligible-turn universe: gold from the executed-reference fixture,
    * predictions from the mention layer under the deterministic
    * perturbation documented at eval_pr. Both are a function of the corpus
    * (`ref_mentions` is a fixed fixture), derived once per corpus epoch and
    * read by every eval query. */
  private val evalGold = new Artifact[DataFrame]("evalGold", "documents")((s, dir) => evalGoldPred(s, dir)._1)
  private val evalPred = new Artifact[DataFrame]("evalPred", "documents")((s, dir) => evalGoldPred(s, dir)._2)

  /** Build every declared session artifact, in declaration order. The bench
    * warms these OUTSIDE its timed per-query loop and reports the build as
    * its own line, so per-query numbers measure the query rather than
    * artifact construction order. */
  def warmSharedCaches(s: SparkSession, dir: String): Unit =
    Artifact.declared.foreach(_(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- knowledge graph construction -------------------------------------
    "kg_transcripts" -> ((s, dir) =>
      Transcripts
        .read(s, dir)
        .select(
          col("conv_id"),
          col("turn_idx"),
          col("role"),
          col("text"),
          col("tool"),
          unix_timestamp(col("ts")).as("ts_epoch")
        )),
    "kg_turns_ordered" -> ((s, dir) =>
      KgPipeline
        .orderedTurns(Transcripts.read(s, dir))
        .select("conv_id", "turn_idx", "turn_seq", "text")),
    "kg_mentions" -> ((s, dir) => mentions(s, dir)), // span grain vs executed-reference fixture
    "kg_mention_counts" -> ((s, dir) => KgPipeline.mentionCounts(mentions(s, dir))),
    "kg_vespa_concepts" -> ((s, dir) => KgPipeline.vespaConcepts(s, mentions(s, dir))),
    // span grain WITH labellers + timestamps: A4 first-seen merge across two
    // labelling passes + the Vespa max-timestamp sink rule (epoch longs)
    "kg_vespa_concepts_ts" -> ((s, dir) => KgPipeline.vespaConceptsTs(s, mentions(s, dir))),
    "kg_concept_counts" -> ((s, dir) => KgPipeline.conceptCounts(s, mentions(s, dir))),
    // the reference's keyed-map contract, stringified via map_entries (the
    // map is built in sorted-key order, so serialization is deterministic)
    "kg_concept_counts_map" -> ((s, dir) =>
      KgPipeline
        .conceptCountsMap(s, mentions(s, dir))
        .select(
          col("conv_id"),
          concat_ws(
            ";",
            transform(
              map_entries(col("concept_counts")),
              e => concat(e.getField("key"), lit("="), e.getField("value").cast("string"))
            )
          ).as("counts_str")
        )),
    "kg_triples" -> ((s, dir) => KgPipeline.triples(s, dir)),
    "kg_nodes" -> ((s, dir) =>
      KgPipeline.nodes(s, KgPipeline.eligibleTurns(Transcripts.read(s, dir)), KgPipeline.defaultConcepts)),
    "kg_cooccurrence" -> ((s, dir) => coEdges(s, dir)),
    // co-occurrence significance: quantized lift (exp-PMI) — divides the
    // chance co-occurrence rate out of the raw counts; log-free fixed point
    "kg_pmi" -> ((s, dir) => KgPipeline.cooccurrenceLift(mentions(s, dir))),
    // fixed-point weighted PageRank over the co-occurrence graph (scale
    // 2^32 integer ranks — exact, order-free, oracle-reproducible)
    "kg_pagerank" -> ((s, dir) =>
      graft.kg.PageRank.run(coEdges(s, dir), iterations = 5,
        numParts = partsFor(s, coEdges.rows(s, dir)))),
    // HITS hubs/authorities over the DIRECTED conv -> concept mention
    // bipartite (fixed-point scale 2^24, L-inf normalization): hub convs
    // concentrate mentions on authoritative concepts and vice versa
    "kg_hits" -> ((s, dir) =>
      graft.kg.Hits.run(KgPipeline.mentionCounts(mentions(s, dir)), iterations = 4,
        numParts = partsFor(s, mentions.rows(s, dir)))),
    // personalized PageRank: random walk with restart at the max-strength
    // concept (data-derived deterministic seed, 1-row broadcast) — ranks
    // measure proximity to the seed, the "related entities" query
    "kg_ppr" -> ((s, dir) =>
      graft.kg.PageRank.personalized(coEdges(s, dir), iterations = 5,
        numParts = partsFor(s, coEdges.rows(s, dir)))),
    // harmonic closeness centrality within 6 hops over the strong-edge
    // backbone (the raw conv-grain co-occurrence graph is near-complete, so
    // distance is only meaningful on the 85%-of-max backbone — same
    // relative threshold as kg_kcore/kg_link_predict)
    "kg_closeness" -> ((s, dir) =>
      graft.kg.Centrality.harmonic(strongBackbone(s, dir), maxHops = 6,
        numParts = partsFor(s, strongBackbone.rows(s, dir)))),
    // hop-bounded eccentricity per node on the same backbone — the per-node
    // diameter/radius primitive (the consumer's max/min over this relation)
    "kg_eccentricity" -> ((s, dir) =>
      graft.kg.Centrality.eccentricity(strongBackbone(s, dir), maxHops = 6,
        numParts = partsFor(s, strongBackbone.rows(s, dir)))),
    // landmark distance oracle: BFS from the 4 smallest-md5 landmarks only,
    // pair estimate = min_l d(u,l)+d(l,v) — the constant-time distance
    // query past the all-pairs regime
    "kg_landmark_dist" -> ((s, dir) =>
      graft.kg.Centrality.landmarkDistances(strongBackbone(s, dir), landmarks = 4, maxHops = 6,
        numParts = partsFor(s, strongBackbone.rows(s, dir)))),
    // exact Brandes betweenness (hop-bounded, fixed-point 10^6): which
    // concepts BROKER the backbone — the bridge-detection analytic that
    // degree/PageRank centralities miss
    "kg_betweenness" -> ((s, dir) =>
      graft.kg.Centrality.betweenness(strongBackbone(s, dir), maxHops = 4,
        numParts = partsFor(s, strongBackbone.rows(s, dir)))),
    // connected components of the backbone (large-star/small-star CC, the
    // same engine that closes dedup clusters): component = min node id,
    // summarized to (component, n_nodes); oracle = an independent
    // recursive-CTE reachability closure
    "kg_components" -> ((s, dir) => {
      val cc = graft.kg.ConnectedComponents.run(
        s,
        strongBackbone(s, dir)
          .select(col("concept_a").as("src"), col("concept_b").as("dst")))
      cc.groupBy("component").agg(count(lit(1)).as("n_nodes"))
    }),
    // Newman modularity of the LPA assignment: per-community exact integer
    // sufficient statistics + the quantized contribution q_ppm
    "kg_modularity" -> ((s, dir) => {
      val co = coEdges(s, dir)
      graft.kg.Communities.modularity(
        co,
        graft.kg.Communities.labelPropagation(co, iterations = 4,
          numParts = partsFor(s, coEdges.rows(s, dir))))
    }),
    // DeepWalk corpus: 2 deterministic hash-coin random walks of length 4
    // per node — the skip-gram embedding feedstock derived from the KG
    "kg_walks" -> ((s, dir) =>
      graft.kg.Walks.deepWalks(coEdges(s, dir), nWalks = 2, len = 4,
        numParts = partsFor(s, coEdges.rows(s, dir)))),
    // node2vec second-order biased walks (p=1, q=0.5 as integer weights
    // 1/1/2): the BFS<->DFS-tunable corpus; exact cumulative-bucket coin
    "kg_node2vec" -> ((s, dir) =>
      graft.kg.Walks.node2vecWalks(coEdges(s, dir), nWalks = 2, len = 4,
        wReturn = 1L, wIn = 1L, wOut = 2L,
        numParts = partsFor(s, coEdges.rows(s, dir)))),
    // contrastive negatives for KG-embedding training: one hash-coin
    // corrupted tail per positive edge, accidental positives filtered
    "kg_negatives" -> ((s, dir) => graft.kg.Walks.negativeSamples(coEdges(s, dir))),
    // concept mention trends: span counts per (concept, UTC day) — the
    // "trending entities" timeline over the corpus timestamps (epoch-day
    // integers, tz-free, so the oracle hash-compares exactly)
    "kg_trends" -> ((s, dir) => KgPipeline.trends(s, dir, mentions(s, dir))),
    // burst days per concept: calendar-RANGE trailing window over the
    // trend relation, all-integer predicate (n·7 > 2·trail_sum)
    "kg_bursts" -> ((s, dir) =>
      KgPipeline.burstDays(KgPipeline.trends(s, dir, mentions(s, dir)), window = 7, factor = 2)),
    // per-node triangle counts (local clustering): degree-ordered edge
    // orientation; oracle uses the naive a<b<c self-join formulation
    "kg_triangles" -> ((s, dir) =>
      graft.kg.Triangles.triangleCounts(coEdges(s, dir))),
    // common-neighbour link prediction: top-k non-adjacent concept pairs
    // by shared-neighbour count. The raw conv-grain co-occurrence graph is
    // COMPLETE (every concept pair co-occurs somewhere in a big corpus),
    // so prediction runs on the strong-edge backbone: edges within 85% of
    // the max weight — a RELATIVE threshold, so the pruning is scale-free
    // (1-row max aggregate broadcast, no driver-side collect)
    "kg_link_predict" -> ((s, dir) =>
      graft.kg.Triangles.linkPrediction(strongBackbone(s, dir), k = 20)),
    // Resource-Allocation link prediction (Zhou et al. 2009): shared
    // neighbours discounted by 1/deg — exact ppm integers, so the RA
    // refinement stays oracle-checkable where Adamic-Adar's log can't be
    "kg_link_predict_ra" -> ((s, dir) =>
      graft.kg.Triangles.linkPredictionRA(strongBackbone(s, dir), k = 20)),
    "kg_link_predict_jaccard" -> ((s, dir) =>
      graft.kg.Triangles.linkPredictionJaccard(strongBackbone(s, dir), k = 20)),
    // bounded-depth BFS (graph traversal): min-hop distance from concept
    // Q15 over the canonicalization edge universe, frontier-expansion loop
    "kg_khop" -> ((s, dir) => KgPipeline.kHopNeighborhood(s, seed = "Q15", maxHops = 3)),
    // weighted label-propagation communities: synchronous rounds, fixed
    // iteration count, min-label tie rule — all-long/string-min arithmetic
    "kg_communities" -> ((s, dir) =>
      graft.kg.Communities.labelPropagation(coEdges(s, dir), iterations = 4,
        numParts = partsFor(s, coEdges.rows(s, dir)))),
    // local clustering coefficient (ppm fixed-point) — triangles normalized
    // by the neighbour-pair count
    "kg_clustering" -> ((s, dir) =>
      graft.kg.Triangles.clusteringCoefficients(coEdges(s, dir))),
    // bounded weighted shortest paths (Bellman-Ford rounds) from the
    // max-strength concept; oracle = recursive-CTE walk enumeration
    "kg_shortest_path" -> ((s, dir) =>
      graft.kg.ShortestPaths.fromStrongestNode(coEdges(s, dir), maxHops = 3,
        numParts = partsFor(s, coEdges.rows(s, dir)))),
    // 2-core of the strong-edge backbone: run-to-fixpoint peeling; oracle
    // unrolls 16 peel rounds (monotone, so extra rounds are no-ops)
    "kg_kcore" -> ((s, dir) => graft.kg.KCore.kCore(strongBackbone(s, dir), k = 2)),
    // 3-truss of the strong-edge backbone: EDGE-grain cohesion (every
    // surviving edge closes >= 1 triangle within the truss) — the stricter
    // community certificate over kg_kcore's node grain; same
    // run-to-fixpoint peeling, support recomputed per round via the
    // audited degree-ordered triangle orientation
    "kg_ktruss" -> ((s, dir) =>
      graft.kg.KTruss.kTruss(strongBackbone(s, dir), k = 3)),
    // degree assortativity of the FULL co-occurrence graph (Newman 2002):
    // one summary row of exact-long sufficient statistics + the IEEE r
    "kg_assortativity" -> ((s, dir) =>
      graft.kg.GraphStats.assortativity(coEdges(s, dir))),
    // per-node 4-cycle counts on the backbone: wedge-pair combinatorics
    // vs the oracle's brute-force closed-4-walk enumeration
    "kg_rectangles" -> ((s, dir) =>
      graft.kg.GraphStats.rectangleCounts(strongBackbone(s, dir))),
    // diameter/radius rollup of the hop-bounded eccentricity relation
    "kg_diameter" -> ((s, dir) =>
      graft.kg.GraphStats.diameterSummary(
        graft.kg.Centrality.eccentricity(strongBackbone(s, dir), maxHops = 6,
          numParts = partsFor(s, strongBackbone.rows(s, dir))))),
    // SCCs of the implication digraph (backbone edges directed from the
    // rarer to the more frequent concept; equal marginals -> mutual, which
    // is where real cycles come from): forward-backward coloring vs the
    // oracle's mutual-reachability closure
    "kg_scc" -> ((s, dir) => {
      val marginals = mentions(s, dir)
        .select("conv_id", "concept_id")
        .distinct()
        .groupBy("concept_id")
        .agg(count(lit(1)).as("n"))
      graft.kg.Scc.run(
        s,
        graft.kg.Scc.implicationDigraph(strongBackbone(s, dir), marginals))
    }),
    // condensation DAG of the implication digraph: mutually-implicative
    // clusters rolled up, edges = the specific-to-general hierarchy
    "kg_condensation" -> ((s, dir) => {
      val marginals = mentions(s, dir)
        .select("conv_id", "concept_id")
        .distinct()
        .groupBy("concept_id")
        .agg(count(lit(1)).as("n"))
      graft.kg.Scc.condensation(
        s,
        graft.kg.Scc.implicationDigraph(strongBackbone(s, dir), marginals))
    }),
    // pivot-sampled betweenness (Brandes-Pich 2007): the documented
    // past-10^5-nodes scale move, exercised and oracle-checked — sources
    // are the 6 hash-min pivots, deterministic in both engines
    "kg_betweenness_pivot" -> ((s, dir) =>
      graft.kg.Centrality.betweenness(strongBackbone(s, dir), maxHops = 4, pivots = 6,
        numParts = partsFor(s, strongBackbone.rows(s, dir)))),
    "kg_canonical" -> ((s, dir) => KgPipeline.canonicalEntities(s)),
    // incremental CC: ~25% of dictionary edges folded into the base
    // assignment; oracle = the FULL component computation (equality with a
    // full run is the incremental-correctness statement)
    "kg_canonical_incr" -> ((s, dir) => KgPipeline.canonicalEntitiesIncremental(s)),
    // array outputs are projected to deterministic strings (the driver's
    // pandas comparator can't hash array cells); arrays are sorted upstream
    "kg_passage_concepts" -> ((s, dir) =>
      graft.kg.Aggregations
        .mentionsPerTurn(mentions(s, dir))
        .select(
          col("conv_id"),
          col("turn_idx"),
          concat_ws(
            ";",
            transform(
              col("concepts"),
              m =>
                concat_ws(
                  ":",
                  m.getField("start").cast("string"),
                  m.getField("end").cast("string"),
                  m.getField("concept_id"),
                  m.getField("span_id")
                )
            )
          ).as("concepts_str"),
          col("n_spans")
        )),
    "kg_spans_v2" -> ((s, dir) =>
      graft.kg.Aggregations
        .spansV2(mentions(s, dir))
        .select(
          col("conv_id"),
          col("turn_idx"),
          col("start"),
          col("end"),
          array_join(col("concepts_v2"), ",").as("concepts_v2_str")
        )),
    "kg_linked_surfaces" -> ((s, dir) =>
      graft.kg.Linking.linkSurfaces(s, mentions(s, dir), KgPipeline.defaultConcepts)),
    "kg_canonical_mentions" -> ((s, dir) =>
      KgPipeline.canonicalizeMentions(s, mentions(s, dir))),
    // G1 end-to-end across two real classifier passes (keyword + embedding)
    "kg_multi_classifier" -> ((s, dir) =>
      KgPipeline.collateClassifiers(KgPipeline.multiClassifierMentions(s, dir))),
    "kg_lineage" -> ((s, dir) => {
      val turns = KgPipeline
        .eligibleTurns(Transcripts.read(s, dir))
        .withColumn("bucket", (regexp_extract(col("conv_id"), "([0-9]+)$", 1).cast("int") % 32).cast("int"))
      val m = mentions(s, dir)
        .withColumn("bucket", (regexp_extract(col("conv_id"), "([0-9]+)$", 1).cast("int") % 32).cast("int"))
      val t = turns.groupBy("bucket").agg(count(lit(1)).as("n_turns"))
      val mm = m.groupBy("bucket").agg(count(lit(1)).as("n_mentions"))
      t.join(mm, Seq("bucket"), "left")
        .select(col("bucket"), col("n_turns"), coalesce(col("n_mentions"), lit(0L)).as("n_mentions"))
    }),
    // geography fuzzy linking (geography.py:22-33): synthetic geography
    // strings (dimension names with deterministic single-char drops) linked
    // to ISO codes by the InDel-ratio expression
    "kg_geography" -> ((s, dir) => {
      val names = graft.core.Geography.dim.map(_._1)
      val nm = element_at(typedLit(names), (col("doc_id") % names.size).cast("int") + 1)
      val p = (col("doc_id") % 5).cast("int") + 2
      val geoStr = when(
        col("doc_id") % 3 === 0,
        concat(substr(nm, lit(1), p - 1), substr(nm, p + 1, lit(1000000)))
      ).otherwise(nm)
      docs(s, dir).select(
        col("doc_id"),
        geoStr.as("geo_string"),
        graft.extract.GeoLink.linkGeography(geoStr).as("iso")
      )
    }),
    // ---- dedup -------------------------------------------------------------
    // the synthetic corpus has no byte-identical duplicates, so the exact-dedup
    // input plants them deterministically (every 7th doc re-keyed) — the oracle
    // mirrors the same construction, and the query asserts on non-empty groups
    "dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir)
      val planted = d.where(col("doc_id") % 7 === 0).withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.exact(d.unionByName(planted))
    }),
    "dedup_ngram" -> ((s, dir) => Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5)),
    // the band-bucket self-join would re-execute the signature subtree
    // (shingle explode + 32 min-aggs) on both sides — localCheckpoint the
    // signature index once so both join sides read materialized rows (the
    // same role a persisted signature table plays at 100 TB)
    // EXHAUSTIVE banding for the exact-truth oracle: with rowsPerBand=1 a
    // true pair is a candidate unless ALL 32 independent min-hashes differ
    // — miss probability (1-j)^32 <= 2^-32 at the 0.5 threshold, so the
    // verified pair set equals the all-pairs truth on any corpus (the
    // sf1-equivalent sweep surfaced the classic S-curve recall gap of the
    // production (8,4) banding: 2527/3144 pairs at j in [0.5, 0.8); (8,4)
    // stays the production default, 5x cheaper, and PlantedDedupSpec pins
    // its recall on the planted near-dup tiers)
    "dedup_minhash" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup
        .minhashPairs(d, threshold = 0.5, bands = 32, rowsPerBand = 1,
          preSigs = Some(minhashSigs(s, dir)))
        .select("doc_a", "doc_b")
    }),
    // transitive near-dup CLUSTERING: pairwise drop-the-greater-id dedup is
    // not transitive (A~B, B~C but A!~C leaves an inconsistent keep set);
    // closing the LSH pair set under connected components assigns every
    // near-dup doc its cluster (min doc_id = the canonical representative
    // to keep). Exhaustive (32,1) banding for exact-truth oracle parity
    "dedup_cluster" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs =
        Dedup.minhashPairs(d, threshold = 0.5, bands = 32, rowsPerBand = 1,
          preSigs = Some(minhashSigs(s, dir)))
      graft.kg.ConnectedComponents
        .run(s, pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("node").as("doc_id"), col("component").as("cluster"))
    }),
    // incremental ingest: the doc_id%5==0 batch deduped against the
    // persisted signature index of the rest — old x old pairs never
    // re-derived; result == full-LSH pairs touching the batch
    "dedup_minhash_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSigs = Dedup
        .minhashSignatures(d.where(col("doc_id") % 5 =!= 0), k = 32)
        .localCheckpoint(false)
      val (pairs, _) = Dedup.minhashPairsIncremental(
        d.where(col("doc_id") % 5 === 0), d, oldSigs, threshold = 0.5, bands = 32, rowsPerBand = 1)
      pairs.select("doc_a", "doc_b")
    }),
    // oracle-checked simhash runs the portable md5-based 60-bit token hash so
    // DuckDB can recompute signatures from scratch; prod default is xxhash64
    "dedup_simhash" -> ((s, dir) => {
      val d = docs(s, dir)
      val sigs = Dedup.simhash(d, nBits = 60, tokenHash = Dedup.portableTokenHash).localCheckpoint()
      Dedup
        .simhashPairs(d, maxHamming = 3, nBits = 60, tokenHash = Dedup.portableTokenHash, preSigs = Some(sigs))
        .select("doc_a", "doc_b")
    }),
    // simhash batch ingest: lossless pigeonhole blocking makes the
    // incremental == full-restricted equality unconditional
    "dedup_simhash_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSigs = Dedup
        .simhash(d.where(col("doc_id") % 5 =!= 0), nBits = 60, tokenHash = Dedup.portableTokenHash)
        .localCheckpoint(false)
      val (pairs, _) = Dedup.simhashPairsIncremental(
        d.where(col("doc_id") % 5 === 0), oldSigs,
        maxHamming = 3, nBits = 60, tokenHash = Dedup.portableTokenHash)
      pairs.select("doc_a", "doc_b")
    }),
    "dedup_embedding" -> ((s, dir) => Similarity.embeddingNearDups(emb(s, dir), nQueries = 200, threshold = 0.4)),
    // scale path: IVF-cell-blocked candidates + exact verify, same oracle as
    // the brute-force baseline (recall 1.0 at nProbe=6/16 on this corpus).
    // The codebook is the session-cached ingest artifact (ivfCodebook) and
    // the probe index is localCheckpointed so the candidate self-join reads
    // materialized rows instead of re-projecting both sides
    "dedup_embedding_ivf" -> ((s, dir) => {
      // nProbe 6 -> 10: the sf1-equivalent sweep (20k vectors) measured
      // recall 1872/1875 at 6 probes — rotated near-dup replicas land in
      // farther cells as cells fill; 10/16 probes restores exact parity at
      // every scale (probes only ADD candidates; the exact verify is
      // unchanged, so smaller scales are bit-identical)
      val cb = ivfCodebook(s, dir)
      val probes = Similarity.probeAssign(emb(s, dir), nProbe = 10, preCents = Some(cb)).localCheckpoint()
      Similarity.embeddingNearDupsIvf(
        emb(s, dir), nQueries = 200, threshold = 0.4, nProbe = 10,
        preProbes = Some(probes), preCents = Some(cb))
    }),
    // embedding batch ingest: vec_id%5==0 vectors (bounded to vec_id<1000 —
    // the sf1-equivalent sweep showed DuckDB's inequality-join oracle
    // materializing >100 GB on an UNBOUNDED batch at 20k vectors; the engine
    // side was fine, but the oracle must stay re-derivable at every scale)
    // probe-assigned against the shared codebook and joined one-sided vs the
    // persisted probe index
    "dedup_embedding_incr" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = ivfCodebook(s, dir)
      val oldProbes = Similarity
        .probeAssign(e.where(col("vec_id") % 5 =!= 0), nProbe = 10, preCents = Some(cb))
        .localCheckpoint()
      val (pairs, _) = Similarity.embeddingNearDupsIvfIncremental(
        e.where(col("vec_id") % 5 === 0 && col("vec_id") < 1000), e, oldProbes, cb,
        threshold = 0.4, nProbe = 10)
      pairs
    }),
    // SemDeDup-style semantic dedup: nearest-cell partition of the corpus,
    // within-cell duplicate pairs, drop the member nearer its centroid
    // (keep the diverse representative). Same session-cached codebook as
    // the IVF rows; every vector gets a (cell, kept) verdict
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(emb(s, dir), ivfCodebook(s, dir), threshold = 0.4)),
    // ---- similarity search --------------------------------------------------
    "sim_topk" -> ((s, dir) => Similarity.bruteForceTopK(emb(s, dir), nQueries = 50, k = 10)),
    // the cell index (assigned) stands for the persisted ANN index: each
    // call assigns every vector to its cell under the shared codebook and
    // checkpoints the result before the query side probes it. It is the
    // next candidate for a session artifact; no benchmark workload times
    // these two queries yet
    "sim_ann_ivf" -> ((s, dir) => {
      val cb = ivfCodebook(s, dir)
      val assigned = Similarity.ivfAssign(emb(s, dir), preCents = Some(cb)).localCheckpoint()
      Similarity.ivfTopK(
        emb(s, dir), nQueries = 50, k = 10,
        preAssigned = Some(assigned), preCents = Some(cb))
    }),
    // int8 scalar-quantized brute force: the compressed-index tier (1
    // byte/dim). Scales are the session-cached ingest artifact; the ranking
    // is exact integer dots, so the row is hash-oracled, and recall vs the
    // float ranking is measured in the spec.
    "sim_topk_sq8" -> ((s, dir) =>
      Similarity.sq8TopK(emb(s, dir), sq8Scales(s, dir), nQueries = 50, k = 10)),
    // IVF pruning × SQ8 compression composed: scanned fraction bounded by
    // nProbe/nCells AND bytes-per-row bounded at 1/dim — the production
    // ANN shape; both model artifacts come from the session cache, the
    // cell index is rebuilt and checkpointed per call as in sim_ann_ivf
    "sim_ann_ivf_sq8" -> ((s, dir) => {
      val cb = ivfCodebook(s, dir)
      val assigned = Similarity.ivfAssign(emb(s, dir), preCents = Some(cb)).localCheckpoint()
      Similarity.sq8IvfTopK(
        emb(s, dir), sq8Scales(s, dir), nQueries = 50, k = 10,
        preAssigned = Some(assigned), preCents = Some(cb))
    }),
    // product quantization: m=8 subspace codebooks, 8-byte codes (32×
    // compression), asymmetric-distance scoring — per candidate the scan
    // does m integer lookups+adds, never touching the float vector
    "sim_topk_pq" -> ((s, dir) =>
      Similarity.pqTopK(emb(s, dir), pqBooks(s, dir), nQueries = 50, k = 10, preCodes = Some(pqCodes(s, dir)))),
    // PQ-then-re-rank: integer ADC nominates a 50-candidate shortlist,
    // exact cosine re-ranks it — float work is queries × shortlist, never
    // queries × corpus (the standard coarse-code deployment shape)
    "sim_topk_pq_rerank" -> ((s, dir) =>
      Similarity.pqRerankTopK(
        emb(s, dir), pqBooks(s, dir), nQueries = 50, k = 10, shortlist = 50, preCodes = Some(pqCodes(s, dir)))),
    // ---- text analysis ------------------------------------------------------
    "text_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),
    "text_tokens" -> ((s, dir) => TextAnalysis.tokenStats(docs(s, dir))),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    "text_langid" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    "text_repetition" -> ((s, dir) => TextAnalysis.repetitionMetrics(docs(s, dir))),
    // PII scrubbing over a corpus with deterministically PLANTED pii (the
    // synthetic corpus has none — the same non-vacuity device as the
    // planted exact dups): emails on doc_id%2, phones on %3, IPs on %5
    "text_pii" -> ((s, dir) => {
      val d = docs(s, dir)
      val planted = d.select(
        col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit(" call 555-0199")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" from 10.0.0.7")).otherwise(lit(""))
        ).as("text")
      )
      TextAnalysis.piiRedact(planted)
    }),
    // temperature-based source mixing (n^0.5 weights, largest-remainder
    // allocation, content-hash fill order)
    "data_mix" -> ((s, dir) => graft.data.Sampling.temperatureMix(docs(s, dir), budget = 200L)),
    // deterministic train/val/test hash split (80/10/10): membership is a
    // pure function of (salt, doc_id) — map-only, growth-stable (adding
    // docs never reassigns an old one), bit-exact across engines
    "data_split" -> ((s, dir) =>
      graft.data.Sampling.hashSplit(
        docs(s, dir).select("doc_id"), "doc_id",
        Seq(("train", 800000L), ("val", 100000L), ("test", 100000L)), salt = "s1")),
    // cross-corpus bigram novelty (integer-count LM-surprise stand-in):
    // doc_id%10==0 is the reference model corpus, the rest are scored;
    // doc_id%4==0 scored docs get a PLANTED unseen token so rare bigrams
    // exist at every scale factor
    "text_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      val scored = d
        .where(col("doc_id") % 10 =!= 0)
        .select(
          col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 4 === 0, concat(lit(" novel"), col("doc_id").cast("string")))
              .otherwise(lit(""))).as("text"))
      TextAnalysis.ngramNovelty(scored, d.where(col("doc_id") % 10 === 0), minCount = 2L)
    }),
    // DSIR-style hashed-bigram importance weighting: target = the src0
    // exemplar corpus, every other doc scored by its quantized
    // target/raw likelihood-ratio sum
    "data_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.data.TextAnalysis.importanceWeights(
        d.where(col("source") =!= "src0"),
        d.where(col("source") === "src0"))
    }),
    // keyword retrieval: tf × integer inverse-df weights, top-10
    "search_topk" -> ((s, dir) =>
      graft.data.Search.searchTopK(docs(s, dir), Seq("merge", "window", "customer"), k = 10)),
    // BM25-shaped retrieval: tf saturation + doc-length normalization in
    // exact fixed-point longs (k1=1.2, b=0.75 as rationals)
    "search_bm25" -> ((s, dir) =>
      graft.data.Search.searchBm25(docs(s, dir), Seq("merge", "window", "customer"), k = 10)),
    // per-doc tf-idf keyword extraction: top-3 most characteristic terms,
    // df-derived stopword cut (df*2 > N), all-integer scores
    "text_tfidf" -> ((s, dir) => graft.data.Search.keywordExtract(docs(s, dir), k = 3)),
    // bigram-LM fluency score (the CCNet quality device): mean corpus
    // transition frequency of each doc's bigrams, exact fixed-point
    "text_lm" -> ((s, dir) => graft.data.TextAnalysis.lmTransitionScore(docs(s, dir))),
    // exact quantile gate: keep the top 60% of docs by stopword-ppm quality
    // score; threshold = the k-th largest score via a histogram-grain
    // running sum (never a window over documents), ties inclusive
    "data_quality_gate" -> ((s, dir) =>
      graft.data.Quantiles.qualityGate(docs(s, dir), keepPct = 60)),
    // exact nearest-rank percentile summary of the quality-score
    // distribution — same histogram-grain running sum, one row per pct
    "data_quantiles" -> ((s, dir) => graft.data.Quantiles.scorePercentiles(docs(s, dir))),
    // HLL register table over the corpus token stream: portable 60-bit md5
    // hash, bucket = h mod 256, per-bucket max trailing-zero rank — the
    // mergeable distinct-count sketch with oracle-checkable state
    "sketch_distinct" -> ((s, dir) => graft.data.Sketches.hllRegisters(docs(s, dir), m = 256)),
    // incremental twin: sketch the 90% "old corpus" and the 10% batch
    // separately, merge registers (union + MAX); oracle = the from-scratch
    // full-corpus sketch — equality IS the merge law
    "sketch_distinct_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.data.Sketches.mergeRegisters(
        graft.data.Sketches.hllRegisters(d.where(col("doc_id") % 10 =!= 9), m = 256),
        graft.data.Sketches.hllRegisters(d.where(col("doc_id") % 10 === 9), m = 256))
    }),
    // Count-Min counter table (d=4 hash rows × w=512 buckets): exact integer
    // counts on the portable per-row hash — the frequency-estimation sketch
    // that pairs with the Misra-Gries heavy-hitter candidates
    "sketch_cms" -> ((s, dir) => graft.data.Sketches.cmsCounters(docs(s, dir), w = 512, d = 4)),
    // incremental twin: sketch the 90% "old corpus" and the 10% batch
    // separately, merge counters (union + per-cell SUM); oracle = the
    // from-scratch full-corpus sketch — equality IS the merge law
    "sketch_cms_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.data.Sketches.mergeCms(
        graft.data.Sketches.cmsCounters(d.where(col("doc_id") % 10 =!= 9), w = 512, d = 4),
        graft.data.Sketches.cmsCounters(d.where(col("doc_id") % 10 === 9), w = 512, d = 4))
    }),
    // KMV bottom-k sketch over the distinct token set, PRE-FILTERED map-side
    // by a threshold derived from the corpus's own HLL registers (sketch
    // composing with sketch — the 100 TB shuffle-thinning path); the oracle
    // is the UNFILTERED formulation, so equality proves the filter
    // result-invariant on this corpus
    "sketch_kmv" -> ((s, dir) => {
      val d = docs(s, dir)
      // the HLL register table is a corpus-epoch artifact (<= 256 longs,
      // the bounded-model-artifact class): served from the session cache
      // like the codebooks instead of re-sketching the corpus inside the
      // timed query (VERDICT r5 "next round" #4)
      val regs = hllRegisters(s, dir)
      graft.data.Sketches.kmvBottomK(
        d, k = 256, distinctEstimate = Some(graft.data.Sketches.hllEstimate(regs, 256)))
    }),
    // set-operation estimates between the even- and odd-doc SHINGLE
    // vocabularies (16.5k+ distinct 3-grams — the word vocab's 31 tokens
    // would leave the estimator branch untested) from their bottom-k
    // sketches alone: union size, Jaccard, intersection, never joining
    // the corpora
    "sketch_kmv_ops" -> ((s, dir) => {
      val d = docs(s, dir)
      // two-phase split-then-shingle (the shinglesFromTokens contract): an
      // inline split inside the transform lambda re-splits the text once
      // per shingle per gram position — measured 3-4x the cost of the
      // whole sketch at sf0.1
      def sh(side: DataFrame) =
        side
          .select(split(col("text"), " ").as("toks"))
          .select(explode(graft.data.Dedup.shinglesFromTokens(col("toks"))).as("tok"))
      graft.data.Sketches.kmvSetOps(
        sh(d.where(col("doc_id") % 2 === 0)),
        sh(d.where(col("doc_id") % 2 === 1)),
        k = 256)
    }),
    // incremental twin: bottom-k of the two part-sketches' union must equal
    // the from-scratch full-corpus bottom-k (each part's k smallest contain
    // every hash eligible for the union's k smallest)
    "sketch_kmv_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.data.Sketches.mergeKmv(
        graft.data.Sketches.kmvBottomK(d.where(col("doc_id") % 10 =!= 9), k = 256),
        graft.data.Sketches.kmvBottomK(d.where(col("doc_id") % 10 === 9), k = 256),
        k = 256)
    }),
    // bottom-k uniform ROW sample (the quantile sketch for unbounded value
    // domains): the portable doc_id hash is the sampling coin, each sampled
    // row carries its token count, quantiles are a driver-side fold over
    // <= k rows; the exact table row count feeds the map-side pre-filter
    // (result-invariant, proven by parity with the unfiltered oracle)
    "sketch_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.data.Sketches.bottomKSample(d, k = 256, rowEstimate = Some(d.count().toDouble))
    }),
    // incremental twin: bottom-k of the two part-samples' union must equal
    // the from-scratch full-corpus bottom-k (same merge law as KMV)
    "sketch_sample_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.data.Sketches.mergeSamples(
        graft.data.Sketches.bottomKSample(d.where(col("doc_id") % 10 =!= 9), k = 256),
        graft.data.Sketches.bottomKSample(d.where(col("doc_id") % 10 === 9), k = 256),
        k = 256)
    }),
    // C4-style corpus cleaning over planted line structure: the flat token
    // corpus is re-sentenced (8-token lines with terminal '.'), then noisy
    // lines are planted — corpus-wide boilerplate dup (%4), a too-short
    // line (%6), a no-terminal-punct line (%5), a lorem-ipsum doc (%97),
    // a curly-brace code doc (%89) — so every rule fires non-vacuously
    "text_c4_clean" -> ((s, dir) => {
      val structured = docs(s, dir).select(
        col("doc_id"),
        concat(
          regexp_replace(col("text"), lit("(([^ ]+ ){7}[^ ]+) "), lit("$1.\n")),
          when(col("doc_id") % 4 === 0, lit("\nsubscribe to our newsletter today.")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("\nok.")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\nthis line has no terminal punctuation")).otherwise(lit("")),
          when(col("doc_id") % 97 === 0, lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0, lit("\nbad { code }.")).otherwise(lit(""))
        ).as("text"))
      TextAnalysis.c4Clean(structured, minWords = 3, minKept = 2)
    }),
    // incremental exact-dedup ingest via a persisted Bloom filter: the
    // planted batch (1/3 exact re-posts of corpus texts, 1/3 genuinely new)
    // against the full corpus; bloom prunes map-side, an exact semi-join
    // verifies — result is EXACTLY the anti-join the oracle computes
    "dedup_bloom_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d
        .where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        .unionByName(
          d.where(col("doc_id") % 3 === 1)
            .select(
              (col("doc_id") + 3000000L).as("doc_id"),
              concat(col("text"), lit(" batch-new-"), col("doc_id").cast("string")).as("text")))
      Dedup.bloomExcludeIncremental(batch, d.select("doc_id", "text"))
    }),
    // benchmark decontamination: training docs (doc_id%10<>0) scored by the
    // fraction of their distinct 8-gram shingles appearing anywhere in the
    // doc_id%10==0 "benchmark" slice — the n-gram-containment sibling of
    // F8's exact-text exclusion
    "dedup_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.where(col("doc_id") % 10 =!= 0),
        d.where(col("doc_id") % 10 === 0),
        n = 8,
        minFrac = 0.3)
    }),
    // substring-level exact dedup (Lee et al. 2021): maximal token ranges
    // whose every 20-token window appears verbatim elsewhere in the corpus
    // — the grain document-level hashing cannot see. Engine matches windows
    // by O(n) rolling hashes; the oracle by the actual window strings
    "dedup_substring" -> ((s, dir) => Dedup.duplicatedWindowRanges(docs(s, dir), width = 20)),
    // substring-dedup batch ingest: the doc_id%5==0 batch against the
    // persisted window-hash index of the rest — old corpus text never
    // re-tokenized; result == full run restricted to batch ∪ affected docs
    "dedup_substring_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldIdx = Dedup
        .windowHashRows(d.where(col("doc_id") % 5 =!= 0), width = 20)
        .localCheckpoint(false)
      val (ranges, _) =
        Dedup.duplicatedWindowRangesIncremental(d.where(col("doc_id") % 5 === 0), oldIdx, width = 20)
      ranges
    }),
    // training-example packing: two-level distributed prefix sum over each
    // source's token stream, cut into fixed 64-token examples
    "data_pack" -> ((s, dir) => graft.data.Packing.packExamples(docs(s, dir), seqLen = 64)),
    // end-to-end curation pipeline COMPOSITION: exact dedup (keep min id per
    // content hash) -> MinHash near-dup drop (drop the greater id of every
    // pair) -> quality gate (>= 20 tokens, top-unigram occupancy <= 0.2,
    // reusing repetitionMetrics) -> pack survivors into 64-token examples.
    // One declarative plan; proves the curation operators compose
    "pipeline_curate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      // every stage output below is MULTI-CONSUMED by the next (keep1 feeds
      // the signature index, the verify join's text side and keep2; keep2
      // feeds the repetition metrics and the join's left side; keep3 feeds
      // both levels of the packing prefix sum), so each is materialized
      // lazily once — the unmaterialized composition re-ran the exact-dedup
      // window up to 4x inside one action (profiled: the two trailing
      // 1.3-1.4 s single-task jobs at sf0.1 were duplicate subtree runs)
      val keep1 = d
        .withColumn("__rep", min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .where(col("doc_id") === col("__rep"))
        .drop("__rep")
        .localCheckpoint(false)
      val sigs = Dedup.minhashSignatures(keep1, k = 32).localCheckpoint()
      val nearDups = Dedup
        .minhashPairs(keep1, threshold = 0.5, bands = 32, rowsPerBand = 1, preSigs = Some(sigs))
        .select(col("doc_b").as("doc_id"))
        .distinct()
      val keep2 = keep1.join(nearDups, Seq("doc_id"), "left_anti").localCheckpoint(false)
      val keep3 = keep2
        .join(
          TextAnalysis.repetitionMetrics(keep2).select(col("doc_id"), col("top_unigram_frac")),
          "doc_id")
        .where(size(split(col("text"), " ")) >= 20 && col("top_unigram_frac") <= 0.2)
        .localCheckpoint(false)
      graft.data.Packing.packExamples(keep3, seqLen = 64)
    }),
    // rolling-hash content-defined chunking (partial-dup / delta primitive);
    // oracle = independent python chunker fixture joined on md5(text)
    "text_cdc" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(graft.extract.CdcChunks.cdcChunks(col("text"))).as("c"))
        .select(col("doc_id"), col("c.chunk_idx"), col("c.start"), col("c.end"), col("c.chunk_md5"))),
    // ---- multimodal ----------------------------------------------------------
    "mm_features" -> ((s, dir) =>
      Multimodal
        .features(s, Multimodal.mediaTable(docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("thumb_width"), col("thumb_height"))),
    "mm_frames" -> ((s, dir) =>
      Multimodal
        .sampleFrames(Multimodal.mediaTable(docs(s, dir)))
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))),
    // ---- document-selection filters / ensemble / strata ----------------------
    "f_source_filter" -> ((s, dir) =>
      Transcripts
        .read(s, dir)
        .where(graft.kg.Filters.sourceAllowed(col("conv_id"), Seq("src3", "src7")) &&
          graft.kg.Filters.notPlaceholder(col("conv_id")))
        .groupBy(split(col("conv_id"), "\\.").getItem(0).as("source"))
        .agg(count(lit(1)).as("n_turns"))),
    "f_prefer_translated" -> ((s, dir) => {
      // stems: every doc has a base stem, every third also a translated one
      val d = docs(s, dir)
      val base = d.select(concat(col("source"), lit(".doc."), col("doc_id")).as("stem"))
      val translated = d
        .where(col("doc_id") % 3 === 0)
        .select(concat(col("source"), lit(".doc."), col("doc_id"), lit("_translated_en")).as("stem"))
      graft.kg.Filters.preferTranslated(base.union(translated))
    }),
    "f8_exclude_training" -> ((s, dir) =>
      graft.kg.Filters
        .excludeTrainingTexts(docs(s, dir), docs(s, dir).where(col("doc_id") % 10 === 0))
        .select("doc_id")),
    "g7_ensemble" -> ((s, dir) => {
      // deterministic synthetic ensemble: 3 classifiers vote per document
      val d = docs(s, dir)
      val preds = (0 until 3)
        .map(c =>
          d.select(
            col("doc_id").as("passage_id"),
            lit(s"clf_$c").as("classifier_id"),
            ((col("doc_id") + c) % (c + 2) === 0).as("positive"),
            (((col("doc_id") * 7 + c * 13) % 100).cast("double") / 100).as("probability")
          ))
        .reduce(_ union _)
      graft.eval.Ensemble
        .passageStats(preds)
        .select(
          col("passage_id"),
          col("positive_ratio"),
          col("disagreement"),
          col("majority_vote"),
          round(col("prob_stdev"), 6).as("prob_stdev_r"),
          col("n_classifiers")
        )
    }),
    "g8_strata" -> ((s, dir) =>
      graft.eval.Ensemble.equityStrata(docs(s, dir), Seq("lang", "source"))(
        _.agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      )),
    "c2_embedding" -> ((s, dir) => {
      val passages = emb(s, dir)
        .select(col("vec_id").as("passage_id"), lit(64).as("text_len"), col("embedding"))
      val conceptVec = emb(s, dir)
        .where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0)
        .getSeq[Double](0)
        .toArray
      graft.extract.EmbeddingClassifier
        .predict(passages, "Q15", conceptVec, threshold = 0.4)
        .select("passage_id", "start", "end", "concept_id", "probability")
    }),
    // ---- relational coverage -------------------------------------------------
    "q1_agg" -> ((s, dir) =>
      Sources
        .table(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          count(lit(1)).as("n_rows")
        )),
    "q3_topk" -> ((s, dir) => {
      val cust = Sources.table(s, dir, "customer")
      val ord = Sources.table(s, dir, "orders")
      val li = Sources.table(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    "q_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(
          col("event_id"),
          col("user_id"),
          col("rn"),
          (col("value") - coalesce(col("prev_value"), lit(0.0))).as("value_delta")
        )
    }),
    "q_sessionize" -> ((s, dir) => {
      // session = maximal run of a user's events with < 30 min gaps;
      // classic cumulative-sum-over-gap-flags sessionization
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn(
          "new_session",
          when(col("prev_ts").isNull || unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) >= 1800, 1)
            .otherwise(0)
        )
        .withColumn("session_seq", sum(col("new_session")).over(w))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("duration_s")
        )
    }),
    "q_topk_per_user" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      events(s, dir)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select("user_id", "rk", "event_id")
    }),
    // as-of join: every purchase matched to the user's latest view at or
    // before it — the union-and-carry-forward plan (one shuffle, no range
    // explosion), ties broken deterministically by view event_id; timestamps
    // emitted as epoch seconds for cross-engine value parity
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase").select("event_id", "user_id", "ts", "value")
      val views = ev.where(col("event_type") === "view").select("event_id", "user_id", "ts", "value")
      graft.data.TemporalJoins
        .asofBackward(purchases, views, key = "user_id", ts = "ts",
          rightTie = "event_id", rightVals = Seq("event_id", "ts", "value"), prefix = "view_")
        .select(
          col("event_id"),
          col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"),
          col("value"),
          col("view_event_id"),
          unix_timestamp(col("view_ts")).as("view_ts_s"),
          col("view_value"))
    }),
    // band join: every (click, error) pair of the same user within ±1 h,
    // via band-bucket equi-join (quadratic blowup confined to one time bin
    // per key, never a per-key cross product)
    "q_band_join" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.data.TemporalJoins.bandJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "error"),
        key = "user_id", ts = "ts", bandSeconds = 3600L,
        leftVals = Seq("event_id"), rightVals = Seq("event_id"), prefix = "err_")
    }),
    // exact heavy hitters over the per-doc-distinct 3-gram shingle stream
    // (document-frequency boilerplate audit): bounded Misra-Gries candidate
    // pass + exact verify pass — output is exact despite the sketch
    "data_heavy_hitters" -> ((s, dir) => {
      val sh = graft.data.Par
        .fanOut(docs(s, dir).select(col("text")))
        .select(split(col("text"), " ").as("toks"))
        .select(explode(graft.data.Dedup.shinglesFromTokens(col("toks"))).as("shingle"))
      graft.data.HeavyHitters.heavyHitters(sh, "shingle", phi = 5e-5, k = 20000)
    }),
    "g9_balanced_sample" -> ((s, dir) => {
      // deterministic balanced sampling (G9, sampling.py:12-106): fixed quota
      // per stratum, ordered by a content hash instead of a seeded rand so the
      // DuckDB oracle reproduces it exactly
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(md5(col("event_id").cast("string")).asc, col("event_id").asc)
      events(s, dir)
        .where(col("event_type").isNotNull)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select("event_id", "event_type", "rn")
    }),
    // ---- G10: train-data balancing ------------------------------------------
    // eval-text exclusion (anti-join) then the reference's half/half cap with
    // remainder fill (train.py:101-178); "first k" made deterministic by
    // ordering on doc_id. Positives = docs mentioning 'scan'.
    "g10_train_balance" -> ((s, dir) => {
      val d = docs(s, dir)
      val eval_ = d.where(col("doc_id") % 13 === 0)
      val train = graft.data.Sampling.deduplicateAgainstEval(d, eval_)
      graft.data.Sampling
        .limitAndBalance(train, col("text").contains("scan"), maxSamples = 300L, orderCol = "doc_id")
        .select("doc_id", "is_positive")
    }),
    // ---- C3/C4: model-classifier plumbing (stub scorers, real contracts) ----
    // the scorers are deterministic integer-hash stubs (no transformer
    // runtime in-sandbox) chosen to be SQL-replicable, so the DuckDB oracle
    // checks the REAL parts end-to-end: batching, the whole-text-span
    // contract at the reference threshold 0.524 (C3, targets.py:96-142) and
    // the BIO run -> char-span reconstruction + min-length + threshold
    // filters (C4, bert_token_classifier.py:119-193 — itself locked against
    // the executed reference function by BioSpansSpec).
    "c3_targets" -> ((s, dir) => {
      val passages = docs(s, dir).select(col("doc_id").cast("long").as("passage_id"), col("text"))
      graft.extract.ModelClassifiers
        .predictSequence(s, passages, new graft.extract.ModelClassifiers.StubSequenceScorer, "Q1651")
    }),
    // C3 with REAL learned weights behind the same seam: hashed-BoW logistic
    // model (trained offline, 81% acc approximating a non-linear target
    // rule), integer-exact logits, fixture-joined oracle like text_cdc
    "c3_targets_real" -> ((s, dir) => {
      // en only: the classifier runs on english passages (F5 semantics), and
      // the trainer's fixture universe is the en corpus
      val passages = docs(s, dir)
        .where(col("lang") === "en")
        .select(col("doc_id").cast("long").as("passage_id"), col("text"))
      graft.extract.ModelClassifiers
        .predictSequence(s, passages, new graft.extract.ModelClassifiers.LogisticSequenceScorer, "Q1651")
        .withColumn("probability_r", floor(col("probability") * 1e6 + lit(0.5)) / lit(1e6))
        .drop("probability")
    }),
    "c4_token_spans" -> ((s, dir) => {
      val passages = docs(s, dir).select(col("doc_id").cast("long").as("passage_id"), col("text"))
      val scorer = new graft.extract.ModelClassifiers.StubTokenScorer(
        triggers = Set("scan", "join", "sort", "merge", "window"),
        continuations = Set("table", "batch", "stream", "group", "data", "fast")
      )
      graft.extract.ModelClassifiers
        .predictTokenSpans(s, passages, scorer, "Q99", threshold = Some(0.7))
    }),
    // ---- C5: LLM span emission + fuzzy alignment at the distributed grain ---
    // a deterministic annotation simulator (LlmSim.buildXml) perturbs each
    // text the way a paraphrasing LLM does; the engine aligns the <concept>
    // groups back into the original text (exact-at-offset, exact-in-window,
    // fuzzy-ratio and unalignable-drop branches all fire on this corpus);
    // oracle = the EXECUTED reference Span.from_xml over the same pairs
    "c5_xml_spans" -> ((s, dir) =>
      docs(s, dir)
        .where(col("lang") === "en")
        .select(col("doc_id"), explode(graft.extract.LlmXml.llmXmlSpans(col("text"), "Q42")).as("sp"))
        .select(
          col("doc_id"),
          col("sp.start").as("start"),
          col("sp.end").as("end"),
          col("sp.surface").as("surface"))),
    // ---- C6: AutoLLM prompt-optimization loop --------------------------------
    // the full trial loop (evaluate -> mine errors -> new guidelines ->
    // re-evaluate, autollm.py:94-305) with deterministic stand-ins behind
    // the LLM seams; output = the per-trial confusion counts (integers —
    // exact). The oracle UNROLLS the same two proposals in SQL: the mined
    // term is the (score desc, token asc) top of df_FN - df_FP over the
    // incorrect passages, exactly the ErrorMiningProposer contract.
    "c6_auto_prompt" -> ((s, dir) => {
      import s.implicits._
      val tk = array_distinct(split(lower(col("text")), " "))
      val passages = docs(s, dir)
        .where(col("lang") === "en")
        .select(
          col("doc_id").as("passage_id"),
          col("text"),
          ((array_contains(tk, "window") || array_contains(tk, "stream")) &&
            !array_contains(tk, "vector")).as("gold"))
      val (_, trials) = graft.extract.AutoPrompt.fit(
        s, passages,
        new graft.extract.AutoPrompt.TermPromptClassifier,
        new graft.extract.AutoPrompt.ErrorMiningProposer,
        graft.extract.AutoPrompt.Prompt("sys", graft.extract.AutoPrompt.renderGuidelines(Seq("window"), Nil)),
        "hidden rule drill", nTrials = 2)
      trials
        .map(t => (t.index, t.cm.tp, t.cm.fp, t.cm.tn, t.cm.fn))
        .toDF("trial", "tp", "fp", "tn", "fn")
    }),
    // ---- S10 dynamism: concept-store swap drill ------------------------------
    // the same pipeline + oracle machinery rebuilt from swappedConcepts (a
    // wikibase-style update batch: Q90 added, Q17 deleted, Q80 redirected
    // onto Q70). Engine gazetteer/trie, linking edges, hierarchy AND the
    // DuckDB SQL are all co-derived from the swapped vector — green rows
    // prove the store is genuinely a runtime input, not baked-in constants.
    "swap_mention_counts" -> ((s, dir) =>
      KgPipeline.mentionCounts(KgPipeline.mentions(s, dir, DemoConceptStore.swappedConcepts).toDF())),
    "swap_canonical" -> ((s, dir) => KgPipeline.canonicalEntities(s, DemoConceptStore.swappedConcepts)),
    // ---- A8/A9: sanitise + passage consolidation ----------------------------
    // the corpus is pure printable ASCII with no duplicate texts, so both
    // behaviors are planted deterministically: a '\n'-for-space twin of every
    // 7th turn sanitises BACK to the base text (same content id -> A8 merges
    // the two passages), and an '<...>'-wrapped variant of every 11th turn
    // exercises the XML-special '_' mapping (new id, visibly sanitised). The
    // engine runs the real JVM Sanitise via the native Catalyst expression;
    // the oracle re-derives it with nested SQL replace() (exact for the ASCII
    // subset present; full unicode fidelity is locked by CoreSpec
    // differential vectors).
    "kg_consolidate" -> ((s, dir) => {
      import graft.extract.SanitiseText.sanitise
      val turns = KgPipeline
        .eligibleTurns(Transcripts.read(s, dir))
        .select("conv_id", "turn_idx", "text")
      val spanT = "array<struct<start:int,end:int,concept_id:string>>"
      val spans = mentions(s, dir)
        .groupBy("conv_id", "turn_idx")
        .agg(collect_list(struct(col("start"), col("end"), col("concept_id"))).as("spans"))
      val base = turns
        .join(spans, Seq("conv_id", "turn_idx"), "left")
        .select(col("text"), coalesce(col("spans"), array().cast(spanT)).as("spans"))
      // the twin carries ONE planted span so the consolidation genuinely
      // merges two non-empty span sets (not a union with empty)
      val dup = turns
        .where(col("turn_idx") % 7 === 0)
        .select(
          translate(col("text"), " ", "\n").as("text"),
          array(struct(lit(0).as("start"), lit(4).as("end"), lit("QDUP").as("concept_id")))
            .cast(spanT)
            .as("spans")
        )
      val marked = turns
        .where(col("turn_idx") % 11 === 3)
        .select(concat(lit("<"), col("text"), lit(">")).as("text"), array().cast(spanT).as("spans"))
      val passages = base
        .unionByName(dup)
        .unionByName(marked)
        .select(sanitise(col("text")).as("text"), col("spans"))
        .withColumn("id", md5(col("text")))
        .withColumn("metadata", map(lit("n_chars"), length(col("text")).cast("string")))
      KgPipeline
        .consolidatePassages(passages)
        .select(
          col("id"),
          length(col("text")).cast("int").as("n_chars"),
          concat_ws(
            ";",
            transform(
              sort_array(col("spans")),
              sp =>
                concat_ws(
                  ":",
                  sp.getField("start").cast("string"),
                  sp.getField("end").cast("string"),
                  sp.getField("concept_id"))
            )
          ).as("spans_str"),
          size(col("spans")).as("n_spans")
        )
    }),
    // ---- eval harness (G6): span-level P/R confusion sweep ------------------
    // gold = the executed-reference fixture spans; predicted = the ENGINE
    // classifier's mentions run through a deterministic perturbation (drop a
    // 5-residue, stretch ends on a 7-residue, inject spurious (0,7) spans on
    // an 11-residue of turns) so TP/FP/FN genuinely move with the jaccard
    // threshold instead of being an all-TP tautology. The oracle re-derives
    // both sides in SQL (predicted from ref_mentions — legitimate because
    // kg_mentions proves engine==fixture byte-exactly) and recomputes the
    // counts with a different strategy (per-span max-jaccard vs the engine's
    // per-passage array filters).
    "eval_pr" -> ((s, dir) =>
      graft.eval.Metrics.spanLevelSweep(evalGold(s, dir), evalPred(s, dir), Seq(0, 50, 90, 99))),
    // G6 passage grain (metrics.py:145-186): positive = any span on the
    // passage; same gold/perturbed-prediction construction as eval_pr
    "eval_pr_passage" -> ((s, dir) => graft.eval.Metrics.passageLevelDF(evalGold(s, dir), evalPred(s, dir))),
    // G6 × G8: the same sweep stratified by source (equity-group metrics,
    // operations/evaluate.py:109-171) — one extra groupBy key on the same join
    "eval_pr_strata" -> ((s, dir) =>
      graft.eval.Metrics.spanLevelSweepBy(
        evalGold(s, dir), evalPred(s, dir), Seq(0, 50, 90, 99),
        split(col("passage_id"), "\\.").getItem(0).as("stratum")))
  )

  /** Builds the `evalGold`/`evalPred` artifacts: (gold, predicted) span
    * arrays over the FULL eligible-turn universe (mention-free turns
    * participate as negatives). Gold = executed-reference fixture spans;
    * predicted = the engine's mentions under the deterministic perturbation
    * documented at eval_pr. Both plans are lazy; each artifact
    * materializes its own half. */
  private def evalGoldPred(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val turns = KgPipeline
      .eligibleTurns(Transcripts.read(s, dir))
      .select(concat_ws("|", col("conv_id"), col("turn_idx")).as("passage_id"), col("text"), col("turn_idx"))
    val fixture = Sources.table(s, OracleGen.refMentionsPath)
    // two passage-level perturbations keep BOTH grains non-degenerate on a
    // mention-dense corpus at EVERY scale factor (turn_idx spans only 0..5
    // at small sf): gold is excluded on 6-residues {1,2} and predictions
    // dropped on 9-residues {1,4}, so turn 1 is a passage TN, turn 2 a
    // passage FP, turn 4 a passage FN, and the rest carry TPs
    val gold = turns
      .where(!(col("turn_idx") % 6).isin(1, 2))
      .join(fixture, md5(col("text")) === col("text_md5"))
      .groupBy("passage_id")
      .agg(collect_list(struct(col("start"), col("end"))).as("spans"))
    val perturbed = mentions(s, dir)
      .where((col("start") + col("end") + col("turn_idx")) % 5 =!= 0 && !(col("turn_idx") % 9).isin(1, 4))
      .select(
        concat_ws("|", col("conv_id"), col("turn_idx")).as("passage_id"),
        struct(
          col("start"),
          when((col("start") + col("end")) % 7 === 3, col("end") + 3).otherwise(col("end")).as("end")
        ).as("sp")
      )
    val spurious = turns
      .where(col("turn_idx") % 11 === 7 && length(col("text")) >= 10 && !(col("turn_idx") % 9).isin(1, 4))
      .select(col("passage_id"), struct(lit(0).as("start"), lit(7).as("end")).as("sp"))
    val pred = perturbed
      .unionByName(spurious)
      .groupBy("passage_id")
      .agg(collect_list(col("sp")).as("spans"))
    val universe = turns.select("passage_id")
    (universe.join(gold, Seq("passage_id"), "left"), universe.join(pred, Seq("passage_id"), "left"))
  }

  /** Shared oracle CTE chain replicating the engine's IVF codebook EXACTLY:
    * deterministic seeding (centroid c = embedding of vec_id c), one Lloyd
    * refinement with quantized-integer means, then per-vector scores
    * against the refined normalized centroids (`scored`: vec_id, cell,
    * negd). Used by every codebook-derived oracle row (sim_ann_ivf,
    * dedup_semantic) — must be a def-composed prefix, not copy-paste, so a
    * codebook-procedure change cannot silently diverge between rows. */
  private def ivfCodebookCtes: String =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |seed AS (SELECT CAST(vec_id AS INT) AS cell, e FROM v WHERE vec_id < 16),
      |cn0 AS (SELECT cell, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS cn FROM seed),
      |scored0 AS (SELECT v.vec_id, c.cell, -list_dot_product(v.e, c.cn) AS negd FROM v, cn0 c),
      |assign0 AS (SELECT vec_id, cell FROM (
      |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY negd, cell) AS rn FROM scored0)
      |  WHERE rn = 1),
      |expl AS (SELECT a.cell, unnest(v.e) AS x, unnest(range(len(v.e))) AS pos
      |         FROM assign0 a JOIN v ON a.vec_id = v.vec_id),
      |sums AS (SELECT cell, pos, SUM(CAST(FLOOR(x * 1048576.0 + 0.5) AS BIGINT)) AS s, COUNT(*) AS n
      |         FROM expl GROUP BY 1, 2),
      |ref AS (SELECT cell, list((CAST(s AS DOUBLE) / n) / 1048576.0 ORDER BY pos) AS m FROM sums GROUP BY cell),
      |cents1 AS (SELECT s.cell, COALESCE(r.m, s.e) AS m FROM seed s LEFT JOIN ref r ON s.cell = r.cell),
      |cents AS (SELECT cell, list_transform(m, x -> x / sqrt(list_dot_product(m, m))) AS cn FROM cents1),
      |scored AS (SELECT v.vec_id, c.cell, -list_dot_product(v.e, c.cn) AS negd FROM v, cents c)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "kg_transcripts" -> OracleGen.transcriptsSql,
    "kg_turns_ordered" -> OracleGen.turnsOrderedSql,
    "kg_mentions" -> OracleGen.mentionsSql,
    "eval_pr" -> OracleGen.evalPrSql,
    "eval_pr_passage" -> OracleGen.evalPrPassageSql,
    "eval_pr_strata" -> OracleGen.evalPrStrataSql,
    "kg_consolidate" -> OracleGen.consolidateSql,
    "kg_passage_concepts" -> OracleGen.passageConceptsSql,
    "kg_spans_v2" -> OracleGen.spansV2Sql,
    "kg_linked_surfaces" -> OracleGen.linkedSurfacesSql,
    "kg_canonical_mentions" -> OracleGen.canonicalMentionsSql,
    "kg_mention_counts" -> OracleGen.mentionCountsSql,
    // G10: the quota arithmetic re-derived stepwise in SQL
    "g10_train_balance" ->
      """WITH eval_texts AS (SELECT DISTINCT text FROM documents WHERE doc_id % 13 = 0),
        |train AS (
        |  SELECT d.doc_id, contains(d.text, 'scan') AS is_positive
        |  FROM documents d LEFT JOIN eval_texts e ON d.text = e.text WHERE e.text IS NULL),
        |c AS (SELECT COUNT(*) FILTER (is_positive) AS npos, COUNT(*) FILTER (NOT is_positive) AS nneg FROM train),
        |q0 AS (SELECT npos, nneg, LEAST(npos, 150) AS p0, LEAST(nneg, 150) AS n0 FROM c),
        |q1 AS (SELECT *, 300 - p0 - n0 AS rem FROM q0),
        |q2 AS (SELECT *, p0 + GREATEST(LEAST(rem, npos - p0), 0) AS posq FROM q1),
        |q AS (SELECT *, n0 + GREATEST(LEAST(rem - (posq - p0), nneg - n0), 0) AS negq FROM q2),
        |r AS (SELECT doc_id, is_positive,
        |             ROW_NUMBER() OVER (PARTITION BY is_positive ORDER BY doc_id) AS rn
        |      FROM train)
        |SELECT r.doc_id, r.is_positive FROM r, q
        |WHERE (r.is_positive AND r.rn <= q.posq) OR (NOT r.is_positive AND r.rn <= q.negq)""".stripMargin,
    // C3: the stub's probability is pure integer arithmetic -> replicated
    // from scratch in SQL (mod-sum of portable 60-bit token hashes)
    "c3_targets" ->
      """WITH t AS (SELECT doc_id AS passage_id, text, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT passage_id, length(text) AS tl,
        |         (SUM(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1000003) % 1000003) % 1000 AS m
        |  FROM (SELECT passage_id, text, unnest(toks) AS tok FROM t) GROUP BY passage_id, length(text))
        |SELECT passage_id, 0 AS "start", CAST(tl AS INT) AS "end", 'Q1651' AS concept_id,
        |       CAST(m AS DOUBLE) / 1000.0 AS probability
        |FROM p WHERE CAST(m AS DOUBLE) / 1000.0 >= 0.524""".stripMargin,
    // C4: gaps-and-islands re-derivation of the BIO runs — group tokens on
    // cumulative non-continuation count; a group whose seed is a trigger is
    // one span (seed B + following I continuations); char offsets from the
    // single-spaced corpus as prefix sums; span probability re-folds the
    // per-token doubles IN TOKEN ORDER (list_reduce) to match the engine's
    // sequential mean bit-exactly
    "c4_token_spans" ->
      """WITH t AS (SELECT doc_id AS passage_id, string_split(text, ' ') AS toks FROM documents),
        |tok0 AS (SELECT passage_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos FROM t),
        |tok AS (
        |  SELECT *, SUM(length(tok) + 1) OVER (PARTITION BY passage_id ORDER BY pos) AS endplus
        |  FROM tok0),
        |tok2 AS (
        |  SELECT passage_id, tok, pos,
        |         CAST(endplus - length(tok) - 1 AS INT) AS tstart,
        |         CAST(endplus - 1 AS INT) AS tend,
        |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 500 AS h,
        |         lower(tok) IN ('scan', 'join', 'sort', 'merge', 'window') AS is_seed,
        |         lower(tok) IN ('table', 'batch', 'stream', 'group', 'data', 'fast') AS is_cont
        |  FROM tok),
        |grouped AS (
        |  SELECT *, SUM(CASE WHEN is_cont THEN 0 ELSE 1 END)
        |              OVER (PARTITION BY passage_id ORDER BY pos) AS grp
        |  FROM tok2),
        |spans AS (
        |  SELECT passage_id, grp,
        |         MIN(CASE WHEN NOT is_cont THEN tstart END) AS sstart,
        |         MAX(tend) AS send,
        |         BOOL_OR(CASE WHEN NOT is_cont THEN is_seed END) AS seeded,
        |         list(500 + h ORDER BY pos) AS probs
        |  FROM grouped GROUP BY 1, 2)
        |SELECT passage_id, sstart AS "start", send AS "end", 'Q99' AS concept_id,
        |       list_reduce(list_transform(probs, x -> CAST(x AS DOUBLE) / 1000.0), (a, b) -> a + b)
        |         / len(probs) AS probability
        |FROM spans
        |WHERE seeded AND send - sstart >= 2
        |  AND list_reduce(list_transform(probs, x -> CAST(x AS DOUBLE) / 1000.0), (a, b) -> a + b)
        |        / len(probs) >= 0.7""".stripMargin,
    // C3 real-weights: the model's kept set + quantized probabilities were
    // emitted by the OFFLINE TRAINER (integer logits shared bit-for-bit with
    // the JVM scorer) over all-sf texts — trained on sf0.1 only, so smaller
    // sfs are held-out texts
    "c3_targets_real" ->
      s"""SELECT d.doc_id AS passage_id, 0 AS "start", CAST(length(d.text) AS INT) AS "end",
        |       'Q1651' AS concept_id, f.probability_r
        |FROM documents d
        |JOIN read_parquet('${OracleGen.repoRoot}/src/test/resources/ref_c3_real.parquet') f
        |  ON md5(d.text) = f.text_md5
        |WHERE d.lang = 'en'""".stripMargin,
    "c5_xml_spans" ->
      s"""SELECT d.doc_id, f.start, f."end", f.surface
        |FROM documents d
        |JOIN read_parquet('${OracleGen.repoRoot}/src/test/resources/ref_c5_spans.parquet') f
        |  ON md5(d.text) = f.text_md5
        |WHERE d.lang = 'en'""".stripMargin,
    // C6: the two proposal rounds unrolled — each p{i} layer is the term
    // classifier under the accumulated include/exclude lists, each add{inc,
    // exc} is the proposer's discriminative-token mining over that trial's
    // errors (guards mirror the engine: only mine when the error side is
    // non-empty, score >= 1, token not already known, ties to token asc)
    "c6_auto_prompt" -> {
      def predLayer(p: String, inc: String, exc: String) =
        s"""$p AS (SELECT doc_id, toks, gold,
           |  EXISTS(SELECT 1 FROM $inc t WHERE list_contains(d0.toks, t.tok))
           |  AND NOT EXISTS(SELECT 1 FROM $exc t WHERE list_contains(d0.toks, t.tok)) AS pred
           |  FROM d0)""".stripMargin
      def mineLayer(i: Int, p: String, known: Seq[String]) = {
        val knownSql = known.map(k => s"SELECT tok FROM $k").mkString(" UNION ")
        s"""sc$i AS (SELECT tok, SUM(s) AS score FROM (
           |    SELECT unnest(toks) AS tok, 1 AS s FROM $p WHERE gold AND NOT pred
           |    UNION ALL
           |    SELECT unnest(toks), -1 FROM $p WHERE pred AND NOT gold) GROUP BY tok),
           |addinc$i AS (SELECT tok FROM sc$i WHERE score >= 1 AND tok NOT IN ($knownSql)
           |    AND EXISTS(SELECT 1 FROM $p WHERE gold AND NOT pred)
           |    ORDER BY score DESC, tok LIMIT 1),
           |addexc$i AS (SELECT tok FROM sc$i WHERE -score >= 1 AND tok NOT IN ($knownSql)
           |    AND EXISTS(SELECT 1 FROM $p WHERE pred AND NOT gold)
           |    ORDER BY score ASC, tok LIMIT 1)""".stripMargin
      }
      def counts(i: Int, p: String) =
        s"""SELECT $i AS trial,
           |  CAST(SUM(CASE WHEN gold AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(SUM(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |  CAST(SUM(CASE WHEN NOT gold AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           |  CAST(SUM(CASE WHEN gold AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn
           |FROM $p""".stripMargin
      s"""WITH d0 AS (
         |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks,
         |         (list_contains(list_distinct(string_split(lower(text), ' ')), 'window')
         |          OR list_contains(list_distinct(string_split(lower(text), ' ')), 'stream'))
         |         AND NOT list_contains(list_distinct(string_split(lower(text), ' ')), 'vector') AS gold
         |  FROM documents WHERE lang = 'en'),
         |inc0(tok) AS (VALUES ('window')),
         |exc0(tok) AS (SELECT CAST(NULL AS VARCHAR) WHERE 1 = 0),
         |${predLayer("p0", "inc0", "exc0")},
         |${mineLayer(1, "p0", Seq("inc0", "exc0"))},
         |inc1 AS (SELECT tok FROM inc0 UNION SELECT tok FROM addinc1),
         |exc1 AS (SELECT tok FROM exc0 UNION SELECT tok FROM addexc1),
         |${predLayer("p1", "inc1", "exc1")},
         |${mineLayer(2, "p1", Seq("inc1", "exc1"))},
         |inc2 AS (SELECT tok FROM inc1 UNION SELECT tok FROM addinc2),
         |exc2 AS (SELECT tok FROM exc1 UNION SELECT tok FROM addexc2),
         |${predLayer("p2", "inc2", "exc2")}
         |${counts(0, "p0")}
         |UNION ALL
         |${counts(1, "p1")}
         |UNION ALL
         |${counts(2, "p2")}""".stripMargin
    },
    "swap_mention_counts" -> OracleGen.mentionCountsSqlFor(DemoConceptStore.swappedConcepts),
    "swap_canonical" -> OracleGen.canonicalSqlFor(DemoConceptStore.swappedConcepts),
    "kg_vespa_concepts" -> OracleGen.vespaConceptsSql,
    "kg_vespa_concepts_ts" -> OracleGen.vespaConceptsTsSql,
    "kg_concept_counts" -> OracleGen.conceptCountsSql,
    "kg_concept_counts_map" -> OracleGen.conceptCountsMapSql,
    "kg_triples" -> OracleGen.triplesSql,
    "kg_nodes" -> OracleGen.nodesSql,
    "kg_cooccurrence" -> OracleGen.cooccurrenceSql,
    "kg_pmi" -> OracleGen.pmiSql,
    "kg_pagerank" -> OracleGen.pageRankSql(5),
    "kg_hits" -> OracleGen.hitsSql(4),
    "kg_ppr" -> OracleGen.pprSql(5),
    "kg_closeness" -> OracleGen.harmonicSql(6),
    "kg_eccentricity" -> OracleGen.eccentricitySql(6),
    "kg_landmark_dist" -> OracleGen.landmarkDistSql(4, 6),
    "kg_betweenness" -> OracleGen.betweennessSql(4),
    "kg_components" -> OracleGen.componentsSql,
    "kg_modularity" -> OracleGen.modularitySql(4),
    "kg_walks" -> OracleGen.walksSql(2, 4),
    "kg_node2vec" -> OracleGen.node2vecSql(2, 4, 1L, 1L, 2L),
    "kg_negatives" -> OracleGen.negativesSql,
    "kg_trends" -> OracleGen.trendsSql,
    "kg_bursts" -> OracleGen.burstsSql(7, 2),
    "kg_triangles" -> OracleGen.trianglesSql,
    "kg_link_predict" -> OracleGen.linkPredictionSql(20),
    "kg_link_predict_ra" -> OracleGen.linkPredictionRaSql(20),
    "kg_link_predict_jaccard" -> OracleGen.linkPredictionJaccardSql(20),
    "kg_khop" -> OracleGen.kHopSql("Q15", 3),
    "kg_communities" -> OracleGen.communitiesSql(4),
    "kg_clustering" -> OracleGen.clusteringSql,
    "kg_shortest_path" -> OracleGen.shortestPathSql(3),
    "kg_kcore" -> OracleGen.kCoreSql(2),
    "kg_ktruss" -> OracleGen.kTrussSql(3),
    "kg_assortativity" -> OracleGen.assortativitySql,
    "kg_rectangles" -> OracleGen.rectanglesSql(10000L),
    "kg_diameter" -> OracleGen.diameterSql(6),
    "kg_scc" -> OracleGen.sccSql,
    "kg_condensation" -> OracleGen.condensationSql,
    "kg_betweenness_pivot" -> OracleGen.betweennessSql(4, 6),
    "kg_canonical" -> OracleGen.canonicalSql,
    "kg_canonical_incr" -> OracleGen.canonicalSql,
    "kg_multi_classifier" -> OracleGen.multiClassifierSql,
    "kg_geography" -> OracleGen.geographySql,
    "kg_lineage" -> OracleGen.lineageSql,
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS representative
        |FROM corpus GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "dedup_minhash" -> graft.data.DedupOracles.minhashSql(0.5),
    "dedup_cluster" -> graft.data.DedupOracles.clusterSql(0.5),
    "dedup_minhash_incr" -> graft.data.DedupOracles.minhashIncrementalSql(0.5, 5),
    "dedup_simhash" -> graft.data.DedupOracles.simhashSql(60, 3),
    "dedup_simhash_incr" -> graft.data.DedupOracles.simhashIncrementalSql(60, 3, 5),
    "dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id, substr(text, 1, 40) AS block,
        |         list_distinct(list_transform(range(len(string_split(text, ' ')) - 2),
        |           i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3])) AS sh
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jaccard
        |FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin,
    "sim_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |             list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS score
        |      FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 50)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM s) WHERE rank <= 10""".stripMargin,
    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
        |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200 AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4""".stripMargin,
    // full IVF replication in SQL: same deterministic seed, same ONE Lloyd
    // refinement step (quantized-integer cell means — order-free sums, so
    // bit-exact across engines), same centroid normalization (elementwise
    // x / sqrt(dot(e,e))), same argmin/probe ranking, same cosine scoring —
    // every float op is a sequential fold
    "sim_ann_ivf" ->
      s"""WITH $ivfCodebookCtes,
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY negd, cell) AS rn FROM scored)
        |  WHERE rn = 1),
        |probes AS (SELECT query_id, cell FROM (
        |  SELECT vec_id AS query_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY negd, cell) AS rn
        |  FROM scored WHERE vec_id < 50) WHERE rn <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN assign a USING (cell) WHERE p.query_id <> a.vec_id),
        |sc AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         list_dot_product(q.e, n.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))) AS score
        |  FROM cand c JOIN v q ON q.vec_id = c.query_id JOIN v n ON n.vec_id = c.neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM sc) WHERE rank <= 10""".stripMargin,
    // IVF probes from the float codebook CTEs + SQ8 quantized candidate
    // scoring — the composed oracle reuses both verified replications
    "sim_ann_ivf_sq8" ->
      s"""WITH $ivfCodebookCtes,
        |dims AS (SELECT i, max(abs(x)) AS s FROM
        |           (SELECT generate_subscripts(e, 1) AS i, unnest(e) AS x FROM v) GROUP BY i),
        |qr AS (SELECT vec_id, i, CASE WHEN s = 0 THEN 0.0
        |                              ELSE floor(x * 127.0 / s + 0.5) END AS q
        |       FROM (SELECT vec_id, generate_subscripts(e, 1) AS i, unnest(e) AS x FROM v) r
        |       JOIN dims USING (i)),
        |qvl AS (SELECT vec_id, list(q ORDER BY i) AS q FROM qr GROUP BY vec_id),
        |qn AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qvl),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY negd, cell) AS rn FROM scored)
        |  WHERE rn = 1),
        |probes AS (SELECT query_id, cell FROM (
        |  SELECT vec_id AS query_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY negd, cell) AS rn
        |  FROM scored WHERE vec_id < 50) WHERE rn <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN assign a USING (cell) WHERE p.query_id <> a.vec_id),
        |sc AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         CASE WHEN q.nrm * n.nrm = 0 THEN -2.0
        |              ELSE list_dot_product(q.q, n.q) / (q.nrm * n.nrm) END AS score
        |  FROM cand c JOIN qn q ON q.vec_id = c.query_id JOIN qn n ON n.vec_id = c.neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM sc) WHERE rank <= 10""".stripMargin,
    // the PQ pipeline + the re-rank tail: ADC shortlist of 50 by the same
    // (score_q desc, neighbor_id) order, then exact float cosine over the
    // shortlist only — every float op identical to the sim_topk form
    "sim_topk_pq_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |vn AS MATERIALIZED (SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS e FROM v),
        |subv AS MATERIALIZED (
        |  SELECT vec_id, s, list_slice(e, s*8+1, s*8+8) AS sv FROM vn, range(0, 8) t(s)),
        |seed AS MATERIALIZED (SELECT s, CAST(vec_id AS INT) AS cent, sv AS cv FROM subv WHERE vec_id < 16),
        |a0 AS (SELECT v.vec_id, v.s, c.cent,
        |       list_dot_product(v.sv, v.sv) - 2.0*list_dot_product(v.sv, c.cv) + list_dot_product(c.cv, c.cv) AS l2
        |       FROM subv v JOIN seed c ON v.s = c.s),
        |as0 AS MATERIALIZED (SELECT vec_id, s, cent FROM (
        |  SELECT vec_id, s, cent, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY l2, cent) AS rn FROM a0)
        |  WHERE rn = 1),
        |ex AS (SELECT a.s, a.cent, unnest(v.sv) AS x, generate_subscripts(v.sv, 1) AS pos
        |       FROM as0 a JOIN subv v ON v.vec_id = a.vec_id AND v.s = a.s),
        |sums AS (SELECT s, cent, pos, SUM(CAST(FLOOR(x * 1048576.0 + 0.5) AS BIGINT)) AS q, COUNT(*) AS n
        |         FROM ex GROUP BY 1, 2, 3),
        |ref AS (SELECT s, cent, list((CAST(q AS DOUBLE) / n) / 1048576.0 ORDER BY pos) AS cv FROM sums GROUP BY 1, 2),
        |cents AS MATERIALIZED (
        |  SELECT sd.s, sd.cent, COALESCE(r.cv, sd.cv) AS cv
        |  FROM seed sd LEFT JOIN ref r ON r.s = sd.s AND r.cent = sd.cent),
        |c0 AS (SELECT v.vec_id, v.s, c.cent,
        |       list_dot_product(v.sv, v.sv) - 2.0*list_dot_product(v.sv, c.cv) + list_dot_product(c.cv, c.cv) AS l2
        |       FROM subv v JOIN cents c ON v.s = c.s),
        |codes AS MATERIALIZED (SELECT vec_id, s, cent FROM (
        |  SELECT vec_id, s, cent, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY l2, cent) AS rn FROM c0)
        |  WHERE rn = 1),
        |qp AS MATERIALIZED (
        |  SELECT v.vec_id AS query_id, v.s, c.cent,
        |         CAST(FLOOR(list_dot_product(v.sv, c.cv) * 1048576.0 + 0.5) AS BIGINT) AS pd
        |  FROM subv v JOIN cents c ON v.s = c.s WHERE v.vec_id < 50),
        |sc AS (SELECT qp.query_id, cd.vec_id AS neighbor_id, CAST(SUM(qp.pd) AS BIGINT) AS score_q
        |       FROM codes cd JOIN qp ON qp.s = cd.s AND qp.cent = cd.cent
        |       WHERE qp.query_id <> cd.vec_id GROUP BY 1, 2),
        |short AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q DESC, neighbor_id) AS rn
        |  FROM sc) WHERE rn <= 50),
        |rr AS (SELECT s.query_id, s.neighbor_id,
        |              list_dot_product(q.e, n.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))) AS score
        |       FROM short s JOIN v q ON q.vec_id = s.query_id JOIN v n ON n.vec_id = s.neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM rr) WHERE rank <= 10""".stripMargin,
    // full PQ replication: same normalized slicing, same deterministic
    // seeds, same one-Lloyd-step training (L2 assignment with (l2, cent)
    // ties; quantized-integer subspace means — order-free, so the refined
    // books match bit-for-bit), same fixed-point ADC partials and exact
    // long score sums
    "sim_topk_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |vn AS MATERIALIZED (SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS e FROM v),
        |subv AS MATERIALIZED (
        |  SELECT vec_id, s, list_slice(e, s*8+1, s*8+8) AS sv FROM vn, range(0, 8) t(s)),
        |seed AS MATERIALIZED (SELECT s, CAST(vec_id AS INT) AS cent, sv AS cv FROM subv WHERE vec_id < 16),
        |a0 AS (SELECT v.vec_id, v.s, c.cent,
        |       list_dot_product(v.sv, v.sv) - 2.0*list_dot_product(v.sv, c.cv) + list_dot_product(c.cv, c.cv) AS l2
        |       FROM subv v JOIN seed c ON v.s = c.s),
        |as0 AS MATERIALIZED (SELECT vec_id, s, cent FROM (
        |  SELECT vec_id, s, cent, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY l2, cent) AS rn FROM a0)
        |  WHERE rn = 1),
        |ex AS (SELECT a.s, a.cent, unnest(v.sv) AS x, generate_subscripts(v.sv, 1) AS pos
        |       FROM as0 a JOIN subv v ON v.vec_id = a.vec_id AND v.s = a.s),
        |sums AS (SELECT s, cent, pos, SUM(CAST(FLOOR(x * 1048576.0 + 0.5) AS BIGINT)) AS q, COUNT(*) AS n
        |         FROM ex GROUP BY 1, 2, 3),
        |ref AS (SELECT s, cent, list((CAST(q AS DOUBLE) / n) / 1048576.0 ORDER BY pos) AS cv FROM sums GROUP BY 1, 2),
        |cents AS MATERIALIZED (
        |  SELECT sd.s, sd.cent, COALESCE(r.cv, sd.cv) AS cv
        |  FROM seed sd LEFT JOIN ref r ON r.s = sd.s AND r.cent = sd.cent),
        |c0 AS (SELECT v.vec_id, v.s, c.cent,
        |       list_dot_product(v.sv, v.sv) - 2.0*list_dot_product(v.sv, c.cv) + list_dot_product(c.cv, c.cv) AS l2
        |       FROM subv v JOIN cents c ON v.s = c.s),
        |codes AS MATERIALIZED (SELECT vec_id, s, cent FROM (
        |  SELECT vec_id, s, cent, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY l2, cent) AS rn FROM c0)
        |  WHERE rn = 1),
        |qp AS MATERIALIZED (
        |  SELECT v.vec_id AS query_id, v.s, c.cent,
        |         CAST(FLOOR(list_dot_product(v.sv, c.cv) * 1048576.0 + 0.5) AS BIGINT) AS pd
        |  FROM subv v JOIN cents c ON v.s = c.s WHERE v.vec_id < 50),
        |sc AS (SELECT qp.query_id, cd.vec_id AS neighbor_id, CAST(SUM(qp.pd) AS BIGINT) AS score_q
        |       FROM codes cd JOIN qp ON qp.s = cd.s AND qp.cent = cd.cent
        |       WHERE qp.query_id <> cd.vec_id GROUP BY 1, 2)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q DESC, neighbor_id) AS INT) AS rank
        |  FROM sc) WHERE rank <= 10""".stripMargin,
    // full SQ8 replication: same per-dim max-abs scales, same round-half-up
    // floor(x*127/s + 0.5) (every op IEEE double, bit-identical across
    // engines), same integer dots — quantized values are exact small
    // integers, so double list_dot_product here equals the engine's long
    // arithmetic exactly
    "sim_topk_sq8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |dims AS (SELECT i, max(abs(x)) AS s FROM
        |           (SELECT generate_subscripts(e, 1) AS i, unnest(e) AS x FROM v) GROUP BY i),
        |qr AS (SELECT vec_id, i, CASE WHEN s = 0 THEN 0.0
        |                              ELSE floor(x * 127.0 / s + 0.5) END AS q
        |       FROM (SELECT vec_id, generate_subscripts(e, 1) AS i, unnest(e) AS x FROM v) r
        |       JOIN dims USING (i)),
        |qv AS (SELECT vec_id, list(q ORDER BY i) AS q FROM qr GROUP BY vec_id),
        |n AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qv),
        |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |             CASE WHEN a.nrm * b.nrm = 0 THEN -2.0
        |                  ELSE list_dot_product(a.q, b.q) / (a.nrm * b.nrm) END AS score
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id WHERE a.vec_id < 50)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM s) WHERE rank <= 10""".stripMargin,
    // the IVF-blocked variant must reproduce the brute-force pair set exactly
    "dedup_embedding_ivf" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
        |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200 AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4""".stripMargin,
    // incremental == full exact pair set restricted to pairs touching the
    // vec_id%5==0 batch (IVF recall 1.0 on this corpus, as for the _ivf row)
    "dedup_embedding_incr" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |batch AS (SELECT * FROM n WHERE vec_id % 5 = 0 AND vec_id < 1000),
        |-- index universe = persisted old index (vec_id%5<>0) plus this batch;
        |-- %5=0 vectors beyond the bound are future batches, not yet ingested
        |idx AS (SELECT * FROM n WHERE vec_id % 5 <> 0 OR vec_id < 1000)
        |SELECT LEAST(a.vec_id, b.vec_id) AS doc_a, GREATEST(a.vec_id, b.vec_id) AS doc_b
        |FROM batch a JOIN idx b ON a.vec_id <> b.vec_id
        |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4
        |  AND NOT (b.vec_id % 5 = 0 AND b.vec_id < 1000 AND b.vec_id < a.vec_id)""".stripMargin,
    // SemDeDup greedy keep/drop: pr carries each vector's assigned cell and
    // centroid-cosine priority; a vector is dropped iff a within-cell
    // duplicate partner has lower (c2c, id) — with pairs oriented id_a <
    // id_b, the c2c tie drops id_b, matching the engine exactly
    "dedup_semantic" ->
      s"""WITH $ivfCodebookCtes,
        |assign AS (SELECT vec_id, cell, negd FROM (
        |  SELECT vec_id, cell, negd, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY negd, cell) AS rn FROM scored)
        |  WHERE rn = 1),
        |pr AS (SELECT a.vec_id, a.cell, -a.negd / sqrt(list_dot_product(v.e, v.e)) AS c2c
        |       FROM assign a JOIN v ON v.vec_id = a.vec_id),
        |pairs AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.c2c AS ca, y.c2c AS cb
        |  FROM pr x JOIN pr y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  JOIN v va ON va.vec_id = x.vec_id JOIN v vb ON vb.vec_id = y.vec_id
        |  WHERE list_dot_product(va.e, vb.e)
        |          / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))) >= 0.4),
        |dropped AS (SELECT DISTINCT CASE WHEN ca <= cb THEN id_b ELSE id_a END AS vec_id FROM pairs)
        |SELECT p.vec_id, p.cell, CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
        |FROM pr p LEFT JOIN dropped d ON p.vec_id = d.vec_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(text, '\s+')) AS n_tokens,
        |  CAST(length(text) AS DOUBLE) / len(string_split_regex(text, '\s+')) AS avg_token_len,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> list_contains(['the','a','an','and','of','to','in'], t))) AS DOUBLE)
        |    / len(string_split_regex(text, '\s+')) AS stopword_ratio,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS upper_ratio
        |FROM documents""".stripMargin,
    "text_tokens" ->
      """SELECT source,
        |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(CAST(ceil(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / 4) AS BIGINT)
        |         + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))) AS BIGINT) AS total_bpeish_tokens,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,
    "text_fingerprint" ->
      "SELECT doc_id, md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint FROM documents",
    "text_langid" ->
      """WITH t AS (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  (list_max([
        |    {'h': len(list_filter(toks, x -> list_contains(['the','and','of','is','was','with'], x))), 'l': 'en'},
        |    {'h': len(list_filter(toks, x -> list_contains(['der','und','die','ist','mit','das'], x))), 'l': 'de'},
        |    {'h': len(list_filter(toks, x -> list_contains(['le','et','la','est','avec','les'], x))), 'l': 'fr'},
        |    {'h': len(list_filter(toks, x -> list_contains(['el','y','la','es','con','los'], x))), 'l': 'es'}
        |  ])).l AS predicted_lang,
        |  CAST(lang AS VARCHAR) AS declared_lang
        |FROM t""".stripMargin,
    // RE2 dialect; 'g' flag makes regexp_replace global like Java replaceAll
    "text_pii" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         text
         |           || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         |           || CASE WHEN doc_id % 3 = 0 THEN ' call 555-0199' ELSE '' END
         |           || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.0.7' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g')) AS redacted_md5
         |FROM planted""".stripMargin,
    // largest-remainder allocation over fixed-point sqrt weights, filled in
    // md5(doc_id) order — integer arithmetic end-to-end, so exact
    // hash split: same salted portable hash, exact ppm band boundaries
    "data_split" ->
      """SELECT doc_id,
        |  CASE WHEN h < 800000 THEN 'train'
        |       WHEN h < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST('0x' || substr(md5('s1' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS h
        |      FROM documents)""".stripMargin,
    "data_mix" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n,
        |         CAST(FLOOR(SQRT(COUNT(*)) * 1048576) AS BIGINT) AS q
        |  FROM documents GROUP BY 1),
        |quotas AS (
        |  SELECT source, n, q,
        |         (200 * q) // (SELECT SUM(q) FROM c) AS base,
        |         (200 * q) % (SELECT SUM(q) FROM c) AS rem
        |  FROM c),
        |ranked AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
        |         200 - (SELECT SUM(base) FROM quotas) AS leftover
        |  FROM quotas),
        |final AS (
        |  SELECT source,
        |         LEAST(n, base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS quota
        |  FROM ranked),
        |sel AS (
        |  SELECT d.doc_id, d.source,
        |         ROW_NUMBER() OVER (PARTITION BY d.source
        |                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |  FROM documents d)
        |SELECT s.doc_id, s.source FROM sel s JOIN final f ON s.source = f.source
        |WHERE s.rn <= f.quota""".stripMargin,
    // integer-count novelty: no log floats, so exact hash compare holds
    "text_novelty" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |         text || CASE WHEN doc_id % 4 = 0 THEN ' novel' || CAST(doc_id AS VARCHAR) ELSE '' END AS text
        |  FROM documents WHERE doc_id % 10 <> 0),
        |refc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |sb AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM scored) WHERE len(toks) >= 2),
        |rb AS (
        |  SELECT unnest(list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM (SELECT string_split(text, ' ') AS toks FROM refc) WHERE len(toks) >= 2),
        |model AS (SELECT g, COUNT(*) AS ref_count FROM rb GROUP BY 1),
        |j AS (
        |  SELECT s.doc_id, CASE WHEN COALESCE(m.ref_count, 0) < 2 THEN 1 ELSE 0 END AS rare
        |  FROM sb s LEFT JOIN model m ON s.g = m.g)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, CAST(SUM(rare) AS BIGINT) AS n_rare,
        |       CAST(SUM(rare) AS DOUBLE) / COUNT(*) AS novelty
        |FROM j GROUP BY 1""".stripMargin,
    // DSIR importance: same portable md5 bucketing, same quantized
    // integer likelihood ratios — no log floats, so exact hash compare
    "data_dsir" ->
      """WITH raw AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |tgt AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |rb AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512 AS bkt FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM raw) WHERE len(toks) >= 2)),
        |tb AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512 AS bkt FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM tgt) WHERE len(toks) >= 2)),
        |th AS (SELECT bkt, COUNT(*) AS ct FROM tb GROUP BY 1),
        |rh AS (SELECT bkt, COUNT(*) AS cr FROM rb GROUP BY 1),
        |w AS (SELECT bkt, ((COALESCE(ct, 0) + 1) * 1048576) // (COALESCE(cr, 0) + 1) AS w_q
        |      FROM rh FULL JOIN th USING (bkt))
        |SELECT rb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, CAST(SUM(w.w_q) AS BIGINT) AS score_q
        |FROM rb JOIN w USING (bkt) GROUP BY 1""".stripMargin,
    // linear-idf retrieval: integer weights (ln is not cross-engine
    // bit-stable; exact long division is), deterministic tie-break
    "search_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |hits AS (SELECT doc_id, t FROM toks WHERE t IN ('merge', 'window', 'customer')),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
        |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id,
        |       CAST(SUM(tf.tf * ((1000000 * (n.n_docs + 1)) // (df.df + 1))) AS BIGINT) AS score
        |FROM tf JOIN df ON tf.t = df.t CROSS JOIN n
        |GROUP BY 1 ORDER BY score DESC, tf.doc_id LIMIT 10""".stripMargin,
    // BM25 replication: identical fixed-point chain, DuckDB `//` floor
    // division matching Spark `div` on the all-positive operands
    "search_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
        |hits AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM hits
        |       WHERE t IN ('merge', 'window', 'customer') GROUP BY 1, 2),
        |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot FROM dl)
        |SELECT tf.doc_id,
        |  CAST(SUM(((1000000 * (n_docs + 1)) // (df.df + 1))
        |    * ((tf.tf * 2200 * 1000) //
        |       (tf.tf * 1000 + (1200 * (250 + (750 * ((1000 * dl.dl * n_docs) // tot)) // 1000)) // 1000))) AS BIGINT) AS score
        |FROM tf JOIN dl USING (doc_id) JOIN df ON tf.t = df.t CROSS JOIN stats
        |GROUP BY 1 ORDER BY score DESC, tf.doc_id LIMIT 10""".stripMargin,
    // per-doc tf-idf keyword extraction: identical integer weight chain,
    // df-stopword cut, (score desc, term asc) window top-3
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |       WHERE len(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         CAST(tf.tf * ((1000000 * (n.n_docs + 1)) // (df.df + 1)) AS BIGINT) AS score_q
        |  FROM tf JOIN df USING (term) CROSS JOIN n WHERE df.df * 2 <= n.n_docs),
        |ranked AS (
        |  SELECT doc_id, term, score_q,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, score_q FROM ranked WHERE rn <= 3""".stripMargin,
    // bigram-LM fluency: identical transition-frequency fixed point —
    // p_q = (c_big * 10^6) // c_pre per bigram, doc mean via floor division
    "text_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, ts[j + 1] AS w1, ts[j + 2] AS w2
        |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS j FROM toks WHERE len(ts) >= 2)),
        |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big FROM bg GROUP BY 1, 2),
        |pre AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_pre FROM bg GROUP BY 1),
        |model AS (SELECT big.w1, big.w2, (c_big * 1000000) // c_pre AS p_q
        |          FROM big JOIN pre ON big.w1 = pre.w1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(p_q) // COUNT(*) AS BIGINT) AS lm_q
        |FROM bg JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
        |GROUP BY 1""".stripMargin,
    // exact quantile gate: same histogram running-sum threshold election
    "data_quality_gate" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    (1000000 * CAST(len(list_filter(string_split_regex(text, '\s+'),
        |         t -> list_contains(['the','a','an','and','of','to','in'], t))) AS BIGINT))
        |      // CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS score_q
        |  FROM documents),
        |hist AS (SELECT score_q, COUNT(*) AS c FROM scored GROUP BY 1),
        |cum AS (SELECT score_q, SUM(c) OVER (ORDER BY score_q DESC) AS cum, SUM(c) OVER () AS n FROM hist),
        |thr AS (SELECT MAX(score_q) AS thr FROM cum WHERE cum >= GREATEST(1, (n * 60) // 100))
        |SELECT s.doc_id, CAST(s.score_q AS BIGINT) AS score_q FROM scored s, thr WHERE s.score_q >= thr.thr""".stripMargin,
    // nearest-rank percentiles over the same score histogram
    "data_quantiles" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    (1000000 * CAST(len(list_filter(string_split_regex(text, '\s+'),
        |         t -> list_contains(['the','a','an','and','of','to','in'], t))) AS BIGINT))
        |      // CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS score_q
        |  FROM documents),
        |hist AS (SELECT score_q, COUNT(*) AS c FROM scored GROUP BY 1),
        |cum AS (SELECT score_q, SUM(c) OVER (ORDER BY score_q ASC) AS cum, SUM(c) OVER () AS n FROM hist),
        |p(pct) AS (SELECT * FROM (VALUES (25), (50), (75), (90), (99)))
        |SELECT p.pct, CAST(MIN(c.score_q) AS BIGINT) AS value
        |FROM p CROSS JOIN cum c WHERE c.cum >= GREATEST(1, (c.n * p.pct) // 100)
        |GROUP BY 1""".stripMargin,
    // HLL registers: identical portable hash + pure-bit-op trailing zeros
    "sketch_distinct" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |r AS (SELECT h % 256 AS bucket,
        |             bit_count(((h // 256) & -(h // 256)) - 1) + 1 AS rho FROM h)
        |SELECT bucket, CAST(MAX(rho) AS BIGINT) AS rho_max FROM r GROUP BY 1""".stripMargin,
    // the incremental merge must equal the from-scratch full-corpus sketch
    "sketch_distinct_incr" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |r AS (SELECT h % 256 AS bucket,
        |             bit_count(((h // 256) & -(h // 256)) - 1) + 1 AS rho FROM h)
        |SELECT bucket, CAST(MAX(rho) AS BIGINT) AS rho_max FROM r GROUP BY 1""".stripMargin,
    // Count-Min counters: same portable hash salted with the hash-row index,
    // exact integer cell counts
    "sketch_cms" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |hr(hrow) AS (SELECT * FROM (VALUES (0), (1), (2), (3))),
        |b AS (SELECT CAST(hr.hrow AS BIGINT) AS hrow,
        |             CAST('0x' || substr(md5(CAST(hr.hrow AS VARCHAR) || ':' || t.tok), 1, 15) AS BIGINT) % 512 AS bucket
        |      FROM toks t CROSS JOIN hr)
        |SELECT hrow, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2""".stripMargin,
    // the incremental per-cell-SUM merge must equal the from-scratch sketch
    "sketch_cms_incr" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |hr(hrow) AS (SELECT * FROM (VALUES (0), (1), (2), (3))),
        |b AS (SELECT CAST(hr.hrow AS BIGINT) AS hrow,
        |             CAST('0x' || substr(md5(CAST(hr.hrow AS VARCHAR) || ':' || t.tok), 1, 15) AS BIGINT) % 512 AS bucket
        |      FROM toks t CROSS JOIN hr)
        |SELECT hrow, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2""".stripMargin,
    // KMV bottom-k: UNFILTERED formulation — the engine's HLL-derived
    // map-side pre-filter must be result-invariant, so parity here proves it
    "sketch_kmv" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT tok, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |d AS (SELECT h, MIN(tok) AS tok FROM h GROUP BY 1)
        |SELECT h, tok FROM d ORDER BY h LIMIT 256""".stripMargin,
    // full KMV set-op replication over the 3-shingle universes: same md5
    // hash, same bottom-k cuts, same merged-membership aggregate, same one
    // floored IEEE division for the union estimator ((k−1)·2^60 exact in
    // double; int64→double rounding of h_k identical across engines)
    "sketch_kmv_ops" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |u AS (SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS tok FROM t),
        |sh AS (SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS tok
        |       FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |                JOIN u c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |sa AS (SELECT DISTINCT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        |       FROM sh WHERE doc_id % 2 = 0 ORDER BY h LIMIT 256),
        |sb AS (SELECT DISTINCT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        |       FROM sh WHERE doc_id % 2 = 1 ORDER BY h LIMIT 256),
        |m AS (SELECT coalesce(sa.h, sb.h) AS h,
        |             CASE WHEN sa.h IS NULL THEN 0 ELSE 1 END AS in_a,
        |             CASE WHEN sb.h IS NULL THEN 0 ELSE 1 END AS in_b
        |      FROM sa FULL JOIN sb ON sa.h = sb.h),
        |mk AS (SELECT h, in_a, in_b FROM m ORDER BY h LIMIT 256),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k_eff, max(h) AS h_max,
        |               CAST(sum(in_a * in_b) AS BIGINT) AS n_both FROM mk),
        |est AS (SELECT k_eff, n_both,
        |               CASE WHEN k_eff < 256 THEN k_eff
        |                    ELSE CAST(floor(255.0 * 1152921504606846976.0 / CAST(h_max AS DOUBLE)) AS BIGINT) END AS union_est,
        |               (1000000 * n_both) // k_eff AS jaccard_ppm
        |        FROM agg)
        |SELECT k_eff, n_both, union_est, jaccard_ppm,
        |       (n_both * union_est) // k_eff AS intersect_est FROM est""".stripMargin,
    // the part-sketch union + bottom-k must equal the from-scratch bottom-k
    "sketch_kmv_incr" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT tok, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |d AS (SELECT h, MIN(tok) AS tok FROM h GROUP BY 1)
        |SELECT h, tok FROM d ORDER BY h LIMIT 256""".stripMargin,
    // bottom-k row sample: UNFILTERED formulation — parity proves the
    // engine's row-count-derived map-side pre-filter result-invariant
    "sketch_sample" ->
      """WITH h AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |                  doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |           FROM documents)
        |SELECT h, doc_id, n_toks FROM h ORDER BY h LIMIT 256""".stripMargin,
    // the part-sample union + bottom-k must equal the from-scratch bottom-k
    "sketch_sample_incr" ->
      """WITH h AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |                  doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |           FROM documents)
        |SELECT h, doc_id, n_toks FROM h ORDER BY h LIMIT 256""".stripMargin,
    // full C4-clean replication: same planting, same keeper election
    // ((min doc_id, line_idx) per distinct line == row_number = 1)
    "text_c4_clean" ->
      """WITH structured AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(([^ ]+ ){7}[^ ]+) ', '\1.' || chr(10), 'g')
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'subscribe to our newsletter today.' ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'ok.' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'this line has no terminal punctuation' ELSE '' END
        |    || CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
        |    || CASE WHEN doc_id % 89 = 0 THEN chr(10) || 'bad { code }.' ELSE '' END AS text
        |  FROM documents),
        |docs_ok AS (
        |  SELECT * FROM structured
        |  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')),
        |lns AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(len(parts)),
        |           i -> struct_pack(line_idx := i, line := parts[i+1]))) AS u
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM docs_ok)),
        |lines2 AS (SELECT doc_id, CAST(u.line_idx AS INT) AS line_idx, u.line AS line FROM lns),
        |kept AS (
        |  SELECT * FROM lines2
        |  WHERE len(string_split(line, ' ')) >= 3 AND regexp_matches(line, '[.!?]$')),
        |keeper AS (
        |  SELECT doc_id, line_idx, line,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM kept),
        |dedup AS (SELECT doc_id, line_idx, line FROM keeper WHERE rn = 1),
        |totals AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines2 GROUP BY 1),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         md5(string_agg(line, chr(10) ORDER BY line_idx)) AS cleaned_md5
        |  FROM dedup GROUP BY 1)
        |SELECT a.doc_id, t.n_lines, a.n_kept, a.cleaned_md5
        |FROM agg a JOIN totals t USING (doc_id)
        |WHERE a.n_kept >= 2""".stripMargin,
    // the bloom is an engine-internal prefilter with no false negatives;
    // the observable contract is exactly this anti-join
    "dedup_bloom_incr" ->
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text || ' batch-new-' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT b.doc_id, md5(b.text) AS text_md5
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents c WHERE c.text = b.text)""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, 1 AS n, unnest(toks) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, 2, unnest(list_transform(range(len(toks) - 1),
        |    i -> toks[i+1] || ' ' || toks[i+2])) FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3, unnest(list_transform(range(len(toks) - 2),
        |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) FROM t WHERE len(toks) >= 3),
        |c AS (SELECT doc_id, n, g, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, n, SUM(c) AS total, MAX(c) AS mx, COUNT(*) AS uniq FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  COALESCE(CAST(MAX(CASE WHEN n = 1 THEN mx END) AS DOUBLE)
        |    / MAX(CASE WHEN n = 1 THEN total END), 0.0) AS top_unigram_frac,
        |  COALESCE(CAST(MAX(CASE WHEN n = 2 THEN mx END) AS DOUBLE)
        |    / MAX(CASE WHEN n = 2 THEN total END), 0.0) AS top_bigram_frac,
        |  COALESCE(CAST(MAX(CASE WHEN n = 3 THEN total END) - MAX(CASE WHEN n = 3 THEN uniq END) AS DOUBLE)
        |    / MAX(CASE WHEN n = 3 THEN total END), 0.0) AS dup_trigram_frac
        |FROM p GROUP BY doc_id""".stripMargin,
    // oracle re-derives duplicated ranges from the ACTUAL 20-token window
    // strings (no hashing): any window string seen twice marks its [pos,
    // pos+20) token range; overlapping-or-touching hits merge via
    // gaps-and-islands (window starts are unique per doc, so lag(pos) is
    // the running max end)
    "dedup_substring" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+20], ' ') AS win
        |      FROM (SELECT doc_id, t, unnest(range(len(t) - 19)) AS i FROM tok WHERE len(t) >= 20)),
        |d AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) > 1),
        |hits AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
        |lagged AS (SELECT doc_id, pos,
        |             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 20
        |                  THEN 1 ELSE 0 END AS new_range
        |           FROM hits),
        |isl AS (SELECT doc_id, pos,
        |          SUM(new_range) OVER (PARTITION BY doc_id ORDER BY pos
        |                               ROWS UNBOUNDED PRECEDING) AS range_id
        |        FROM lagged)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS dup_start,
        |       CAST(MAX(pos) + 20 AS BIGINT) AS dup_end,
        |       CAST(MAX(pos) + 20 - MIN(pos) AS BIGINT) AS dup_len
        |FROM isl GROUP BY doc_id, range_id""".stripMargin,
    // incremental oracle: the FULL-corpus computation restricted to the
    // batch docs plus old docs sharing at least one 20-token window string
    // with the batch (the docs whose range sets the ingest can change)
    "dedup_substring_incr" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+20], ' ') AS win
        |      FROM (SELECT doc_id, t, unnest(range(len(t) - 19)) AS i FROM tok WHERE len(t) >= 20)),
        |aff AS (SELECT DISTINCT w.doc_id FROM w
        |        JOIN (SELECT DISTINCT win FROM w WHERE doc_id % 5 = 0) b USING (win)
        |        WHERE w.doc_id % 5 <> 0),
        |scope AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0
        |          UNION SELECT doc_id FROM aff),
        |d AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) > 1),
        |hits AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win) JOIN scope USING (doc_id)),
        |lagged AS (SELECT doc_id, pos,
        |             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 20
        |                  THEN 1 ELSE 0 END AS new_range
        |           FROM hits),
        |isl AS (SELECT doc_id, pos,
        |          SUM(new_range) OVER (PARTITION BY doc_id ORDER BY pos
        |                               ROWS UNBOUNDED PRECEDING) AS range_id
        |        FROM lagged)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS dup_start,
        |       CAST(MAX(pos) + 20 AS BIGINT) AS dup_end,
        |       CAST(MAX(pos) + 20 - MIN(pos) AS BIGINT) AS dup_len
        |FROM isl GROUP BY doc_id, range_id""".stripMargin,
    // oracle recomputes containment with a plain shingle equi-join; the
    // LEFT join + coalesce(0) branch is exercised only by fully-clean docs,
    // which the >= minFrac filter drops in both engines
    "dedup_contamination" ->
      """WITH ev AS (
        |  SELECT DISTINCT unnest(list_transform(range(len(string_split(text, ' ')) - 7),
        |    i -> list_aggregate(string_split(text, ' ')[i+1:i+8], 'string_agg', ' '))) AS g
        |  FROM documents WHERE doc_id % 10 = 0 AND len(string_split(text, ' ')) >= 8),
        |tr AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(string_split(text, ' ')) - 7),
        |    i -> list_aggregate(string_split(text, ' ')[i+1:i+8], 'string_agg', ' '))) AS sh
        |  FROM documents WHERE doc_id % 10 <> 0 AND len(string_split(text, ' ')) >= 8),
        |x AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g FROM tr)
        |SELECT x.doc_id, CAST(x.n_shingles AS BIGINT) AS n_shingles, COUNT(ev.g) AS n_overlap
        |FROM x LEFT JOIN ev ON x.g = ev.g
        |GROUP BY x.doc_id, x.n_shingles
        |HAVING CAST(COUNT(ev.g) AS DOUBLE) / x.n_shingles >= 0.3""".stripMargin,
    // oracle re-derives the whole curation chain independently: window
    // dedup, exact count-based all-pairs Jaccard (the banding-free ground
    // truth), unigram occupancy, then the single-window packing twin
    "pipeline_curate" ->
      s"""WITH keep1 AS (
        |  SELECT doc_id, source, text FROM documents
        |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))),
        |sh AS (SELECT doc_id, ${graft.data.DedupOracles.shinglesExpr} AS sh FROM keep1),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |neardup AS (SELECT DISTINCT doc_b AS doc_id
        |            FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
        |keep2 AS (SELECT k.* FROM keep1 k LEFT JOIN neardup d USING (doc_id) WHERE d.doc_id IS NULL),
        |tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM keep2),
        |tf AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM (
        |         SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(toks) AS g FROM tok) GROUP BY 1, 2)
        |       GROUP BY 1),
        |keep3 AS (SELECT t.doc_id, t.source, len(t.toks) AS n
        |          FROM tok t JOIN tf USING (doc_id)
        |          WHERE len(t.toks) >= 20 AND CAST(tf.mx AS DOUBLE) / tf.tot <= 0.2),
        |c AS (SELECT doc_id, source, n,
        |        SUM(n) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM keep3)
        |SELECT doc_id, source, CAST(cum - n AS BIGINT) AS begin_offset,
        |       CAST((cum - n) // 64 AS BIGINT) AS first_bin,
        |       CAST((cum - 1) // 64 AS BIGINT) AS last_bin
        |FROM c""".stripMargin,
    "data_pack" ->
      """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, source, n,
        |        SUM(n) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT doc_id, source, CAST(cum - n AS BIGINT) AS begin_offset,
        |       CAST((cum - n) // 64 AS BIGINT) AS first_bin,
        |       CAST((cum - 1) // 64 AS BIGINT) AS last_bin
        |FROM c""".stripMargin,
    "text_cdc" ->
      s"""SELECT d.doc_id, f.chunk_idx, f.start, f."end", f.chunk_md5
        |FROM documents d
        |JOIN read_parquet('${OracleGen.repoRoot}/src/test/resources/ref_cdc_chunks.parquet') f
        |  ON md5(d.text) = f.text_md5""".stripMargin,
    "mm_frames" ->
      """WITH f AS (SELECT doc_id, unnest(range(0, length(text) // 64)) AS i, text FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM f WHERE i % 4 = 0""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       CAST(greatest(1, (n_chars % 640 + 1) // 4) AS INT) AS thumb_width,
        |       CAST(greatest(1, (n_chars % 480 + 1) // 4) AS INT) AS thumb_height
        |FROM documents""".stripMargin,
    "f_source_filter" ->
      s"""WITH ${OracleGen.transcriptsCte}
        |SELECT string_split(conv_id, '.')[1] AS source, COUNT(*) AS n_turns
        |FROM transcripts
        |WHERE lower(string_split(conv_id, '.')[1]) NOT IN ('src3', 'src7')
        |  AND NOT (lower(conv_id) LIKE 'sabin%' AND lower(conv_id) LIKE '%placeholder')
        |GROUP BY 1""".stripMargin,
    "f_prefer_translated" ->
      """WITH base AS (
        |  SELECT source || '.doc.' || CAST(doc_id AS VARCHAR) AS stem FROM documents
        |  UNION ALL
        |  SELECT source || '.doc.' || CAST(doc_id AS VARCHAR) || '_translated_en' FROM documents WHERE doc_id % 3 = 0),
        |r AS (SELECT stem, ROW_NUMBER() OVER (
        |        PARTITION BY regexp_replace(stem, '_translated_[a-z]{2}$', '')
        |        ORDER BY CASE WHEN regexp_matches(stem, '_translated_[a-z]{2}$') THEN 1 ELSE 0 END DESC, stem ASC) AS rn
        |      FROM base)
        |SELECT stem FROM r WHERE rn = 1""".stripMargin,
    "f8_exclude_training" ->
      """SELECT doc_id FROM documents
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 10 = 0)""".stripMargin,
    "g7_ensemble" ->
      """WITH preds AS (
        |  SELECT doc_id AS passage_id, (doc_id + 0) % 2 = 0 AS positive, CAST((doc_id*7 + 0) % 100 AS DOUBLE)/100 AS probability FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 1) % 3 = 0, CAST((doc_id*7 + 13) % 100 AS DOUBLE)/100 FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % 4 = 0, CAST((doc_id*7 + 26) % 100 AS DOUBLE)/100 FROM documents)
        |SELECT passage_id,
        |  CAST(SUM(CASE WHEN positive THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS positive_ratio,
        |  2.0 * LEAST(SUM(CASE WHEN positive THEN 1 ELSE 0 END), COUNT(*) - SUM(CASE WHEN positive THEN 1 ELSE 0 END)) / COUNT(*) AS disagreement,
        |  CASE WHEN 2*SUM(CASE WHEN positive THEN 1 ELSE 0 END) = COUNT(*) THEN 0.5
        |       WHEN 2*SUM(CASE WHEN positive THEN 1 ELSE 0 END) > COUNT(*) THEN 1.0 ELSE 0.0 END AS majority_vote,
        |  ROUND(COALESCE(stddev_samp(probability), 0.0), 6) AS prob_stdev_r,
        |  COUNT(*) AS n_classifiers
        |FROM preds GROUP BY passage_id""".stripMargin,
    "g8_strata" ->
      """SELECT 'all' AS stratum, 'all' AS stratum_value, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
        |UNION ALL
        |SELECT 'lang', COALESCE(CAST(lang AS VARCHAR), 'None'), COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM documents GROUP BY 2
        |UNION ALL
        |SELECT 'source', COALESCE(source, 'None'), COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM documents GROUP BY 2""".stripMargin,
    "c2_embedding" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT e AS ce FROM v WHERE vec_id = 0),
        |s AS (SELECT vec_id AS passage_id,
        |             list_dot_product(v.e, c.ce) / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) AS probability
        |      FROM v, c)
        |SELECT passage_id, 0 AS start, 64 AS "end", 'Q15' AS concept_id, probability
        |FROM s WHERE probability >= 0.4""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  COUNT(*) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_window" ->
      """SELECT event_id, user_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |  value - COALESCE(LAG(value, 1) OVER w, 0.0) AS value_delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM g)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |       CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    "q_topk_per_user" ->
      """SELECT user_id, rk, event_id FROM (
        |  SELECT user_id, event_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS INT) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin,
    "g9_balanced_sample" ->
      """SELECT event_id, event_type, rn FROM (
        |  SELECT event_id, event_type,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY md5(CAST(event_id AS VARCHAR)) ASC, event_id ASC) AS INT) AS rn
        |  FROM events WHERE event_type IS NOT NULL)
        |WHERE rn <= 5""".stripMargin,
    // independent formulation: per-purchase LATERAL argmax instead of the
    // engine's union-and-carry-forward window
    "q_asof_join" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |     v AS (SELECT * FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s, p.value,
        |       m.event_id AS view_event_id,
        |       CAST(floor(epoch(m.ts)) AS BIGINT) AS view_ts_s,
        |       m.value AS view_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT v2.event_id, v2.ts, v2.value FROM v v2
        |  WHERE v2.user_id = p.user_id AND v2.ts <= p.ts
        |  ORDER BY v2.ts DESC, v2.event_id DESC LIMIT 1) m ON true""".stripMargin,
    // independent formulation: direct inequality join (fine at oracle scale;
    // the engine's band-bucket plan exists precisely because this explodes)
    "q_band_join" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.user_id, c.event_id, e.event_id AS err_event_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(e.ts)) AS BIGINT) AS dt_s
        |FROM c JOIN e ON c.user_id = e.user_id
        |  AND abs(CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(e.ts)) AS BIGINT)) <= 3600""".stripMargin,
    // independent formulation: the full exact group-by the engine's two-pass
    // sketch-then-verify provably equals (threshold = ceil(phi * n), phi=5e-5)
    "data_heavy_hitters" ->
      s"""WITH s AS (SELECT unnest(${graft.data.DedupOracles.shinglesExpr}) AS shingle FROM documents),
        |tot AS (SELECT CAST(greatest(1, ceil(0.00005 * count(*))) AS BIGINT) AS t FROM s)
        |SELECT shingle, count(*) AS cnt FROM s GROUP BY shingle
        |HAVING count(*) >= (SELECT t FROM tot)""".stripMargin
  )
}
