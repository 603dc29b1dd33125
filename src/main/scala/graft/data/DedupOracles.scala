package graft.data

/** DuckDB oracle SQL for the LSH dedup operators.
  *
  * Both oracles are EXACT all-pairs ground truth computed with a completely
  * different strategy than the engine (no banding, no chunk blocking), so a
  * green row proves the LSH candidate generation has recall 1.0 on the
  * corpus, not just that the same code ran twice:
  *
  *  - MinHash: true Jaccard over word-3-gram shingles for every pair sharing
  *    at least one shingle (a pair with Jaccard >= t > 0 must share one, so
  *    the shingle-join prune loses nothing). NOTE: unlike SimHash's
  *    pigeonhole blocking, banded LSH is probabilistic — a pair at exactly
  *    the threshold (s = 0.5, b = 8, r = 4) is caught with only
  *    1-(1-s^r)^b ~ 40% probability, so exact set equality with the
  *    all-pairs truth is CORPUS-CONDITIONAL: it holds because the planted
  *    near-dup tiers sit far from the threshold (catch probability ~ 1) and
  *    the corpus has no organic near-threshold pairs. A new corpus can break
  *    this row without an engine bug. PlantedDedupSpec pins recall on
  *    planted tiers (every easy-tier pair caught); a historical 1M-doc run
  *    measured hard-tier recall 0.9889 vs 0.989 analytic (BENCH/BASELINE.md).
  *  - SimHash: signatures recomputed from scratch in SQL (bit-sign sums over
  *    a portable md5-based 60-bit token hash), all-pairs Hamming filter. The
  *    engine's 4-chunk pigeonhole blocking is provably lossless for
  *    maxHamming <= 3, so set equality is expected, not hoped for.
  */
object DedupOracles {

  /** SQL twin of Dedup.shingles (word 3-grams, distinct; empty below 3
    * tokens — range(negative) is empty in DuckDB). */
  val shinglesExpr: String =
    "list_distinct(list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]))"

  /** Exact all-pairs shingle-Jaccard ground truth, in the COUNT formulation:
    * |A∩B| aggregated directly from the exploded shingle equi-join and
    * |A∪B| = |A| + |B| − |A∩B| (shingle lists are distinct per doc, so this
    * is exactly the original list_intersect/list_distinct arithmetic). The
    * earlier list-carrying formulation joined every candidate pair against
    * two ~1.4 KB shingle lists — at the sf1-equivalent sweep's 50k docs
    * that materialization spilled >60 GB in DuckDB; counting inside the
    * equi-join keeps rows narrow at every scale with the identical result
    * set. */
  def minhashSql(threshold: Double = 0.5): String =
    s"""WITH sh AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
       |sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
       |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $threshold""".stripMargin

  /** Transitive near-dup clustering oracle: the exact all-pairs Jaccard
    * edges (minhashSql's count formulation) closed under a recursive-CTE
    * min-reachable-id connected components — the independent cross-check of
    * the engine's star-contraction CC over the same pair set. Near-dup
    * clusters are tiny, so recursion depth is bounded in practice. */
  def clusterSql(threshold: Double = 0.5): String =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
       |sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
       |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b
       |          FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $threshold),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM und),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, u.dst FROM reach JOIN und u ON u.src = reach.r)
       |SELECT node AS doc_id, MIN(r) AS cluster FROM reach GROUP BY node""".stripMargin

  /** Incremental-LSH oracle: the engine result must equal the FULL exact
    * all-pairs ground truth restricted to pairs touching the batch (docs
    * with doc_id % batchMod = 0) — because signatures are deterministic,
    * incremental banding finds exactly the full-run pairs that involve a
    * new doc. Same corpus-conditional caveat as minhashSql. With
    * doc_a < doc_b, "touches the batch" is (doc_a % m = 0 OR doc_b % m = 0). */
  def minhashIncrementalSql(threshold: Double = 0.5, batchMod: Int = 5): String =
    minhashSql(threshold) +
      s"\n  AND (doc_a % $batchMod = 0 OR doc_b % $batchMod = 0)"

  /** SQL twin of Dedup.portableTokenHash: first 15 hex chars of md5 as a
    * 60-bit integer. */
  val tokenHashExpr: String = "CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)"

  def simhashSql(nBits: Int = 60, maxHamming: Int = 3): String = {
    // the chunk split here is only a representation of the nBits signature
    // in BIGINT columns for the all-pairs Hamming sum — it shares the
    // engine's nChunks = maxHamming + 1 so the two parameterizations can
    // never drift (the engine's pigeonhole blocking needs that count; the
    // oracle would be exact truth at any split)
    val nChunks = maxHamming + 1
    require(nBits % nChunks == 0, s"nBits=$nBits must split evenly into ${nChunks} chunks")
    val chunkBits = nBits / nChunks
    val bitSums = (0 until nBits)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(", ")
    val chunkExprs = (0 until nChunks)
      .map { c =>
        val bits = (0 until chunkBits)
          .map(i => s"(CASE WHEN s_${c * chunkBits + i} > 0 THEN (1::BIGINT << $i) ELSE 0 END)")
          .mkString(" | ")
        s"($bits) AS c_$c"
      }
      .mkString(", ")
    val hammingSum = (0 until nChunks).map(c => s"bit_count(xor(a.c_$c, b.c_$c))").mkString(" + ")
    // candidate generation by chunk equality instead of the all-pairs
    // inequality join (which materializes O(n^2) rows — >100 GB at the
    // sf1-equivalent sweep's 50k docs): two signatures within Hamming
    // distance maxHamming MUST agree on at least one of the
    // maxHamming + 1 chunks (pigeonhole — a theorem about the signatures,
    // not a re-derivation of the engine's code), so the union of the
    // per-chunk equi-joins is a lossless candidate set and the full
    // Hamming verify below it keeps the result exactly the all-pairs truth.
    val chunkCands = (0 until nChunks)
      .map(c =>
        s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b ON a.c_$c = b.c_$c AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n  ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, $tokenHashExpr AS h FROM toks),
       |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $chunkExprs FROM bits),
       |cand AS (
       |  $chunkCands)
       |SELECT c.doc_a, c.doc_b
       |FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
       |WHERE $hammingSum <= $maxHamming""".stripMargin
  }

  /** Incremental-SimHash oracle: full all-pairs ground truth restricted to
    * pairs touching the batch (doc_id % batchMod = 0). The pigeonhole
    * blocking is lossless, so equality is expected unconditionally — unlike
    * the MinHash incremental row, there is no corpus-conditional caveat. */
  def simhashIncrementalSql(nBits: Int = 60, maxHamming: Int = 3, batchMod: Int = 5): String =
    simhashSql(nBits, maxHamming) +
      s"\n  AND (a.doc_id % $batchMod = 0 OR b.doc_id % $batchMod = 0)"
}
