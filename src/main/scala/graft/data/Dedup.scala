package graft.data

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpointBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators over the `documents` table — the
  * training-data-pipeline side of the engine. All operators are pure
  * DataFrame/Catalyst plans (codegen-friendly, no UDFs): shingling and
  * signatures use higher-order array functions and xxhash64.
  *
  * Scale design: exact dedup is a single hash aggregation; n-gram Jaccard
  * uses cheap blocking to bound the pair space; MinHash-LSH is the 100 TB
  * path — signature computation is embarrassingly parallel, candidate
  * generation is a band-bucket shuffle (each doc appears `bands` times, never
  * all-pairs), and only candidates get exact verification.
  */
object Dedup {

  /** Exact duplicate groups by content hash (one shuffle on a 32-char key). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("representative"))
      .where(col("n_docs") > 1)

  /** Distinct word-n-gram shingles from a MATERIALIZED token-array column.
    * The token array must be a bound column (produced by a projection), not
    * an inline split(...): Spark does not hoist lambda-invariant
    * subexpressions, so an inline split inside this transform would re-split
    * the text once per shingle per gram position (measured 3-4x the cost of
    * the entire LSH pipeline). */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    when(
      size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)
        )
      )
    ).otherwise(array().cast("array<string>"))

  /** Distinct word-3-gram shingles of a text column (size-n+1 shingles; empty
    * array for texts shorter than n tokens). Prefer the two-phase
    * select(split).select(shinglesFromTokens) in hot paths — see
    * shinglesFromTokens. */
  def shingles(textCol: String, n: Int = 3): Column =
    shinglesFromTokens(split(col(textCol), " "), n)

  /** Distinct n-gram shingle HASHES from a materialized token-array column:
    * xxhash64 chained over the n token strings — no n-gram string is ever
    * built (the concat_ws allocation was the dominant cost of the
    * string-shingle form) and downstream joins/broadcasts carry 8-byte
    * longs instead of ~60-char strings (guide §2.3: narrower keys). Tokens
    * contain no separator (they come from a whitespace split), so the token
    * tuple ↔ shingle string map is bijective and the hashed distinct/join
    * semantics match the string form up to 2^-64 collisions. For operators
    * whose OUTPUT contains the shingle itself keep the string form. */
  def shingleHashesFromTokens(toks: Column, n: Int = 3): Column =
    when(
      size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => xxhash64((0 until n).map(k => element_at(toks, i + k + 1)): _*)
        )
      )
    ).otherwise(array().cast("array<bigint>"))

  /** Near-duplicate pairs by exact word-3-gram Jaccard >= threshold, with
    * prefix blocking (pairs are only compared when their first `blockChars`
    * characters match — the synthetic corpus plants suffix-edited dups, and
    * at scale the blocking key bounds the quadratic pair space per block). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5, blockChars: Int = 40): DataFrame = {
    val withBlock = docs
      .select(
        col("doc_id"),
        substring(col("text"), 1, blockChars).as("block"),
        split(col("text"), " ").as("toks")
      )
      // sorted once per doc -> per-pair intersection is the linear-merge
      // expression (same values as array_intersect/array_union by
      // inclusion-exclusion; see verifyJaccard)
      .select(col("doc_id"), col("block"), array_sort(shinglesFromTokens(col("toks"))).as("sh"))
    val a = withBlock.as("a")
    val b = withBlock.as("b")
    val inter = graft.extract.SortedIntersect.sortedIntersectCount(col("a.sh"), col("b.sh"))
    a.join(b, col("a.block") === col("b.block") && col("a.doc_id") < col("b.doc_id"))
      // single-eval of the merge loop — see verifyJaccard
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        inter.as("n_inter"),
        (size(col("a.sh")) + size(col("b.sh"))).as("n_total")
      )
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("n_inter").cast("double") / (col("n_total") - col("n_inter"))).as("jaccard")
      )
      .where(col("jaccard") >= threshold)
  }

  /** MinHash signatures: k independent permutations approximated by
    * xxhash64(xxhash64(shingle), seed_i); signature_i = min over shingles.
    *
    * The variable-length shingle STRING is hashed exactly once; the k
    * permutations re-hash the resulting 8-byte long, which is ~an order of
    * magnitude cheaper per permutation (hashing the string k times was the
    * dominant cost of the whole LSH pipeline). The explode + hash-aggregate
    * shape is deliberate: partial min combines map-side, so the shuffle
    * carries one row per (doc, partition), and no per-doc intermediate
    * arrays are allocated (an array_min(transform(...)) formulation
    * benchmarked 2x SLOWER from allocation pressure). */
  def minhashSignatures(docs: DataFrame, k: Int = 32): DataFrame = {
    val exploded = Par.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"))).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val aggs = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"mh_$i"))
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Band buckets from a signature table (possibly read back from a
    * persisted signature index): (doc_id, band, sig). */
  def minhashBandBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        hash((0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*).as("sig")
      )
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Distinct candidate pairs: docs sharing any band bucket. Each doc appears
    * `bands` times — never all-pairs. */
  def minhashCandidates(buckets: DataFrame): DataFrame =
    buckets
      .as("x")
      .join(buckets.as("y"), Seq("band", "sig"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Exact-Jaccard verification of candidate pairs. The corpus is
    * semi-join-pruned to candidate ids BEFORE shingle arrays are
    * materialized: verification shuffles only the candidate docs' arrays,
    * not every doc's.
    *
    * Cardinality note: the candidate-id set is broadcast only when
    * `broadcastCandidates` (default on — near-dup fractions are small in
    * practice). On a corpus where near-duplicates dominate, the candidate
    * set is O(corpus) and a driver broadcast becomes the hotspot — pass
    * `broadcastCandidates = false` to use a shuffle semi-join instead; the
    * plan stays identical otherwise. */
  def verifyJaccard(
      cand: DataFrame,
      docs: DataFrame,
      threshold: Double,
      broadcastCandidates: Boolean = true
  ): DataFrame = {
    // lazy local checkpoint: the candidate subtree (band self-join +
    // distinct) feeds BOTH the id-prune below and the pair stream —
    // materialize the bare id pairs once instead of running the join twice.
    // Its count materializes it; settled, a one-partition candidate set is
    // de-duplicated to ids where it lies, and its estimate is its size
    val ck = cand.localCheckpoint(false)
    val nCand = ck.count()
    val candCk = GraftCheckpointBridge.settled(ck)
    val candIds = candCk
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // shingle arrays are sorted ONCE per candidate doc so the per-pair
    // intersection is a zero-allocation linear merge
    // (SortedIntersectCount) instead of array_intersect's per-invocation
    // hash set — measured 25 us -> ~2 us per ~55-shingle pair; the union
    // size follows by inclusion-exclusion, so the jaccard values (and the
    // DuckDB oracle parity) are identical
    // fan the candidate shingle+sort build out before the broadcast semi
    // probe: the pruned doc set arrives as one byte-based split and the
    // array_sort(shingles) construction ran single-core (r6 profile:
    // 0.57 s single-task stage in dedup_minhash)
    val sh = Par
      .fanOut(docs.select(col("doc_id"), col("text")))
      .join(if (broadcastCandidates) broadcast(candIds) else candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), array_sort(shinglesFromTokens(col("toks"))).as("sh"))
    val inter = graft.extract.SortedIntersect.sortedIntersectCount(col("sh_a"), col("sh_b"))
    // The pair stream is CPU-dense but byte-light (16 B/row costing ~µs of
    // merge work each), so AQE's byte-based partition coalescing collapses
    // it to 1-2 partitions and the verification runs nearly single-core
    // (measured 2.4 s -> 0.5 s at sf0.1). Pin the parallelism with an
    // explicit round-robin repartition — user-specified repartitions are
    // exempt from AQE coalescing, and shuffling the bare id pairs is
    // trivial next to the merge work they fan out to. The partition count
    // is derived from the ACTUAL candidate count (the count that
    // materializes the checkpoint above), not pinned to the session
    // constant: a handful of candidates on one task beats spraying them
    // over hundreds of overhead-only tasks, and a large candidate set still
    // fans out to the full session parallelism (~4k pairs ≈ 10 ms of merge
    // work per task). A candidate set that reports one partition already
    // lies where one partition would put it.
    val confPart = cand.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val nPart = math.max(1L, math.min(confPart.toLong, nCand / 4096L + 1L)).toInt
    (if (nPart == 1 && GraftCheckpointBridge.onePartition(candCk)) candCk else candCk.repartition(nPart))
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      // inter is bound in its own projection so the generated merge loop runs
      // ONCE per pair — inlined codegen expressions are not subexpression-
      // eliminated across the numerator and denominator of the jaccard ratio
      .select(
        col("doc_a"),
        col("doc_b"),
        inter.as("n_inter"),
        (size(col("sh_a")) + size(col("sh_b"))).as("n_total")
      )
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("n_inter").cast("double") / (col("n_total") - col("n_inter"))).as("jaccard")
      )
      .where(col("jaccard") >= threshold)
  }

  /** LSH near-dup pairs: signatures split into `bands` bands of `rowsPerBand`
    * values; docs sharing any band hash become candidates; candidates are
    * verified with exact shingle Jaccard. Probability a pair with true
    * Jaccard s is caught: 1 - (1 - s^r)^b. Pass `preSigs` (a persisted
    * signature index) to skip recomputing signatures — a self-join otherwise
    * re-executes the signature subtree on both sides. */
  def minhashPairs(
      docs: DataFrame,
      threshold: Double = 0.5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      preSigs: Option[DataFrame] = None
  ): DataFrame = {
    val sigs = preSigs.getOrElse(minhashSignatures(docs, bands * rowsPerBand))
    verifyJaccard(minhashCandidates(minhashBandBuckets(sigs, bands, rowsPerBand)), docs, threshold)
  }

  /** Incremental LSH — dedup a NEW batch of documents against an existing
    * persisted signature index without touching the old corpus: the
    * nightly-ingest shape of corpus dedup at scale. Signature computation is
    * proportional to the BATCH only; candidates are (new x old) ∪
    * (new x new) band-bucket matches — old x old pairs are never re-derived
    * (they were emitted when their batches arrived). Because signatures are
    * deterministic, the result is EXACTLY the full-corpus LSH pair set
    * restricted to pairs touching the batch (property-tested), so repeated
    * incremental ingestion converges to the same dedup state as one big
    * batch run.
    *
    * `allDocs` (old + new) supplies verification text; only candidate docs'
    * shingles are materialized (verifyJaccard's semi-join prune).
    * Returns (pairs, batchSigs) — union batchSigs into the persisted index
    * for the next batch. */
  def minhashPairsIncremental(
      newDocs: DataFrame,
      allDocs: DataFrame,
      existingSigs: DataFrame,
      threshold: Double = 0.5,
      bands: Int = 8,
      rowsPerBand: Int = 4
  ): (DataFrame, DataFrame) = {
    // lazy local checkpoint: the batch-signature subtree feeds BOTH sides of
    // the one-sided join (x side + the new-vs-new union) — materialize on
    // first action instead of evaluating the explode + k min-aggs twice
    val batchSigs = minhashSignatures(newDocs, bands * rowsPerBand).localCheckpoint(false)
    val newBuckets = minhashBandBuckets(batchSigs, bands, rowsPerBand)
    val oldBuckets = minhashBandBuckets(existingSigs, bands, rowsPerBand)
    // one-sided join: every candidate pair has a NEW member; directionless
    // (least, greatest) + distinct dedups new x new appearing on both sides
    val cand = newBuckets
      .as("x")
      .join(oldBuckets.unionByName(newBuckets).as("y"), Seq("band", "sig"))
      .where(col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b")
      )
      .distinct()
    (verifyJaccard(cand, allDocs, threshold), batchSigs)
  }

  /** Benchmark decontamination (the GPT-3 §C / PaLM posture: flag training
    * documents that CONTAIN benchmark n-grams, rather than exact-text
    * equality — F8's excludeTrainingTexts is the exact-match sibling). A
    * training doc is scored by the fraction of its distinct word n-grams
    * that appear anywhere in the eval corpus; rows at or above `minFrac`
    * are the contamination report.
    *
    * Scale shape: the eval side is a benchmark suite — tiny next to the
    * training corpus — so its distinct shingle set broadcasts and the
    * training side never shuffles: explode, broadcast left join, one
    * hash re-aggregation keyed by doc_id. Training-side shingle arrays are
    * never carried through a join. */
  def contamination(
      train: DataFrame,
      evalDocs: DataFrame,
      n: Int = 8,
      minFrac: Double = 0.3
  ): DataFrame = {
    val evalSh = Par
      .fanOut(evalDocs.select(col("text")))
      .select(split(col("text"), " ").as("toks"))
      .select(explode(shingleHashesFromTokens(col("toks"), n)).as("g"))
      .distinct()
    // explode_OUTER, not explode: a plain explode gets an inferred
    // `size(sh) > 0` filter (InferFiltersFromGenerate) which predicate
    // pushdown then substitutes through the projections to the scan —
    // re-materializing the whole n-gram construction (with a per-element
    // re-split of the text) inside a Filter, ~8x the cost of the query
    // (measured: 27 s -> ~1 s at sf0.1). explode_outer admits no such
    // filter, so the shingle array is built exactly once. NOTE the final
    // predicate must not carry a group-key-only conjunct (e.g.
    // n_shingles > 0): a conjunct over group keys alone pushes below the
    // aggregate and re-materializes size(<shingle expr>) in the scan
    // filter — the same pathology at half strength. The frac comparison
    // references the aggregate output, so it cannot push; try_divide makes
    // it alone drop the zero-shingle rows (0-divisor -> null, never
    // >= minFrac) without tripping ANSI-mode DIVIDE_BY_ZERO.
    // pin parallelism before the shingle build: n-gram construction is an
    // interpreted HOF (CPU-dense, byte-light), and a compact parquet input
    // arrives as 1-2 partitions under byte-based splitting — the same
    // pinned-repartition device as verifyJaccard (shuffling raw texts is
    // trivial next to the transform work they fan out to)
    val trainSh = Par
      .fanOut(train.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // hashed shingles: the n-gram string is never built and the broadcast
      // membership probe carries longs — overlap counts are identical to
      // the string form (see shingleHashesFromTokens) up to xxhash64
      // collisions: parity with the string-based DuckDB oracle holds only
      // up to a 2^-64 per-pair collision chance, so a future hash_match
      // failure of dedup_contamination should be checked against a
      // colliding shingle pair first
      .select(col("doc_id"), shingleHashesFromTokens(col("toks"), n).as("sh"))
      // size must be computed BELOW the explode: an expression alongside a
      // generator lands in a Project ABOVE the Generate (ExtractGenerator),
      // which keeps the whole shingle array "required" and copies it into
      // every exploded row (~50 strings per row, measured as the dominant
      // cost of this query); with size bound first, column pruning marks
      // the array unrequired and the generate emits bare (doc_id, n, g).
      // The coalesce makes n_shingles NON-NULLABLE: the final frac
      // predicate otherwise implies isnotnull(n_shingles), and
      // InferFiltersFromConstraints pushes that through the group key to
      // the SCAN — substituting isnotnull(size(<whole shingle expr>)) into
      // a per-raw-row Filter whose inlined per-element re-splits cost ~8x
      // the query (measured 9.1 s -> 0.9 s for the final stage at sf0.1)
      .select(col("doc_id"), coalesce(size(col("sh")), lit(0)).as("n_shingles"), col("sh"))
      .select(col("doc_id"), col("n_shingles"), explode_outer(col("sh")).as("g"))
    trainSh
      .join(broadcast(evalSh.withColumn("m", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id", "n_shingles")
      .agg(coalesce(sum(col("m")), lit(0L)).as("n_overlap"))
      .where(try_divide(col("n_overlap").cast("double"), col("n_shingles")) >= minFrac)
      .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"), col("n_overlap"))
  }

  /** Distributed Bloom-filter build over exact content hashes — the
    * persisted membership artifact for incremental exact-dedup ingest at
    * corpus scale (probe a filter instead of joining the corpus). Each
    * corpus text contributes k bit positions (independent xxhash64 seeds);
    * positions aggregate to 64-bit words via bit_or with map-side partial
    * combine, so the shuffle carries at most (words-touched × partitions)
    * rows and the driver collects a bounded model artifact (m/64 longs —
    * same posture as the IVF codebook). At 100 TB the single bitset becomes
    * a hash-RANGE-partitioned family of blooms (route each probe to its
    * range's filter); the build below already partitions naturally on word
    * index, only the collect would change.
    *
    * @return dense bitset, word-indexed (length m/64). */
  /** 64-entry single-bit mask table as ONE array literal — the Column API's
    * shiftleft only takes a constant shift, so variable shifts become an
    * element_at against this (codegen: one array index). */
  private val bitMasks: Column = typedLit((0 until 64).map(1L << _))

  /** `mBits <= 0` auto-sizes to the next power of two ≥ 16 bits/key
    * (fp ≈ 0.1% at k=5) from a count of the distinct corpus hashes — one
    * extra build-time action on an artifact built once per corpus epoch.
    * Capped at 2^27 bits (16 MB) for the single-bitset form; past that a
    * real deployment shards by hash range (see scaladoc above). */
  def buildBloom(corpus: DataFrame, mBits: Int = -1, k: Int = 5): Array[Long] = {
    val h = corpus.select(xxhash64(col("text")).as("h")).distinct().localCheckpoint()
    val m =
      if (mBits > 0) mBits
      else {
        val n = h.count()
        math.min(1L << 27, math.max(1L << 17, java.lang.Long.highestOneBit(16L * n - 1) << 1)).toInt
      }
    require(m % 64 == 0 && Integer.bitCount(m) == 1, "mBits must be a power of two")
    val probes = h.select(
      explode(array((0 until k).map(j => pmod(xxhash64(col("h"), lit(j)), lit(m.toLong))): _*))
        .as("pos"))
    val words = probes
      .select(
        floor(col("pos") / 64).cast("int").as("word"),
        element_at(bitMasks, pmod(col("pos"), lit(64)).cast("int") + 1).as("mask"))
      .groupBy("word")
      .agg(bit_or(col("mask")).as("bits"))
      .collect()
    val bitset = new Array[Long](m / 64)
    words.foreach(r => bitset(r.getInt(0)) = r.getLong(1))
    bitset
  }

  /** Column predicate: might the text be in the bloom? Pure built-in
    * functions over ONE array literal (`typedLit` of the bitset is a single
    * Literal node — k element_at probes, whole-stage codegen, no UDF, no
    * custom expression). False negatives are impossible by construction
    * (same hash family as the build), so a bloom-prefiltered exclusion is
    * EXACTLY an anti-join after verification. */
  def bloomMightContain(textCol: Column, bitset: Array[Long], k: Int = 5): Column = {
    val mBits = bitset.length * 64L
    val bits = typedLit(bitset.toSeq)
    val h = xxhash64(textCol)
    (0 until k)
      .map { j =>
        val pos = pmod(xxhash64(h, lit(j)), lit(mBits))
        val mask = element_at(bitMasks, pmod(pos, lit(64)).cast("int") + 1)
        element_at(bits, floor(pos / 64).cast("int") + 1).bitwiseAND(mask) =!= lit(0L)
      }
      .reduce(_ && _)
  }

  /** Incremental exact-dedup ingest via a persisted Bloom filter: drop batch
    * docs whose exact text already appears in the corpus. The bloom (built
    * once per corpus epoch, `buildBloom`) prunes the batch to probable hits
    * map-side — at a typical nightly batch vs a 100 TB corpus, the
    * definite-new rows (the vast majority) never shuffle at all — and only
    * the bloom-positive candidates are verified by an exact semi-join on
    * text. Result is EXACTLY `batch ANTI JOIN corpus ON text` (no false
    * negatives; false positives are removed by the verify join), which is
    * what the oracle checks. The verify join's corpus scan is itself pruned
    * by the candidates' hash set when small (broadcast semi-join).
    *
    * @return retained batch rows (doc_id, text_md5). */
  def bloomExcludeIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      mBits: Int = 1 << 17,
      k: Int = 5,
      bloom: Option[Array[Long]] = None,
      broadcastCandidates: Boolean = true
  ): DataFrame = {
    val bitset = bloom.getOrElse(buildBloom(corpus, mBits, k))
    val might = bloomMightContain(col("text"), bitset, k)
    // evaluate the probe ONCE per batch row and materialize the flag: the
    // definite-new and candidate branches both referenced `might`, so the
    // bitset literal (m/64 longs) rode the plan twice and every row paid
    // the k hash probes twice — ~0.8 s of driver planning gaps at sf0.1
    // came from optimizing the duplicated literal subtrees alone. The batch
    // is first projected to the two columns the result reads, so the flag
    // cannot collide with a caller column and the checkpoint stores no
    // column the result never reads.
    val flagged = batch.select(col("doc_id"), col("text")).withColumn("__might", might).localCheckpoint(false)
    val definiteNew = flagged.where(!col("__might")).drop("__might")
    val candidates = flagged.where(col("__might")).drop("__might")
    // verify: candidates ANTI JOIN corpus on text. Joined naively this
    // shuffles the 100 TB corpus to verify a batch-sized candidate set —
    // so first prune the corpus scan MAP-SIDE with a broadcast of the
    // candidates' content hashes (bloom-positive rows are ~batch-sized by
    // construction; same device as verifyJaccard's candidate pruning).
    // `broadcastCandidates=false` keeps the plain join for the degenerate
    // dup-dominated-batch case where the candidate set is the whole batch.
    val corpusSide =
      if (broadcastCandidates)
        corpus
          .select("text")
          .join(
            broadcast(candidates.select(xxhash64(col("text")).as("__ch")).distinct()),
            xxhash64(col("text")) === col("__ch"),
            "left_semi")
      else corpus.select("text")
    val confirmedNew = candidates.join(corpusSide, Seq("text"), "left_anti")
    definiteNew
      .unionByName(confirmedNew)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
  }

  /** Deterministic 60-bit token hash reproducible in DuckDB SQL: the first
    * 15 hex chars of md5, parsed base-16 (fits a signed long without
    * overflow). Used by the oracle-checked simhash variant — the production
    * default stays xxhash64 (cheaper, but not SQL-reproducible). */
  def portableTokenHash(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** nBits-wide SimHash over whitespace tokens: bit b of the signature is
    * the sign of sum over tokens of ±1 according to bit b of tokenHash(tok).
    * One explode + one groupBy with nBits codegen'd conditional sums. */
  def simhash(
      docs: DataFrame,
      nBits: Int = 64,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxhash64(_)
  ): DataFrame = {
    val toks = Par
      .fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val withH = toks.withColumn("h", tokenHash(col("tok")))
    val bitSums = (0 until nBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val agg = withH.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until nBits)
      .map(b => when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs under a Hamming-distance bound, blocked on
    * maxHamming+1 signature chunks: a pair within distance d <= maxHamming
    * differs in at most maxHamming chunks, so it must agree on at least one
    * (pigeonhole) — the blocking is provably lossless at any bound, and no
    * all-pairs comparison ever happens. Chunk width nBits/(maxHamming+1)
    * trades bucket selectivity against the bound (default 3 -> 16-bit
    * chunks). */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      nBits: Int = 64,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxhash64(_),
      preSigs: Option[DataFrame] = None
  ): DataFrame = {
    val nChunks = maxHamming + 1
    require(nChunks <= nBits, s"need at least one bit per chunk: maxHamming=$maxHamming, nBits=$nBits")
    // preSigs: a persisted (doc_id, simhash) index — without it the chunk
    // self-join re-executes the token explode + nBits bit-sum aggregation on
    // both sides
    val sigs = preSigs.getOrElse(simhash(docs, nBits, tokenHash))
    val keyed = simhashChunkKeys(sigs, maxHamming, nBits)
    keyed
      .as("x")
      .join(keyed.as("y"), Seq("chunk", "v"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming")
      )
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** (doc_id, simhash) -> one row per signature chunk (chunk index, chunk
    * value): the pigeonhole blocking key shared by the batch and incremental
    * pair generators. */
  private def simhashChunkKeys(sigs: DataFrame, maxHamming: Int, nBits: Int): DataFrame = {
    val nChunks = maxHamming + 1
    val chunks = (0 until nChunks).map { c =>
      val start = c * nBits / nChunks
      val width = (c + 1) * nBits / nChunks - start
      // JVM shifts are mod 64: (1L << 64) - 1 would be 0, collapsing every
      // doc into one bucket (a silent all-pairs join at maxHamming = 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      struct(lit(c).as("chunk"), shiftright(col("simhash"), start).bitwiseAND(mask).as("v"))
    }
    sigs
      .select(col("doc_id"), col("simhash"), explode(array(chunks: _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.v").as("v"))
  }

  /** Incremental SimHash — the batch-ingest twin of `minhashPairsIncremental`
    * for the Hamming-distance dedup family. New-batch signatures are chunk-
    * blocked against the persisted (doc_id, simhash) index one-sided, so
    * old x old pairs are never re-derived and signature computation is
    * proportional to the batch. Unlike banded MinHash, the pigeonhole
    * blocking is provably lossless, so incremental == full-run pairs
    * touching the batch UNCONDITIONALLY (not corpus-conditionally).
    * Returns (pairs, batchSigs); union batchSigs into the index for the
    * next batch. */
  def simhashPairsIncremental(
      newDocs: DataFrame,
      existingSigs: DataFrame,
      maxHamming: Int = 3,
      nBits: Int = 64,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxhash64(_)
  ): (DataFrame, DataFrame) = {
    val nChunks = maxHamming + 1
    require(nChunks <= nBits, s"need at least one bit per chunk: maxHamming=$maxHamming, nBits=$nBits")
    // lazy local checkpoint — same both-sides reuse as the MinHash twin
    val batchSigs = simhash(newDocs, nBits, tokenHash).localCheckpoint(false)
    val newKeyed = simhashChunkKeys(batchSigs, maxHamming, nBits)
    val allKeyed = simhashChunkKeys(existingSigs, maxHamming, nBits).unionByName(newKeyed)
    val pairs = newKeyed
      .as("x")
      .join(allKeyed.as("y"), Seq("chunk", "v"))
      .where(col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming")
      )
      .distinct()
      .where(col("hamming") <= maxHamming)
    (pairs, batchSigs)
  }

  /** Substring-level exact dedup (the Lee et al. 2021 "deduplicating
    * training data" posture): find every maximal token range whose every
    * `width`-token window appears verbatim somewhere else in the corpus
    * (another document OR another position of the same document). Returns
    * one row per maximal duplicated range: (doc_id, dup_start, dup_end,
    * dup_len) in 0-based token offsets, end exclusive. Callers cut or drop
    * these ranges to de-duplicate at the substring grain that document-level
    * hashing (exact/MinHash/SimHash) cannot see — boilerplate headers,
    * quoted replies, licence blocks.
    *
    * Scale shape: the corpus is scanned twice, shuffled once.
    *   1. TokenWindowHashes emits one (pos, 64-bit hash) per token in a
    *      single O(n) rolling pass — the shuffle carries ~20 B/token, never
    *      the W-token window strings.
    *   2. One hash aggregation (map-side partial counts) finds hashes seen
    *      more than once — on a deduplicated-ish corpus this set is small
    *      and broadcasts; on a dup-dominated corpus pass
    *      `broadcastDupHashes = false` for a shuffle semi-join (same plan
    *      otherwise — the verifyJaccard contract).
    *   3. The second scan semi-joins windows against the dup-hash set
    *      map-side, then a per-doc window function merges overlapping or
    *      touching windows into maximal ranges (new range iff
    *      pos > prev_pos + width on the sorted hits — window starts are
    *      unique per doc, so lag(pos) is the running max end). Hits are a
    *      tiny fraction of the corpus, so the per-doc sort is cheap.
    */
  def duplicatedWindowRanges(
      docs: DataFrame,
      width: Int = 20,
      broadcastDupHashes: Boolean = true
  ): DataFrame = {
    def wins = windowHashRows(docs, width)
    val dupH = wins
      .groupBy("h")
      .agg(count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select("h")
    val hits = wins
      .join(if (broadcastDupHashes) broadcast(dupH) else dupH, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    mergeWindowRanges(hits, width)
  }

  /** (doc_id, pos, h): one row per `width`-token window of each doc — the
    * exploded TokenWindowHashes stream, and the persisted-index row format
    * for the incremental variant. */
  def windowHashRows(docs: DataFrame, width: Int): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(graft.extract.TokenWindowHashes.tokenWindowHashes(col("text"), width)).as("w")
      )
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))

  /** Merge duplicated-window hits (doc_id, pos) into maximal ranges: sorted
    * per doc, a new range starts iff pos > prev_pos + width (window starts
    * are unique per doc, so lag(pos) is the running max end). */
  private def mergeWindowRanges(hits: DataFrame, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    hits
      // first row per doc: lag is null -> condition null -> otherwise(0)
      .withColumn(
        "new_range",
        when(col("pos") > lag(col("pos"), 1).over(byPos) + width, 1).otherwise(0)
      )
      .withColumn("range_id", sum(col("new_range")).over(byPos))
      .groupBy("doc_id", "range_id")
      .agg(min(col("pos")).as("dup_start"), (max(col("pos")) + width).as("dup_end"))
      .select(
        col("doc_id"),
        col("dup_start").cast("long").as("dup_start"),
        col("dup_end").cast("long").as("dup_end"),
        (col("dup_end") - col("dup_start")).cast("long").as("dup_len")
      )
  }

  /** Incremental substring dedup — the batch-ingest twin of
    * `duplicatedWindowRanges` (same family contract as
    * `minhashPairsIncremental`/`simhashPairsIncremental`). A new batch is
    * checked against a persisted window-hash index (`windowHashRows` rows
    * for every already-ingested doc) WITHOUT re-tokenizing the old corpus.
    *
    * Output = the full-corpus result restricted to docs TOUCHING the batch:
    * the batch docs themselves plus every old doc sharing at least one
    * window hash with the batch ("affected" — the only old docs whose range
    * sets can change). Affected docs are re-emitted with their COMPLETE
    * range set (including ranges duplicated purely against other old docs),
    * so a consumer can overwrite those docs' rows in place; unaffected docs
    * are untouched by construction. Property-tested: incremental == full
    * recomputation restricted to batch ∪ affected.
    *
    * Scale shape: the old corpus text is never read. The index is scanned
    * (map-only — the probe sets broadcast) three times: once to find
    * affected doc ids, once to pull affected docs' rows, once to count
    * occurrences of candidate hashes corpus-wide (a hash shared by an
    * affected doc may owe its duplication to an UNaffected doc, so counting
    * must see the whole index, not just affected rows). Every shuffle is
    * proportional to the batch + affected set, not the corpus. On a
    * dup-dominated corpus where the batch touches everything, pass
    * `broadcastKeys = false` to swap the probe broadcasts for shuffle
    * semi-joins (same plans otherwise — the verifyJaccard contract).
    *
    * Returns (ranges, batchWins); union batchWins into the persisted index
    * for the next batch. */
  def duplicatedWindowRangesIncremental(
      newDocs: DataFrame,
      winIndex: DataFrame,
      width: Int = 20,
      broadcastKeys: Boolean = true
  ): (DataFrame, DataFrame) = {
    def bc(df: DataFrame): DataFrame = if (broadcastKeys) broadcast(df) else df
    // the batch window stream feeds four subtrees — materialize once
    val batchWins = windowHashRows(newDocs, width).localCheckpoint(false)
    val batchH = batchWins.select("h").distinct()
    val affectedIds = winIndex
      .join(bc(batchH), Seq("h"), "left_semi")
      .select("doc_id")
      .distinct()
    val affectedRows = winIndex.join(bc(affectedIds), Seq("doc_id"), "left_semi")
    // scope = every window row whose doc the output covers
    val scopeRows = affectedRows.unionByName(batchWins).localCheckpoint(false)
    val candH = scopeRows.select("h").distinct()
    // corpus-wide occurrence counts of the candidate hashes: old index +
    // batch occurrences (map-side partial counts on both legs)
    val dupH = winIndex
      .join(bc(candH), Seq("h"), "left_semi")
      .select("h")
      .unionByName(batchWins.select("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select("h")
    val hits = scopeRows
      .join(bc(dupH), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    (mergeWindowRanges(hits, width), batchWins)
  }
}
