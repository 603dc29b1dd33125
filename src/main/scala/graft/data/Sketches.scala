package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketching — "how many distinct tokens / URLs /
  * fingerprints does this 100 TB corpus hold", answered in one pass with a
  * fixed-size state. Spark's `approx_count_distinct` is exactly this sketch,
  * but its register state is opaque and its estimate float — useless for a
  * cross-engine parity check and for INCREMENTAL ingest (you cannot merge
  * yesterday's opaque estimate with tonight's batch). Here the register
  * TABLE is the first-class, oracle-checkable artifact:
  *
  *   h      = first 15 hex chars of md5(token), base-16      (portable 60-bit hash)
  *   bucket = h mod m
  *   rho    = trailing_zeros(h div m) + 1                    (Flajolet's bit-pattern observable)
  *   registers = per-bucket MAX(rho)                         (trivially mergeable)
  *
  * Every step is exact integer arithmetic on a hash both engines compute
  * identically (same device as the SimHash/DSIR portable hashes), so the
  * DuckDB oracle reproduces the registers row-for-row; trailing zeros is
  * `bit_count((v & -v) - 1)` — pure bit ops, no log2. Merging two corpora's
  * registers is a union + MAX — the incremental-ingest contract for free.
  *
  * The ESTIMATE (HyperLogLog, Flajolet et al. 2007) is a driver-side fold
  * over the ≤ m register rows ([[hllEstimate]]) — floats confined to the
  * last m-sized step, never in the distributed plan. Small-range correction
  * (linear counting below 2.5m) included.
  *
  * Scale posture: one map-only projection per token + a groupBy(bucket)
  * MAX that partial-aggregates to ≤ m rows per input partition — the
  * whole corpus reduces to m longs, no token ever shuffles beyond its
  * bucket row. m is the accuracy knob (rel. error ≈ 1.04/sqrt(m)).
  */
object Sketches {

  /** @return (bucket, rho_max) register table, ≤ m rows. */
  def hllRegisters(docs: DataFrame, m: Int = 256): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two: $m")
    Par.fanOut(docs.select(col("text")))
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .selectExpr(s"h % $m AS bucket", s"h div $m AS v")
      .selectExpr("bucket", "bit_count((v & -v) - 1) + 1 AS rho")
      .groupBy("bucket")
      .agg(max(col("rho")).cast("long").as("rho_max"))
  }

  /** The HLL merge law — registers of a union = per-bucket MAX of the
    * parts' registers. This is the whole incremental-ingest story for
    * cardinality: persist yesterday's ≤ m register rows, sketch tonight's
    * batch alone, merge in O(m) — the 100 TB corpus is never re-read. The
    * driver row `sketch_distinct_incr` asserts the law against the
    * full-corpus oracle (equality with a from-scratch run IS the
    * incremental-correctness statement, same posture as the dedup/CC
    * incremental twins). */
  def mergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy("bucket").agg(max(col("rho_max")).as("rho_max"))

  /** HyperLogLog estimate from a register table (present buckets only;
    * absent buckets are zero registers). Driver-side: the input is ≤ m
    * rows by construction. */
  def hllEstimate(registers: Seq[(Long, Long)], m: Int): Double = {
    val regMap = registers.toMap
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val sum = (0 until m).map(b => math.pow(2.0, -regMap.getOrElse(b.toLong, 0L).toDouble)).sum
    val raw = alpha * m * m / sum
    val zeros = m - regMap.count(_._2 > 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus token
    * stream — "roughly how often does token x occur in this 100 TB corpus",
    * answered from a fixed d×w counter table. Pairs with the Misra-Gries
    * summaries ([[graft.data.HeavyHitters]]): MG names the
    * heavy-hitter CANDIDATES, CMS estimates any token's FREQUENCY — together
    * they are the classic heavy-hitter pipeline.
    *
    *   hrow j ∈ [0,d):  h_j(tok) = first 15 hex chars of md5("j:" ++ tok), base-16
    *   bucket          = h_j(tok) mod w
    *   counter(j,b)    = COUNT of tokens hashing there   (exact integer SUM)
    *
    * Point estimate = min_j counter(j, h_j(x)) ([[cmsEstimate]], driver-side
    * over the ≤ d·w rows). Guarantees: never underestimates; overestimate
    * ≤ (e/w)·N with prob ≥ 1 − e^−d. Every distributed step is exact integer
    * arithmetic on the portable hash, so the DuckDB oracle reproduces the
    * counter table row-for-row, and two corpora's sketches merge by
    * per-cell ADDITION ([[mergeCms]]) — the incremental-ingest contract.
    *
    * Scale posture: one map-only d-way fan-out per token, then a
    * groupBy(hrow,bucket) SUM that partial-aggregates to ≤ d·w rows per
    * input partition — the whole corpus reduces to d·w longs; no token
    * ever shuffles beyond its counter cells. */
  def cmsCounters(docs: DataFrame, w: Int = 512, d: Int = 4): DataFrame = {
    require(w > 0 && d > 0, s"CMS needs positive dimensions: w=$w d=$d")
    Par.fanOut(docs.select(col("text")))
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(posexplode(array((0 until d).map { j =>
        conv(substring(md5(concat_ws(":", lit(j.toString), col("tok"))), 1, 15), 16, 10)
          .cast("long") % w
      }: _*)).as(Seq("hrow", "bucket")))
      .groupBy("hrow", "bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("hrow").cast("long").as("hrow"), col("bucket"), col("n"))
  }

  /** CMS merge law — counters of a union = per-cell SUM of the parts'
    * counters. Persist yesterday's ≤ d·w counter rows, sketch tonight's
    * batch alone, merge in O(d·w); the verified row `sketch_cms_incr`
    * asserts equality with the from-scratch full-corpus sketch. */
  def mergeCms(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy("hrow", "bucket").agg(sum(col("n")).as("n"))

  /** CMS point query: min over the d rows of the cell the token hashes to.
    * Driver-side fold over the collected counter table (≤ d·w rows). */
  def cmsEstimate(counters: Seq[(Long, Long, Long)], w: Int, d: Int, token: String): Long = {
    val cells = counters.map { case (r, b, n) => (r, b) -> n }.toMap
    (0 until d).map { j =>
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s"$j:$token".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      cells.getOrElse((j.toLong, java.lang.Long.parseLong(hex, 16) % w), 0L)
    }.min
  }

  /** KMV (k minimum values) bottom-k sketch over the DISTINCT token set:
    * the k smallest portable hash values, each carrying a representative
    * token. One fixed-size artifact buys three things at 100 TB:
    * a distinct-count estimator ([[kmvEstimate]], (k−1)·2^60 / h_k), a
    * deterministic uniform SAMPLE of distinct tokens (the hash is the
    * sampling coin — re-runs and the oracle pick the same k), and a
    * mergeable state (union of two sketches → bottom-k, [[mergeKmv]]).
    *
    * Scale posture: the naive plan shuffles every distinct hash into the
    * final top-k. `distinctEstimate` (e.g. [[hllEstimate]] over the same
    * corpus — sketch composing with sketch) installs a MAP-SIDE pre-filter
    * h < 2^60·(8k/est): survivors are ~8k rows corpus-wide, so the shuffle
    * carries O(k) instead of O(distinct). The filter is result-invariant
    * whenever ≥ k distinct survivors exist — with est within 4× of truth
    * the survivor expectation is ≥ 2k, and the verified row (`sketch_kmv`
    * vs the UNFILTERED oracle formulation) would catch any cut. The
    * representative token per hash is MIN(tok) so collisions (2^−60-rare)
    * stay deterministic. */
  def kmvBottomK(docs: DataFrame, k: Int = 256, distinctEstimate: Option[Double] = None): DataFrame =
    kmvBottomKOf(
      Par.fanOut(docs.select(col("text"))).select(explode(split(col("text"), " ")).as("tok")),
      k,
      distinctEstimate)

  /** [[kmvBottomK]] generalized to an arbitrary ELEMENT relation (one
    * string column `tok`) — the sketched set need not be whitespace
    * tokens: shingles, URLs, entity ids, any string universe. */
  def kmvBottomKOf(elements: DataFrame, k: Int = 256, distinctEstimate: Option[Double] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val toks = elements
      .select(col("tok"), conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val filtered = distinctEstimate match {
      case Some(est) if est > 8.0 * k =>
        toks.where(col("h") < (math.pow(2, 60) * 8.0 * k / est).toLong)
      case _ => toks
    }
    filtered
      .groupBy("h").agg(min(col("tok")).as("tok"))
      .orderBy(col("h")).limit(k)
  }

  /** KMV merge law: bottom-k of a union = bottom-k of the parts' sketches
    * unioned — each part's k smallest distinct hashes contain every hash
    * that can appear in the union's k smallest. */
  def mergeKmv(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.union(b).groupBy("h").agg(min(col("tok")).as("tok")).orderBy(col("h")).limit(k)

  /** KMV distinct-count estimate from a FULL sketch (exactly k rows whose
    * max hash is h_k): (k−1)·2^60 / h_k. If the sketch holds < k rows the
    * corpus had fewer than k distinct tokens and the count is exact. */
  def kmvEstimate(hashes: Seq[Long], k: Int): Double =
    if (hashes.size < k) hashes.size.toDouble
    else (k - 1).toDouble * math.pow(2, 60) / hashes.max.toDouble

  /** Bottom-k uniform ROW sample — the quantile / order-statistics sketch
    * for UNBOUNDED value domains. The exact nearest-rank percentiles in
    * [[graft.data.Quantiles]] need a bounded score domain to stay a
    * histogram aggregate; this sketch drops that requirement: the portable
    * doc_id hash is the sampling coin, the k smallest hashes are a uniform
    * without-replacement row sample (deterministic across re-runs AND
    * engines — no RNG state), and each sampled row carries its value (here
    * the doc's whitespace token count), so any quantile of the corpus
    * distribution is estimated driver-side from ≤ k rows
    * ([[sampleQuantile]]) with the classic bottom-k rank-error bound
    * O(1/sqrt(k)). Mergeable by the same law as KMV: bottom-k of a union =
    * bottom-k of the parts' sketches unioned ([[mergeSamples]]) — the
    * incremental-ingest contract.
    *
    * Scale posture: identical to [[kmvBottomK]] — `rowEstimate` (exact row
    * counts are usually free from table metadata; any 4×-accurate estimate
    * works) installs a map-side hash pre-filter h < 2^60·(8k/est), so the
    * top-k shuffle carries O(k) survivors instead of O(corpus) rows. The
    * filter is result-invariant whenever ≥ k rows survive; the verified row
    * (`sketch_sample`) compares against the UNFILTERED oracle formulation,
    * so parity proves the cut lossless on this corpus. */
  def bottomKSample(docs: DataFrame, k: Int = 256, rowEstimate: Option[Double] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val rows = docs.select(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long").as("h"),
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val filtered = rowEstimate match {
      case Some(est) if est > 8.0 * k =>
        rows.where(col("h") < (math.pow(2, 60) * 8.0 * k / est).toLong)
      case _ => rows
    }
    filtered.orderBy(col("h")).limit(k)
  }

  /** Sample merge law: bottom-k of a union = bottom-k of the parts'
    * sketches unioned (doc_ids are unique so hashes are distinct and the
    * ORDER BY h cut is deterministic). */
  def mergeSamples(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.union(b).orderBy(col("h")).limit(k)

  /** Nearest-rank quantile from the collected sample values: the order
    * statistic at rank ceil(q·n). Driver-side over ≤ k rows. */
  def sampleQuantile(values: Seq[Long], q: Double): Long = {
    require(values.nonEmpty, "empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    val sorted = values.sorted
    sorted(math.max(0, math.ceil(q * sorted.size).toInt - 1))
  }

  /** KMV SET-OPERATION estimates between two element relations (each a
    * single string column `tok` — see [[kmvBottomKOf]]) from their
    * bottom-k sketches alone — the device that answers "how much
    * vocabulary do sources A and B share?" at 100 TB without ever joining
    * the corpora:
    * each side ships k hashes, and union size, Jaccard, and intersection
    * size all fall out of the merged sketch (Beyer et al., SIGMOD'07).
    *
    * Correctness of the membership test: the union's k-th smallest hash is
    * ≤ each part's k-th smallest (union ⊇ part), so any union-bottom-k
    * hash belonging to A is necessarily inside A's OWN bottom-k — the two
    * part sketches decide membership exactly, no false negatives.
    *
    * One summary row, all BIGINT (the single IEEE division in the union
    * estimator is floored to fixed point; every other stat is exact
    * integer arithmetic):
    *   k_eff        rows in the merged bottom-k (< k ⇔ union is exact)
    *   n_both       merged-bottom-k hashes present in both sketches
    *   union_est    (k−1)·2^60 / h_k floored (exact k_eff when k_eff < k)
    *   jaccard_ppm  (10^6 · n_both) div k_eff
    *   intersect_est (n_both · union_est) div k_eff */
  def kmvSetOps(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame = {
    require(k > 1, s"k must be > 1: $k")
    val sa = kmvBottomKOf(a, k).select(col("h"), lit(1L).as("in_a"))
    val sb = kmvBottomKOf(b, k).select(col("h"), lit(1L).as("in_b"))
    val merged = sa
      .join(sb, Seq("h"), "full")
      .select(
        col("h"),
        coalesce(col("in_a"), lit(0L)).as("in_a"),
        coalesce(col("in_b"), lit(0L)).as("in_b"))
      .orderBy(col("h"))
      .limit(k)
    merged
      .agg(
        count(lit(1)).as("k_eff"),
        max(col("h")).as("h_max"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .select(
        col("k_eff"),
        col("n_both"),
        // (k−1)·2^60 is exact in double (small-int × power of two); the
        // int64→double cast of h_max and the division round identically
        // under IEEE in Spark and DuckDB, so the floored quotient matches
        when(col("k_eff") < k, col("k_eff"))
          .otherwise(floor(lit((k - 1).toDouble * math.pow(2, 60)) / col("h_max").cast("double")))
          .as("union_est"),
        expr("(1000000 * n_both) div k_eff").as("jaccard_ppm"))
      .withColumn("intersect_est", expr("(n_both * union_est) div k_eff"))
  }
}
