package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation over `documents`:
  * token counting, quality scoring, fingerprinting, language id. Everything
  * except language id is a pure Catalyst column plan (whole-stage codegen).
  */
object TextAnalysis {

  private[data] val stopwords = Seq("the", "a", "an", "and", "of", "to", "in")

  /** Per-document quality features: token/char counts, average token length,
    * stopword ratio, punctuation ratio, uppercase ratio — the usual cheap
    * quality-filter signals (length/punct/stopword heuristics). */
  def quality(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      (length(col("text")).cast("double") / size(toks)).as("avg_token_len"),
      (size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks)).as("stopword_ratio"),
      (length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("double") / length(col("text"))).as("punct_ratio"),
      (length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double") / length(col("text"))).as("upper_ratio")
    )
  }

  /** Token counts per source: whitespace tokens plus a BPE-ish subword count
    * (each letter-run counted as ceil(len/4) subwords plus one token per
    * non-alphanumeric, non-space char — a deterministic proxy for tokenizer
    * cost). */
  def tokenStats(docs: DataFrame): DataFrame = {
    val wsTokens = size(split(col("text"), "\\s+"))
    val letterChars = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val punctChars = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
    val bpeish = ceil(letterChars.cast("double") / 4).cast("long") + punctChars
    docs
      .select(col("source"), wsTokens.as("ws_tokens"), bpeish.cast("long").as("bpeish_tokens"))
      .groupBy("source")
      .agg(
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpeish_tokens")).as("total_bpeish_tokens"),
        count(lit(1)).as("n_docs")
      )
  }

  /** Content-defined document fingerprint: md5 of the sorted token multiset —
    * invariant to token reordering, the cheap "same bag of words" signature. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(split(col("text"), " ")))).as("fingerprint")
    )

  /** Cross-corpus n-gram novelty — the cheap LM-surprise stand-in used to
    * flag gibberish / out-of-domain documents: the fraction of a document's
    * bigram OCCURRENCES whose bigram is rare (count < minCount) in a
    * reference corpus. Integer counts and long/long division end-to-end —
    * no log-perplexity floats (ln is not guaranteed bit-identical across
    * engines; counts are), so the oracle hash-compares exactly.
    *
    * Scale: the reference model is one (bigram, count) aggregation —
    * build-once-per-epoch like the bloom/codebook artifacts; scoring joins
    * the scored docs' bigrams against it. The join key is the bigram string:
    * at 100 TB both sides hash-partition on it, the model side is df-bounded
    * (distinct bigrams grow sublinearly), and the common-bigram skew is
    * absorbed by partial-agg on (doc, rare?) before any wide row moves. */
  def ngramNovelty(
      scored: DataFrame,
      reference: DataFrame,
      minCount: Long = 2L
  ): DataFrame = {
    def bigrams(df: DataFrame) = Par
      .fanOut(df.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))
          )).as("g"))
    val model = bigrams(reference).groupBy("g").agg(count(lit(1)).as("ref_count"))
    bigrams(scored)
      .join(model, Seq("g"), "left")
      .select(
        col("doc_id"),
        when(coalesce(col("ref_count"), lit(0L)) < minCount, 1L).otherwise(0L).as("rare"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("rare")).as("n_rare"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams")).as("novelty"))
  }

  /** Bigram-LM fluency scoring (the CCNet device, Wenzek et al. 2020:
    * rank documents by language-model likelihood; here the LM is the
    * corpus's own bigram transition table, so no external model rides in) —
    * a doc's score is the mean transition frequency of its bigrams:
    *
    *   p_q(w1 w2) = (count(w1 w2) * 10^6) div count(w1 ·)
    *   lm_q(doc)  = (sum of p_q over the doc's bigram OCCURRENCES)
    *                div n_bigrams
    *
    * Gibberish/shuffled text scores low (its transitions are rare in the
    * corpus), boilerplate scores high. All-integer end-to-end (no
    * log-perplexity floats — ln isn't bit-identical across engines; counts
    * are), so the oracle hash-compares exactly. Single-token docs carry no
    * row (no transitions to score).
    *
    * Scale posture: the model is one (w1, w2) → count aggregation — a
    * build-once-per-epoch artifact like the novelty reference model; the
    * scoring join hash-partitions both sides on the bigram, and hot
    * boilerplate bigrams are absorbed by the per-doc partial-agg sum before
    * any wide row moves. The p_q numerator stays in-long up to ~9.2e12
    * occurrences of ONE bigram; past it the guard raises loudly (ANSI-style)
    * instead of wrapping silently into corrupt rankings. */
  def lmTransitionScore(docs: DataFrame): DataFrame = {
    val bg = Par
      .fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), size(col("toks")) - 2),
            i =>
              struct(
                element_at(col("toks"), i + 1).as("w1"),
                element_at(col("toks"), i + 2).as("w2"))
          )).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_big"))
    // c_pre(w1) = sum over w2 of c_big(w1, w2): no second corpus-grain pass
    val pre = big.groupBy("w1").agg(sum(col("c_big")).as("c_pre"))
    val model = big
      .join(pre, "w1")
      .selectExpr(
        "w1",
        "w2",
        """IF(c_big <= 9223372036854775807 DIV 1000000,
          |   (c_big * 1000000) DIV c_pre,
          |   CAST(raise_error(concat('lmTransitionScore numerator overflows long: c_big=',
          |        CAST(c_big AS STRING))) AS BIGINT))""".stripMargin.replaceAll("\n", " ") + " AS p_q")
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_q")).as("sum_p"))
      .selectExpr("doc_id", "n_bigrams", "sum_p div n_bigrams AS lm_q")
  }

  /** DSIR-style hashed n-gram importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): rank raw
    * docs by how target-like their hashed-bigram distribution is. Bigrams
    * hash into `nBuckets` buckets via the portable md5 hash, so the DuckDB
    * oracle reproduces the bucketing bit-for-bit; each bucket carries the
    * add-one-smoothed target/raw count ratio as a QUANTIZED long
    * ((ct+1)*2^20 div (cr+1)). The target/raw corpus totals of the true
    * likelihood ratio are bucket-independent constants, so they cancel
    * under ranking and dropping them keeps every product inside a long. A
    * doc's score is the sum of its bigram occurrences' bucket weights:
    * order-free long addition, exact at any partitioning.
    *
    * Scale posture: two corpus passes (histogram fit, then scoring) — the
    * DSIR shape. Both histograms are <= nBuckets rows and BROADCAST into
    * the scoring pass; the only corpus-scale shuffle is the per-doc
    * partial-agg sum. The target corpus is the hand-curated exemplar set
    * and assumed dictionary-scale.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, nBuckets: Int = 512): DataFrame = {
    def bucketed(df: DataFrame) = Par
      .fanOut(df.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))
          )).as("g"))
      .select(col("doc_id"), pmod(Dedup.portableTokenHash(col("g")), lit(nBuckets.toLong)).as("bkt"))
    // the raw-side bucket stream feeds BOTH the histogram and the scoring
    // pass — materialize once (serialized; 16 B/row) instead of running
    // the split + bigram-build + md5 twice
    val rawBuckets = bucketed(raw)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val tHist = bucketed(target).groupBy("bkt").agg(count(lit(1)).as("ct"))
    val rHist = rawBuckets.groupBy("bkt").agg(count(lit(1)).as("cr"))
    val weights = rHist
      .join(tHist, Seq("bkt"), "full")
      .selectExpr(
        "bkt",
        s"((coalesce(ct, 0L) + 1L) * ${1L << 20}L) div (coalesce(cr, 0L) + 1L) AS w_q")
    rawBuckets
      .join(broadcast(weights), Seq("bkt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w_q")).as("score_q"))
  }

  /** PII scrubbing — the redaction pass every public-corpus training
    * pipeline runs before packing (emails / phone numbers / IPv4 addresses
    * replaced by typed placeholder tokens, with per-kind match counts kept
    * for audit). Pure regexp map-only projection: three codegen'd
    * regexp_count + a chained regexp_replace, no shuffle at any scale. The
    * patterns are restricted to syntax with identical semantics in Java
    * regex (engine) and RE2 (DuckDB oracle): ASCII classes + \b word
    * boundaries, no backreferences or lookaround. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{4}\\b"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiRedact(docs: DataFrame): DataFrame = {
    // order matters and is part of the contract: IP before email would be
    // wrong the other way round (an IP can't contain '@', but an email's
    // domain may contain a dotted quad — scrub emails first)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe,
          "<PHONE>"),
        Ipv4Re,
        "<IP>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
      md5(redacted).as("redacted_md5")
    )
  }

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1) — the
    * repetition family of quality filters for training-data curation:
    *
    *  - top_unigram_frac / top_bigram_frac: fraction of all n-gram
    *    occurrences taken by the single most frequent n-gram,
    *  - dup_trigram_frac: fraction of trigram occurrences that are repeats
    *    ((total - distinct) / total).
    *
    * One pass: the three gram sizes explode together (tagged structs, WITH
    * multiplicity — unlike the dedup shingles, repetition needs duplicate
    * occurrences), one (doc, n, gram) count aggregate with map-side partial
    * combine, then two tiny per-doc rollups. All fractions are long/long
    * divisions — order-deterministic, so the oracle can hash-compare them.
    * Docs shorter than n tokens score 0.0 for that n. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    // one explicit repartition on doc_id up front, BEFORE the 3x-gram
    // explode: hash partitioning on doc_id satisfies the clustered
    // distribution of every downstream rollup ((doc,n,g), (doc,n), (doc)),
    // so the whole metric computes with a single shuffle of the raw doc
    // rows — the alternative (map-side partial aggs) shuffles (doc,n,gram)
    // count rows, which outweigh the text itself ~3x
    val withToks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .repartition(col("doc_id"))
    def grams(n: Int) =
      when(
        size(col("toks")) >= n,
        transform(
          sequence(lit(0), size(col("toks")) - n),
          i =>
            struct(
              lit(n).as("n"),
              concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k + 1)): _*).as("g"))
        )
      ).otherwise(array().cast("array<struct<n:int,g:string>>"))
    val counted = withToks
      .select(col("doc_id"), explode(concat(grams(1), grams(2), grams(3))).as("ng"))
      .groupBy(col("doc_id"), col("ng.n").as("n"), col("ng.g").as("g"))
      .agg(count(lit(1)).as("c"))
    val perN = counted
      .groupBy("doc_id", "n")
      .agg(sum("c").as("total"), max("c").as("mx"), count(lit(1)).as("uniq"))
    def pick(n: Int, c: String) = max(when(col("n") === n, col(c)))
    perN
      .groupBy("doc_id")
      .agg(
        coalesce(pick(1, "mx").cast("double") / pick(1, "total"), lit(0.0)).as("top_unigram_frac"),
        coalesce(pick(2, "mx").cast("double") / pick(2, "total"), lit(0.0)).as("top_bigram_frac"),
        coalesce((pick(3, "total") - pick(3, "uniq")).cast("double") / pick(3, "total"), lit(0.0))
          .as("dup_trigram_frac")
      )
  }

  /** C4-style corpus cleaning (Raffel et al. 2020 §2.2) — the line-level
    * quality pass web-scale training pipelines run before dedup/packing:
    *
    *  - doc-level drops: any document containing "lorem ipsum" (template
    *    boilerplate) or a curly brace (code),
    *  - line-level keeps: >= `minWords` words AND terminal punctuation,
    *  - corpus-level duplicate-line removal: every distinct surviving line
    *    is kept in exactly ONE document — the first occurrence by
    *    (doc_id, line_idx) — so shared boilerplate ("subscribe to our
    *    newsletter.") survives once corpus-wide,
    *  - docs with fewer than `minKept` surviving lines are dropped.
    *
    * Scale: the doc/line filters are map-only codegen projections. The
    * corpus-wide keeper election is the skew-sensitive step — hot
    * boilerplate lines concentrate on one key — so it is a
    * `groupBy(line_hash).agg(min(struct(doc_id, line_idx)))`, which
    * partial-aggregates map-side (each input partition contributes ONE
    * 24-byte candidate row per distinct line it holds, never the line
    * text), not a window over the hash (a window sorts the hot key's
    * entire partition on one reducer). Reassembly shuffles each doc's kept
    * lines once, grouped back on doc_id. */
  def c4Clean(docs: DataFrame, minWords: Int = 3, minKept: Int = 2): DataFrame = {
    val docOk = !contains(lower(col("text")), lit("lorem ipsum")) &&
      !contains(col("text"), lit("{"))
    // `lines` feeds the keep filter (itself consumed twice) and the
    // per-doc totals — materialize once, serialized
    val lines = Par
      .fanOut(docs.where(docOk).select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("line_idx", "line")))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val kept = lines.where(
      size(split(col("line"), " ")) >= minWords && col("line").rlike("[.!?]$"))
    // keeper election: min(struct) partial-aggregates; the join back is on
    // the same hash key, so AQE handles any residual reducer skew
    val keepers = kept
      .groupBy(col("line").as("kline"))
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("keeper"))
    val deduped = kept
      .join(keepers, col("line") === col("kline"))
      .where(col("keeper.doc_id") === col("doc_id") && col("keeper.line_idx") === col("line_idx"))
      .select("doc_id", "line_idx", "line")
    val perDocTotals = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    deduped
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
          s => s.getField("line"))).as("cleaned"))
      .where(col("n_kept") >= minKept)
      .join(perDocTotals, Seq("doc_id"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), md5(col("cleaned")).as("cleaned_md5"))
  }

  /** Heuristic language id via stopword-profile voting (pure column plan:
    * per-language distinctive-word hit counts, argmax). A real n-gram model
    * would be a broadcast lookup table; the plumbing is identical. */
  def langId(docs: DataFrame): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is", "was", "with"),
      "de" -> Seq("der", "und", "die", "ist", "mit", "das"),
      "fr" -> Seq("le", "et", "la", "est", "avec", "les"),
      "es" -> Seq("el", "y", "la", "es", "con", "los")
    )
    val toks = split(lower(col("text")), "\\s+")
    val scores = profiles.map { case (lang, words) =>
      val wordArr = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(wordArr, t))).as("hits"), lit(lang).as("lang"))
    }
    docs.select(
      col("doc_id"),
      greatest(scores: _*).getField("lang").as("predicted_lang"),
      col("lang").as("declared_lang")
    )
  }
}
