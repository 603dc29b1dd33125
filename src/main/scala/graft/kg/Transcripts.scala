package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's input table: multi-turn conversation transcripts
  * `transcripts(conv_id, turn_idx, role, text, tool, ts)` (BASELINE.json:15).
  *
  * For tests/benchmarks the table is synthesized DETERMINISTICALLY from the
  * driver-provided `documents` parquet (no wall-clock, no randomness), so the
  * DuckDB oracle can derive the identical table with plain SQL (OracleGen
  * emits the same expressions). Mapping mirrors FIXTURES.md §1:
  *   - conv_id groups ~n/97 documents per conversation, prefixed by the
  *     dotted source so the reference's `dont_run_on` source-filter semantics
  *     (spec_interface.py:125-138, stem.split(".")[0]) stay exercisable
  *   - turn_idx is a strictly increasing ordering key within a conversation
  *   - role cycles user/assistant/user/tool — role='tool' plays the part of
  *     the reference's blocked block types (inference.py:80-84)
  *   - only lang='en' documents are ingested (language no-op rule,
  *     inference.py:732-733)
  */
object Transcripts {

  val ConvBuckets = 97
  val EpochStart = 1735689600L // 2025-01-01T00:00:00Z

  /** documents(doc_id, text, lang, source, n_chars) -> transcripts. */
  def fromDocuments(docs: DataFrame): DataFrame = {
    docs
      .where(col("lang") === "en")
      .select(
        concat(col("source"), lit(".conv."), (col("doc_id") % ConvBuckets).cast("string")).as("conv_id"),
        expr(s"CAST(doc_id DIV $ConvBuckets AS INT)").as("turn_idx"),
        expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' WHEN 2 THEN 'user' ELSE 'tool' END").as("role"),
        col("text"),
        expr("CASE WHEN CAST(doc_id % 4 AS INT) = 3 THEN 'search' ELSE NULL END").as("tool"),
        timestamp_seconds(lit(EpochStart) + col("doc_id") * 60L).as("ts")
      )
  }

  def read(spark: SparkSession, sfDir: String): DataFrame =
    fromDocuments(Sources.table(spark, sfDir, "documents"))

  /** Large-scale synthetic transcripts for scaling benchmarks: `spark.range`
    * driven, seed-free (all columns are pure functions of the row id via a
    * 64-bit hash mix), with a skew knob — a small set of "agent" conversations
    * receives `skewFactor`× more turns, modelling the long agent conversations
    * the north rule calls out. Generated distributed (no driver materialize).
    */
  def synthesize(spark: SparkSession, nTurns: Long, nConvs: Long, skewFactor: Int = 10): DataFrame = {
    // ~15% of vocabulary tokens are concept labels (realistic mention
    // density ~2-3 per 24-token turn); the rest are distractors
    val conceptWords = Seq(
      "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part", "window",
      "small", "hash", "join", "batch", "stream", "spark", "group", "query", "row", "data",
      "slow", "filter", "customer", "line", "value", "agg", "column", "big", "a", "vector"
    )
    val distractors = (0 until 170).map(i => s"w${i}x")
    val vocab = conceptWords ++ distractors
    val vocabExpr = array(vocab.map(lit): _*)
    // stable 32-bit mix widened to long BEFORE abs: abs(Int.MinValue) throws
    // under ANSI mode, and murmur3 hits it once per ~2^32 rows
    val mixed = expr("abs(cast(hash(id, 42L) as bigint))")
    spark
      .range(nTurns)
      .withColumn("h", mixed)
      // skew: skewFactor% of turn mass lands in conv 0..9 ("agent" convs)
      .withColumn(
        "conv_n",
        when(col("h") % 100 < lit(skewFactor.min(98)), col("h") % 10)
          .otherwise(col("h") % nConvs)
      )
      .withColumn("conv_id", concat(lit("synth.conv."), col("conv_n").cast("string")))
      .withColumn("turn_idx", col("id").cast("int"))
      .withColumn(
        "role",
        expr("CASE CAST(id % 4 AS INT) WHEN 3 THEN 'tool' WHEN 1 THEN 'assistant' ELSE 'user' END")
      )
      .withColumn(
        "text",
        concat_ws(
          " ",
          (0 until 24).map(k =>
            element_at(vocabExpr, (abs(hash(col("id"), lit(k)).cast("long")) % vocab.size + 1).cast("int"))): _*
        )
      )
      .withColumn("tool", expr("CASE WHEN id % 4 = 3 THEN 'search' ELSE NULL END"))
      .withColumn("ts", timestamp_seconds(lit(EpochStart) + col("id") % 864000L))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }
}
