package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input tables. Two kinds of reader live here.
  *
  * The table registry (`table`) serves every backing-table read of the
  * query surface (`documents`, `embeddings`, `events`, the TPC-H tables,
  * the eval fixture, and `Transcripts.read` with every `sfDir` entry point
  * built on it). Each parquet path is resolved — schema read, files
  * listed — once per (application, path) and the resolved DataFrame is
  * served to every later lookup, so a query pays neither a
  * schema-inference job nor a file listing per read. Nothing is
  * materialized: a handle is a plan leaf, scanned afresh by each query. A
  * handle is re-resolved when the path's fingerprint (`fingerprint`: file
  * names, lengths and mtimes, the same definition that keys the session
  * artifacts) changes, so a rewrite of the table is read, never a stale
  * file listing.
  *
  * Transcript source formats beyond parquet. The reference's inference
  * stage writes JSONL (one record per line, flows/inference.py:617-643) and
  * its fixtures use a legacy JSON-array encoding; production tables would be
  * Iceberg. Every transcript reader enforces the canonical transcripts
  * schema with an EXPLICIT schema (never schema inference — at 100 TB an
  * inference pass is a full extra scan) and returns columns in contract
  * order. */
object Sources {

  /** Fingerprint of a parquet dataset: file names, lengths and mtimes. A
    * rewrite of the dataset within one application changes it, and so
    * invalidates every registry handle and session artifact derived from
    * the dataset, instead of silently serving stale results. `table` is a
    * table name under `dir` or a dataset's own path (`pathOf`). */
  def fingerprint(dir: String, table: String): String =
    s"$table:${filesHash(pathOf(dir, table))}"

  /** `<dir>/<name>.parquet`, or `name` itself when it is a dataset's path
    * (it ends in `.parquet`: a fixture outside the dataset dir). */
  def pathOf(dir: String, name: String): String =
    if (name.endsWith(".parquet")) name else s"$dir/$name.parquet"

  private def filesHash(path: String): Long = {
    val d = new java.io.File(path)
    // The dataset may be a single parquet FILE (the testdata layout) or a
    // directory of part files; listFiles() returns null for a plain file,
    // which would collapse the fingerprint to a constant and disable
    // supersession. Fingerprint the file itself in that case.
    val files =
      if (d.isFile) Array(d)
      else Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    files
      .sortBy(_.getName)
      .foldLeft(17L)((acc, f) => ((acc * 31 + f.getName.hashCode) * 31 + f.length()) * 31 + f.lastModified())
  }

  private val resolved = scala.collection.mutable.HashMap.empty[(String, String), (Long, DataFrame)]

  /** The parquet table at `path`, resolved once per (application, path) and
    * fingerprint. Two lookups of one table share attribute ids, as two uses
    * of one DataFrame do: join them by column name (the analyzer
    * re-instances the right side), never through `df("col")`. Resolution is
    * single-flight: it holds the registry's lock, so two threads resolving
    * one path get one handle, the second waiting for the first's schema
    * read. The lock is taken inside a session artifact's lock and never
    * the other way round (`SparkEntry.Artifact`). */
  def table(spark: SparkSession, path: String): DataFrame = resolved.synchronized {
    val key = (spark.sparkContext.applicationId, path)
    val fp = filesHash(path)
    resolved.get(key).collect { case (`fp`, df) => df }.getOrElse {
      val df = spark.read.parquet(path)
      resolved.put(key, (fp, df))
      df
    }
  }

  /** `pathOf(dir, name)` through the registry. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    table(spark, pathOf(dir, name))

  val transcriptsSchema: StructType = StructType(
    Seq(
      StructField("conv_id", StringType, nullable = false),
      StructField("turn_idx", IntegerType, nullable = false),
      StructField("role", StringType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("tool", StringType, nullable = true),
      StructField("ts", TimestampType, nullable = true)
    )
  )

  private def normalize(df: DataFrame): DataFrame =
    df.select(
      col("conv_id").cast("string"),
      col("turn_idx").cast("int"),
      col("role").cast("string"),
      col("text").cast("string"),
      col("tool").cast("string"),
      col("ts").cast("timestamp")
    )

  def parquet(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(transcriptsSchema).parquet(path))

  /** JSONL: one transcript turn per line. */
  def jsonl(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(transcriptsSchema).json(path))

  /** CSV with header, RFC-4180 quoting. */
  def csv(spark: SparkSession, path: String): DataFrame =
    normalize(
      spark.read
        .schema(transcriptsSchema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )

  /** ORC (native spark-sql reader): the other columnar lake format —
    * predicate pushdown and column pruning work exactly as for parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(transcriptsSchema).orc(path))
}
