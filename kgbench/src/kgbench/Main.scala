package kgbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** One workload in one JVM. Prints, as its last stdout line,
  * `KGBENCH_RESULT {"correct":..,"attempted":..,"failed":..,"metrics":{..},"info":{..}}`.
  *
  * Usage: `kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --turns <n> --input <dir> [--growth <dir>] [--small <dir>]
  *   [--corrupt 1]`; the inputs come from kgbench/gen.py.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      turns: Long,
      input: String,
      growth: String,
      small: String,
      corrupt: Boolean
  )

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      work = m("work"),
      turns = m.getOrElse("turns", "0").toLong,
      input = m.getOrElse("input", ""),
      growth = m.getOrElse("growth", ""),
      small = m.getOrElse("small", ""),
      // self-test only: drop one triple from the checked output, so the
      // check must fail
      corrupt = m.getOrElse("corrupt", "0") == "1"
    )
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = new Result
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, o.work)
    r.info("nproc") = cpus.toString
    r.info("seed") = o.seed.toString
    r.info("workload") = Json.str(o.workload)
    val ctx = Ctx(spark, o, r, secs(t0), System.nanoTime(), new Trace(spark.sparkContext, o.trace))
    try {
      o.workload match {
        case "kg_build"    => KgWorkloads.build(ctx)
        case "query_sweep" => QuerySweep.run(ctx)
        case w             => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) {
        ctx.trace.writeJson(s"${o.work}/trace/${o.workload}-seed${o.seed}.json")
        r.info("spans") = Json.str(s"${o.work}/trace/${o.workload}-seed${o.seed}.json")
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        r.attempted += 1
        r.failed += 1
    }
    r.metric("peak_rss_gb", vmHwmKb() / (1024.0 * 1024.0), "GB")
    r.metric("jvm.old_gen_peak_gb", oldGenPeakBytes() / (1024.0 * 1024.0 * 1024.0), "GB")
    r.info("run_s") = Json.num(secs(t0))
    println("KGBENCH_RESULT " + r.json)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** One run: `sessionS` is the session start, `t0` the moment after it. */
  final case class Ctx(spark: SparkSession, o: Opts, r: Result, sessionS: Double, t0: Long, trace: Trace)

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secs(t0))
  }

  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** A full collection before each timed operation, outside its timing:
    * the old generation then holds the live data and what one operation
    * promotes, and the JVM's peak RSS does not depend on when the collector
    * last ran a full collection. */
  def settleHeap(): Unit = System.gc()

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A sink that, like `noop`, runs the whole plan and reads every output
    * column, and returns the result's order-free fingerprint: its row count
    * and the wrapping sum of a 64-bit hash of each row's bytes. */
  def hashSink(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("kgbench hash sink")) {
      qe.toRdd
        .mapPartitions { rows =>
          val proj = UnsafeProjection.create(schema)
          var n, h = 0L
          rows.foreach { r =>
            val u = proj(r)
            n += 1
            h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          }
          Iterator((n, h))
        }
        .collect()
        .foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
    }
  }

  /** Bytes of the data files under a written dataset. */
  def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith("part-")) f.length()
      else 0L
    walk(new java.io.File(path))
  }

  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  /** Peak occupancy of the old generation: what the program kept past
    * young collections, without the young generation's fixed floor. */
  def oldGenPeakBytes(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen"))
      .map(_.getPeakUsage.getUsed.toDouble)
      .sum

  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }
}

/** Metrics, failure counts and run facts of one run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts one checked operation; a false `ok` is a failure. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"kgbench: check failed: $name: $detail")
    }
    ok
  }

  /** Runs one operation; an exception counts as a failed operation. */
  def attempt[A](name: String)(f: => A): Option[A] =
    try {
      attempted += 1
      Some(f)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"kgbench: operation failed: $name: $e")
        None
    }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val is = info.map { case (k, v) => s"${Json.str(k)}:$v" }
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":${attempted.max(1)},"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"info":{${is.mkString(",")}}}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'              => "\\\""
      case '\\'             => "\\\\"
      case c if c < ' '     => f"\\u${c.toInt}%04x"
      case c                => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}
