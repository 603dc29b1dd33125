package kgbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{Checkpoint, KgPipeline}

import Main._

/** The knowledge-graph workload, `kg_build`: seeded transcripts ->
  * `KgPipeline.eligibleTurns` -> `KgPipeline.triplesFromTurns` -> parquet,
  * back to back, each output checked against the independent
  * `triplesFrom(extractMentions(..))` path.
  *
  * Untraced it reports `pass_rel` (median of each timed build's wall over
  * that of a plain Spark copy of the input run just before it) and
  * `setup_s`. Traced it reports the layer ladder (cumulative noop cuts,
  * the parquet sink, the count gap), the Spark counters of the ladder, the
  * tracing overhead, the checkpoint layer (`Checkpoint.runResumable` over the same
  * extraction: a run that dies after half the buckets, the resume run, a
  * no-op rerun, then a growth batch absorbed through `lastModifiedCol`
  * staleness) and the scaling efficiency.
  */
object KgWorkloads {

  val Concepts = KgPipeline.defaultConcepts
  val Stage = "edges"
  val NBuckets = Checkpoint.DefaultBuckets
  val ConvPreds = Seq("HAS_PASSAGE", "MENTIONS_CONCEPT")
  /** The traced run skips the scaling step, and counts that as a failure,
    * once this much of it has passed. */
  val ScalingBudgetS = 110.0
  val WarmBuilds = 8
  val WarmCopies = 3

  def recordCorpus(c: Ctx, path: String): Unit = {
    val (n, h) = hashSink(c.spark.read.parquet(path))
    c.r.info("corpus") = s"""{"rows":$n,"hash":"$h","seed":${c.o.seed},"size":${c.o.turns},"path":${Json.str(path)}}"""
  }

  /** Drops one row, so a check over the result must fail (self-test only). */
  private def maybeCorrupt(c: Ctx, df: DataFrame): DataFrame =
    if (!c.o.corrupt) df
    else {
      val h = xxhash64(df.columns.map(col): _*)
      val first = df.select(h).head().getLong(0)
      df.where(h =!= first)
    }

  private def turnsOf(spark: SparkSession, path: String): DataFrame =
    KgPipeline.eligibleTurns(spark.read.parquet(path))

  /** The reference job of `kg_build`: a plain Spark copy of the input, no
    * program code. Each timed build is paired with one, and `pass_rel` is
    * their ratio, so a host that runs slower for a while slows both. */
  private def copyInput(spark: SparkSession, in: String, out: String): Unit =
    spark.read.parquet(in).write.mode("overwrite").parquet(out)

  private def writeTriples(spark: SparkSession, in: String, out: String): Unit =
    KgPipeline.triplesFromTurns(spark, turnsOf(spark, in), Concepts).write.mode("overwrite").parquet(out)

  /** Runs `op` (which returns its timed seconds) until `seconds` of timed
    * work and `minOps` operations are done. Gives up after three failures. */
  private def loop(c: Ctx, minOps: Int)(op: => Double): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var failures = 0
    while ((walls.sum < c.o.seconds || walls.size < minOps) && failures < 3)
      c.r.attempt("op")(op) match {
        case Some(s) => walls += s
        case None    => failures += 1
      }
    walls.toSeq
  }

  // ---- kg_build ----------------------------------------------------------

  def build(c: Ctx): Unit = {
    val spark = c.spark
    val in = c.o.input
    val out = s"${c.o.work}/out/triples"
    val copy = s"${c.o.work}/out/copy"
    // WarmBuilds discarded builds, the last WarmCopies of them each after a
    // discarded reference copy: the first build is cold, and build walls keep
    // falling over the next ones while the JIT compiles the extraction path.
    // Only the builds count in set-up: the copies are the benchmark's, not
    // the program's
    val warm = c.r.attempt("setup")((1 to WarmBuilds).map { i =>
      if (i > WarmBuilds - WarmCopies) copyInput(spark, in, copy)
      time(writeTriples(spark, in, out))._2
    }.sum)
    if (warm.isEmpty) return
    c.r.metric("setup_s", c.sessionS + warm.get, "s")

    // each build's output is fingerprinted between builds; the reference
    // (the independent path: span-grain mentions, deduplicated to edges) is
    // computed after the timed builds, so its plans do not run among them
    val outputs = mutable.ArrayBuffer.empty[(Long, Long)]
    def readBack(): Unit = outputs += hashSink(maybeCorrupt(c, spark.read.parquet(out)))

    if (!c.o.trace) {
      // each timed build is paired with the copy just before it
      val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
      loop(c, 5) {
        settleHeap()
        val ref = time(copyInput(spark, in, copy))._2
        val (_, s) = time(writeTriples(spark, in, out))
        readBack()
        pairs += ((s, ref))
        s + ref
      }
      c.r.info("op_walls_s") = pairs.map(p => Json.num(p._1)).mkString("[", ",", "]")
      c.r.info("ref_walls_s") = pairs.map(p => Json.num(p._2)).mkString("[", ",", "]")
      c.r.info("pass_s") = Json.num(p50(pairs.map(_._1).toSeq))
      c.r.metric("pass_rel", p50(pairs.map { case (s, ref) => s / ref }.toSeq), "ratio")
    } else {
      ladder(c, in, out)
      readBack()
      overhead(c, in, out)
    }

    val ref = {
      val turns = turnsOf(spark, in)
      hashSink(KgPipeline.triplesFrom(spark, turns, KgPipeline.extractMentions(spark, turns, Concepts).toDF(), Concepts))
    }
    outputs.foreach(got => c.r.check("kg_build.output", got == ref, s"sink $got, triplesFrom $ref"))
    c.r.info("triples") = ref._1.toString
    recordCorpus(c, in)

    if (c.o.trace) {
      checkpointLayers(c)
      val inBudget = c.sessionS + secs(c.t0) < ScalingBudgetS
      if (c.r.check("kg.scaling", inBudget, f"run past its $ScalingBudgetS%.0f s budget, scaling skipped")) scaling(c)
    }
  }

  /** Cumulative noop cuts of the build (scan + filter, + extraction, +
    * triple union), then the parquet sink and a `count()` of the same plan,
    * three times over. A layer's self time is the difference between
    * consecutive cuts, of medians. `kg.eligible_turns` writes every column
    * of `eligibleTurns`, so it includes the ordering window the later cuts
    * prune. */
  private def ladder(c: Ctx, in: String, out: String): Unit = {
    val spark = c.spark
    val t = c.trace
    val cuts = Seq(
      "kg.scan_filter" -> (() => noop(turnsOf(spark, in).select("conv_id", "turn_idx", "text"))),
      "extract.mention_edges" -> (() => noop(KgPipeline.extractMentionEdges(spark, turnsOf(spark, in), Concepts))),
      "kg.triple_union" -> (() => noop(KgPipeline.triplesFromTurns(spark, turnsOf(spark, in), Concepts))),
      "sink.parquet" -> (() => writeTriples(spark, in, out)),
      "kg.count" -> (() => { KgPipeline.triplesFromTurns(spark, turnsOf(spark, in), Concepts).count(); () }),
      "kg.eligible_turns" -> (() => noop(turnsOf(spark, in)))
    )
    for (_ <- 1 to 3) t.span("kg.ladder")(cuts.foreach { case (n, f) => t.span(n)(f()) })
    t.settle()
    def m(n: String) = p50(t.named(n).map(_.seconds))
    c.r.metric("kg.build_s", m("sink.parquet"), "s")
    c.r.metric("kg.scan_filter_s", m("kg.scan_filter"), "s")
    c.r.metric("kg.eligible_turns_s", m("kg.eligible_turns"), "s")
    c.r.metric("extract.mention_edges_s", m("extract.mention_edges") - m("kg.scan_filter"), "s")
    c.r.metric("kg.triple_union_s", m("kg.triple_union") - m("extract.mention_edges"), "s")
    c.r.metric("sink.parquet_s", m("sink.parquet") - m("kg.triple_union"), "s")
    c.r.metric("kg.count_gap_s", m("kg.triple_union") - m("kg.count"), "s")
    val rows = spark.read.parquet(out).count()
    c.r.metric("kg.triples_per_s", rows / m("sink.parquet"), "triples/s")
    c.r.metric("sink.rows_written", rows.toDouble, "count")
    c.r.metric("sink.bytes_written", bytesUnder(out).toDouble, "bytes")
    sparkCounters(c, t.named("kg.ladder"))
  }

  /** The Spark counters of a set of spans, per span. */
  def sparkCounters(c: Ctx, spans: Seq[Trace.Span]): Unit = {
    val n = spans.size.max(1).toDouble
    val tot = c.trace.totals(spans)
    c.r.metric("spark.tasks", tot.tasks / n, "count")
    c.r.metric("spark.shuffle_write_bytes", tot.shuffleWriteBytes / n, "bytes")
    c.r.metric("spark.spill_bytes", tot.spillBytes / n, "bytes")
    c.r.metric("spark.peak_exec_mem_bytes", tot.peakExecMemBytes.toDouble, "bytes")
    c.r.metric("spark.gc_s", tot.gcSeconds / n, "s")
    c.r.metric("spark.executor_busy_share", tot.executorBusyShare, "share")
    c.r.metric("spark.driver_gap_s", tot.driverGapSeconds / n, "s")
  }

  /** Tracing overhead: builds with the listener detached and no spans,
    * interleaved with traced builds. */
  private def overhead(c: Ctx, in: String, out: String): Unit = {
    val plain, traced = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to 2) {
      c.trace.detach()
      plain += time(writeTriples(c.spark, in, out))._2
      c.trace.attach()
      traced += time(c.trace.span("kg.build")(writeTriples(c.spark, in, out)))._2
    }
    c.r.metric("trace.overhead_s", p50(traced.toSeq) - p50(plain.toSeq), "s")
  }

  /** Scaling efficiency of the build between local[1] and local[nproc] on a
    * quarter-size corpus: (t_1 / t_n) / n. Restarts the session, so it runs
    * last. */
  private def scaling(c: Ctx): Unit = {
    val n = c.spark.sparkContext.defaultParallelism
    val in = c.o.small
    val out = s"${c.o.work}/out/scaling"
    def warmed(spark: SparkSession) = {
      writeTriples(spark, in, out)
      time(writeTriples(spark, in, out))._2
    }
    val tn = warmed(c.spark)
    c.trace.detach()
    c.spark.stop()
    val one = Main.session(1, c.o.work)
    val t1 = warmed(one)
    c.r.metric("kg.scaling_eff", t1 / tn / n, "share")
  }

  // ---- the checkpoint layer ----------------------------------------------

  /** The bucketed edges stage: the two conversation-derived triple families
    * of `triplesFromTurns`, each row carrying its conversation (the
    * checkpoint's key, which its lineage reads back) and bucket. */
  private def edges(spark: SparkSession)(todo: DataFrame): DataFrame = {
    val turns = KgPipeline.eligibleTurns(todo)
    val passage = concat(col("conv_id"), lit("_"), col("turn_idx").cast("string"))
    val hasPassage =
      turns.select(col("conv_id").as("subj"), lit("HAS_PASSAGE").as("pred"), passage.as("obj"), col("conv_id"), col("bucket"))
    val mentions = KgPipeline
      .extractMentionEdges(spark, turns, Concepts)
      .select(
        passage.as("subj"),
        lit("MENTIONS_CONCEPT").as("pred"),
        col("concept_id").as("obj"),
        col("conv_id"),
        Checkpoint.bucketCol("conv_id", NBuckets))
    hasPassage.unionByName(mentions)
  }

  final case class Cycle(steps: Seq[(String, Int, Double)], rowsByRun: Map[String, Long], updateBuckets: Seq[Int], lineageRows: Long) {
    def seconds(step: String): Double = steps.find(_._1 == step).map(_._3).getOrElse(0.0)
    def buckets(step: String): Int = steps.find(_._1 == step).map(_._2).getOrElse(0)
    def wall: Double = steps.map(_._3).sum
  }

  private def cycle(c: Ctx, base: DataFrame, grown: DataFrame, dir: String): Cycle = {
    deleteTree(dir)
    val half = base.where(Checkpoint.bucketCol("conv_id", NBuckets) < NBuckets / 2)
    val steps = Seq("kill" -> half, "resume" -> base, "noop_rerun" -> base, "update" -> grown).map { case (id, in) =>
      val (n, s) = time(c.trace.span(s"checkpoint.$id") {
        Checkpoint.runResumable(c.spark, in, "conv_id", dir, Stage, id, NBuckets, Some("ts"))(edges(c.spark))
      })
      (id, n, s)
    }
    val lineage = c.spark.read.parquet(Checkpoint.lineagePath(dir))
    val rows = lineage.groupBy("run_id").agg(sum("n_rows")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val upd = lineage.where(col("run_id") === "update").select("n_buckets_in_run").distinct().collect().map(_.getInt(0)).toSeq
    Cycle(steps, rows, upd, lineage.count())
  }

  /** The checkpoint layer, measured in the traced run on the quarter-size
    * corpus: two kill -> resume -> no-op -> update cycles (the first warms
    * the path), each checked against a direct extraction. */
  private def checkpointLayers(c: Ctx): Unit = {
    val spark = c.spark
    val base = spark.read.parquet(c.o.small)
    val growth = spark.read.parquet(c.o.growth)
    val grown = base.unionByName(growth)
    val dir = s"${c.o.work}/out/checkpoint"

    def bucketsOf(df: DataFrame) = df.select(Checkpoint.bucketCol("conv_id", NBuckets)).distinct().count().toInt
    val allBuckets = bucketsOf(base)
    val killBuckets = bucketsOf(base.where(Checkpoint.bucketCol("conv_id", NBuckets) < NBuckets / 2))
    val touched = bucketsOf(growth)
    def direct(turns: DataFrame) =
      KgPipeline.triplesFromTurns(spark, KgPipeline.eligibleTurns(turns), Concepts).where(col("pred").isin(ConvPreds: _*))
    val ref = hashSink(direct(grown))
    val newTriples = direct(growth).count()

    val cycles = (1 to 2).map { _ =>
      val cy = c.trace.span("checkpoint.cycle")(cycle(c, base, grown, dir))
      val want = Map("kill" -> killBuckets, "resume" -> (allBuckets - killBuckets), "noop_rerun" -> 0, "update" -> touched)
      want.foreach { case (step, n) =>
        c.r.check(s"checkpoint.$step.buckets", cy.buckets(step) == n, s"${cy.buckets(step)} buckets, want $n")
      }
      c.r.check("checkpoint.update.n_buckets_in_run", cy.updateBuckets == Seq(touched), s"${cy.updateBuckets}, want $touched")
      val got = hashSink(maybeCorrupt(c, spark.read.parquet(Checkpoint.dataPath(dir)).select("subj", "pred", "obj")))
      c.r.check("checkpoint.output", got == ref, s"checkpoint $got, direct $ref")
      cy
    }
    c.trace.settle()
    val last = cycles.last
    for (step <- Seq("kill", "resume", "noop_rerun", "update")) {
      c.r.metric(s"checkpoint.${step}_s", last.seconds(step), "s")
      c.r.metric(s"checkpoint.$step.buckets_processed", last.buckets(step).toDouble, "count")
      c.r.metric(s"checkpoint.$step.jobs", c.trace.totals(c.trace.named(s"checkpoint.$step").last).jobs.toDouble, "count")
    }
    c.r.metric("checkpoint.lineage_rows", last.lineageRows.toDouble, "count")
    c.r.metric("checkpoint.write_amp", last.rowsByRun.getOrElse("update", 0L).toDouble / newTriples, "ratio")
  }
}
