package kgbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{count, lit, sum}

import graft.SparkEntry

import Main._

/** The analytics workload, `query_sweep`: a fixed set of `SparkEntry.queries`
  * over the seeded analytics tables, each run to a sink, pass
  * after pass, after `SparkEntry.warmSharedCaches`.
  *
  * Each query runs to `Main.hashSink`, which reads every output column as a
  * `noop` sink does and also yields the result's order-free fingerprint.
  * Set-up is the session start, the shared-artifact warm-up and one
  * discarded pass; every timed pass's fingerprints must equal that pass's.
  *
  * Untraced it reports `pass_rel` (the timed passes' walls over those of
  * the reference jobs interleaved with them) and `setup_s`. Traced it
  * reports the pass wall, the artifact warm-up and what it caches, the
  * median per-query wall, per-family and per-leaf times, and the Spark
  * counters of a pass.
  */
object QuerySweep {

  /** The swept queries and the module each calls into: one leaf per
    * family, a slow or regressed one where a pass allows, so that a pass
    * stays near ten seconds on four cores. */
  val Sweep: Seq[(String, String)] = Seq(
    "kg_walks" -> "kg_graph",
    "kg_triples" -> "kg_mentions",
    "dedup_minhash" -> "dedup",
    "sim_topk_pq" -> "similarity",
    "sketch_cms" -> "sketch",
    "text_lm" -> "text",
    "data_quality_gate" -> "data",
    "eval_pr" -> "eval",
    "q3_topk" -> "relational"
  )

  /** Further named leaves, timed once each in the traced run only, after
    * the swept passes: the rest of the leaves that regressed in round 6's
    * single-sample record and the slow leaves the ROADMAP names. */
  val Leaves: Seq[String] = Seq(
    "c6_auto_prompt", "data_dsir", "dedup_embedding_ivf", "dedup_embedding_incr", "kg_scc",
    "sim_topk_pq_rerank", "mm_features", "dedup_exact", "kg_vespa_concepts_ts",
    "dedup_cluster", "pipeline_curate", "kg_condensation", "eval_pr_passage", "eval_pr_strata",
    "dedup_minhash_incr", "dedup_bloom_incr", "kg_hits"
  )

  /** The traced run skips `Leaves`, and counts that as a failure, once this
    * much of the run has passed. */
  val LeavesBudgetS = 100.0

  val Families: Seq[String] = Sweep.map(_._2).distinct

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.o.input
    val t = c.trace
    val queries = SparkEntry.queries

    // the reference job: plain Spark over the same documents table (two
    // aggregations and a join), no program code
    def refJob(): Double = time {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      hashSink(d.groupBy("source").agg(count(lit(1)), sum("n_chars")).join(d.select("source", "lang").distinct(), "source"))
    }._2

    // one pass: every query to the hash sink, timed; its fingerprint is
    // compared with the set-up pass's outside the timing. With `refs`, each
    // query runs just after a reference job, and the pass also returns
    // their walls' sum, so a host that runs slower for a while slows both
    def pass(refs: Boolean): (Map[String, (Double, (Long, Long))], Double) = {
      var ref = 0.0
      val qs = Sweep.flatMap { case (q, _) =>
        if (refs) ref += refJob()
        c.r.attempt(s"query.$q")(time(t.span(s"query.$q")(hashSink(queries(q)(spark, dir))))).map {
          case (fp, s) => q -> (s, fp)
        }
      }.toMap
      (qs, ref)
    }

    val t0 = System.nanoTime()
    c.r.attempt("artifacts.warm")(time(t.span("artifacts.warm")(SparkEntry.warmSharedCaches(spark, dir))))
      .foreach { case (_, s) => c.r.metric("artifacts.warm_s", s, "s") }
    val ((setupPass, _), setupPassS) = time(t.span("queries.setup_pass")(pass(refs = false)))
    val first = setupPass.map { case (q, (_, fp)) => q -> fp }
    c.r.metric("setup_s", c.sessionS + secs(t0), "s")
    // the reference job's own warm-up, outside set-up: it is the benchmark's
    if (!c.o.trace) (1 to 3).foreach(_ => refJob())
    // an empty result would time no work: every swept query must return rows
    val rows = mutable.LinkedHashMap.empty[String, Long]
    for ((q, _) <- Sweep; (n, _) <- first.get(q)) {
      rows(q) = n
      c.r.check(s"query.$q.rows", n > 0, "no rows")
    }
    val cached = spark.sparkContext.getRDDStorageInfo
    c.r.metric("artifacts.cached_bytes", cached.map(i => i.memSize + i.diskSize).sum.toDouble, "bytes")
    c.r.metric("artifacts.cached_rdds", cached.length.toDouble, "count")

    // as many timed passes as fit in --seconds at the set-up pass's pace, at
    // least one. Stopping once the timed walls reach --seconds would time one
    // pass or two, by turns, when a pass takes about --seconds.
    val nPasses = math.round(c.o.seconds / setupPassS).toInt.max(1).min(50)
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val refs = mutable.ArrayBuffer.empty[Double]
    while (passes.size < nPasses) {
      settleHeap()
      val (p, ref) = t.span("queries.pass")(pass(refs = !c.o.trace))
      refs += ref
      for ((q, _) <- Sweep) {
        val got = p.get(q).map(_._2)
        c.r.check(s"query.$q.fingerprint", got.isDefined && got == first.get(q), s"set-up pass ${first.get(q)}, pass ${passes.size + 1} $got")
      }
      passes += p.map { case (q, (s, _)) => q -> s }
    }
    val walls = passes.map(_.values.sum).toSeq
    if (c.o.trace) c.r.metric("queries.pass_s", p50(walls), "s")
    else {
      c.r.metric("pass_rel", walls.sum / refs.sum, "ratio")
      c.r.info("ref_walls_s") = refs.map(Json.num).mkString("[", ",", "]")
    }
    c.r.metric("queries.p50_s", p50(passes.flatMap(_.values).toSeq), "s")
    c.r.info("pass_walls_s") = passes.map(p => Json.num(p.values.sum)).mkString("[", ",", "]")
    c.r.info("query_s") = Sweep
      .map { case (q, _) => s"${Json.str(q)}:${Json.num(p50(passes.flatMap(_.get(q)).toSeq))}" }
      .mkString("{", ",", "}")
    KgWorkloads.recordCorpus(c, s"$dir/documents.parquet")

    if (c.o.trace) {
      t.settle()
      val n = passes.size.toDouble
      for (fam <- Families) {
        val qs = Sweep.filter(_._2 == fam).map(_._1)
        val spans = t.named("queries.pass").flatMap(p => t.all.filter(s => s.parent == p.id && qs.contains(s.name.stripPrefix("query."))))
        val tot = t.totals(spans)
        c.r.metric(s"queries.${fam}_s", p50(passes.map(p => qs.flatMap(p.get).sum).toSeq), "s")
        c.r.metric(s"queries.$fam.jobs", tot.jobs / n, "count")
        c.r.metric(s"queries.$fam.shuffle_bytes", tot.shuffleWriteBytes / n, "bytes")
        c.r.metric(s"queries.$fam.driver_gap_s", tot.driverGapSeconds / n, "s")
      }
      for ((q, _) <- Sweep) c.r.metric(s"query.${q}_s", p50(passes.flatMap(_.get(q)).toSeq), "s")
      KgWorkloads.sparkCounters(c, t.named("queries.pass"))
      val inBudget = c.sessionS + secs(c.t0) < LeavesBudgetS
      c.r.check("query.leaves", inBudget, f"run past its $LeavesBudgetS%.0f s budget, named leaves skipped")
      for (q <- Leaves if inBudget; ((n, _), s) <- c.r.attempt(s"query.$q")(time(t.span(s"query.$q")(hashSink(queries(q)(spark, dir)))))) {
        rows(q) = n
        c.r.check(s"query.$q.rows", n > 0, "no rows")
        c.r.metric(s"query.${q}_s", s, "s")
      }
    }
    c.r.info("query_rows") = rows.map { case (q, n) => s"${Json.str(q)}:$n" }.mkString("{", ",", "}")
  }
}
