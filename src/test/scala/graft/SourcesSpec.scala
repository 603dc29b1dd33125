package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Identifier8Expression.identifier8
import graft.kg.{KgPipeline, Sources, Transcripts}

/** Alternative transcript source formats (JSONL/CSV) + the identifier8
  * expression. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("JSONL and CSV transcript sources round-trip the canonical table") {
    val t = Transcripts.read(spark, TestSpark.sf0001).cache()
    val dir = Files.createTempDirectory("graft_sources").toString

    t.write.json(s"$dir/jsonl")
    val fromJson = Sources.jsonl(spark, s"$dir/jsonl")
    assert(
      fromJson.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Sources.transcriptsSchema.fields.map(f => (f.name, f.dataType)).toSeq
    )
    assert(fromJson.exceptAll(t).count() == 0 && t.exceptAll(fromJson).count() == 0)

    t.withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .write.option("header", "true").csv(s"$dir/csv")
    val fromCsv = Sources.csv(spark, s"$dir/csv")
    assert(fromCsv.exceptAll(t).count() == 0 && t.exceptAll(fromCsv).count() == 0)

    t.write.orc(s"$dir/orc")
    val fromOrc = Sources.orc(spark, s"$dir/orc")
    assert(fromOrc.exceptAll(t).count() == 0 && t.exceptAll(fromOrc).count() == 0)

    // the pipeline runs unchanged on an alternative source
    val m = KgPipeline.extractMentionEdges(
      spark, KgPipeline.eligibleTurns(fromJson), KgPipeline.defaultConcepts)
    assert(m.count() > 0)
  }

  test("identifier8 expression matches the reference algorithm inside a column plan") {
    val df = Seq(("text", 0, 5, "Q42"), ("naïve ünïcode ΔT", 3, 17, "Q787"))
      .toDF("t", "s", "e", "c")
      .select(identifier8(col("t"), col("s"), col("e"), col("c")).as("id"), col("t"), col("s"), col("e"), col("c"))
    val got = df.collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getString(4)) -> r.getString(0)).toMap
    // cross-check against the pure function (itself locked to the reference
    // byte-for-byte in CoreSpec)
    got.foreach { case ((t, s, e, c), id) =>
      assert(id == graft.core.Identifier8.spanId(t, s, e, c))
    }
    // NULL -> "None" (python str(None))
    val withNull = Seq(("x", null: String)).toDF("a", "b")
      .select(identifier8(col("a"), col("b")).as("id")).collect()(0).getString(0)
    assert(withNull == graft.core.Identifier8.ofString("xNone"))
  }

  test("session-cache fingerprint tracks rewrites of single-FILE parquet datasets") {
    // the testdata layout backs each table with one parquet file, not a
    // directory — listFiles() returns null there, and a constant fingerprint
    // would disable supersession eviction and serve stale cached artifacts
    val dir = java.nio.file.Files.createTempDirectory("fp").toFile
    try {
      val f = new java.io.File(dir, "documents.parquet")
      java.nio.file.Files.write(f.toPath, "v1".getBytes)
      f.setLastModified(1000000L)
      val fp1 = Sources.fingerprint(dir.getPath, "documents")
      assert(fp1 != "documents:17", "single-file dataset must not collapse to the empty fingerprint")
      // in-place rewrite: same name, new length/mtime -> new fingerprint
      java.nio.file.Files.write(f.toPath, "v2-longer".getBytes)
      f.setLastModified(2000000L)
      val fp2 = Sources.fingerprint(dir.getPath, "documents")
      assert(fp2 != fp1)
      // directory-of-parts layout still fingerprints its contents
      val sub = new java.io.File(dir, "orders.parquet")
      assert(sub.mkdir())
      java.nio.file.Files.write(new java.io.File(sub, "part-0").toPath, "p".getBytes)
      val fp3 = Sources.fingerprint(dir.getPath, "orders")
      java.nio.file.Files.write(new java.io.File(sub, "part-1").toPath, "q".getBytes)
      assert(Sources.fingerprint(dir.getPath, "orders") != fp3)
    } finally rmTree(dir)
  }

  /** The job group of every job started while `body` ran, `body` itself
    * running under the job group `group` (threads it starts inherit it).
    * The listener bus is FIFO, so once a later marker job's start arrives
    * any job `body` submitted has been seen. */
  private def jobGroupsDuring(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup("registry-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("registry-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("registry-marker"))
      groups.toArray(Array.empty[String]).toSeq.takeWhile(_ != "registry-marker")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Whether `body` submits a Spark job. */
  private def submitsJob(body: => Unit): Boolean =
    jobGroupsDuring("registry-lookup")(body).contains("registry-lookup")

  /** `body`'s value in each of `n` threads started together. */
  private def concurrently[T](n: Int)(body: => T): Seq[T] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, T]]()
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => {
        start.await()
        out.add(try Right(body) catch { case e: Throwable => Left(e) })
        ()
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    out.toArray(Array.empty[Either[Throwable, T]]).toSeq.map(_.fold(e => throw e, identity))
  }

  /** A temp dir holding copies of the named sf0.001 tables. */
  private def copyOf(tables: String*): java.io.File = {
    val dir = Files.createTempDirectory("registry").toFile
    tables.foreach(t => Files.copy(new java.io.File(TestSpark.sf0001, s"$t.parquet").toPath, new java.io.File(dir, s"$t.parquet").toPath))
    dir
  }

  /** Rewrite a parquet file with its own bytes and a later mtime (the
    * copies keep the read-only mode of their sources, so write a new file). */
  private def rewrite(f: java.io.File): Unit = {
    val bytes = Files.readAllBytes(f.toPath)
    Files.delete(f.toPath)
    Files.write(f.toPath, bytes)
    assert(f.setLastModified(f.lastModified() + 60000L))
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Drop every registry entry for `dir` and undeclare `probes`. */
  private def forget(dir: java.io.File, probes: SparkEntry.Artifact[_]*): Unit = {
    SparkEntry.Artifact.entries.keys.filter(_._3 == dir.getPath).foreach(SparkEntry.Artifact.entries.remove)
    SparkEntry.Artifact.declared --= probes
    rmTree(dir)
  }

  test("table registry: a table resolves once per fingerprint; rewrites re-resolve; self-joins hold") {
    val dir = Files.createTempDirectory("tables").toFile
    val path = dir.getPath
    val src = s"${TestSpark.sf0001}/documents.parquet"
    val docsFile = new java.io.File(dir, "documents.parquet")
    Files.copy(new java.io.File(src).toPath, docsFile.toPath)
    def lookup() = Sources.table(spark, path, "documents")
    try {
      val d1 = lookup()
      assert(!submitsJob(assert(lookup() eq d1)), "a resolved table was resolved again")

      // two lookups of one table share attribute ids: a join of them must
      // still equal the same join over two independent reads
      def selfJoin(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .join(b.where(col("lang") === "en").select(col("source"), col("doc_id")), "source")
      val viaRegistry = selfJoin(lookup(), lookup())
      val fresh = selfJoin(spark.read.parquet(docsFile.getPath), spark.read.parquet(docsFile.getPath))
      assert(viaRegistry.count() > 0)
      assert(viaRegistry.exceptAll(fresh).count() === 0 && fresh.exceptAll(viaRegistry).count() === 0)

      // a rewrite (here: a directory of parts holding half the rows) changes
      // the fingerprint; the next lookup re-resolves and reads the new rows
      val fp1 = Sources.fingerprint(path, "documents")
      assert(docsFile.delete())
      spark.read.parquet(src).where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(docsFile.getPath)
      assert(Sources.fingerprint(path, "documents") != fp1)
      val d2 = lookup()
      assert(d2 ne d1)
      assert(d2.count() === spark.read.parquet(src).where(col("doc_id") % 2 === 0).count())
      assert(lookup() eq d2)
    } finally rmTree(dir)
  }

  test("session-artifact registry: cached lookups run no job, rewrites supersede, compaction caches one copy") {
    val dir = Files.createTempDirectory("registry").toFile
    val path = dir.getPath
    val src = new java.io.File(TestSpark.sf0001, "documents.parquet").toPath
    val docsFile = new java.io.File(dir, "documents.parquet")
    Files.copy(src, docsFile.toPath)
    val sc = spark.sparkContext
    def lookup(query: String) = SparkEntry.queries(query)(spark, path)
    def held = SparkEntry.Artifact.entries.toSeq
      .collect { case ((name, _, d), e) if d == path => name -> e.fingerprint }
      .sorted
    def newlyCached[T](build: => T): (T, Int) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = build
      (out, (sc.getPersistentRDDs.keySet.toSet -- before).size)
    }
    // The compacted artifact is the MinHash signature index, whose build
    // ends in an aggregation by document. AQE would coalesce it into 1
    // partition at this size; without it the signatures land on 4
    // partitions, at least twice partsFor's 1, so the build compacts. (The
    // mention build ends in one partition, and the edge layer reads the
    // one-partition mention artifact where it lies: neither compacts.)
    assert(SparkEntry.queries.nonEmpty) // SparkEntry declares its artifacts as it initializes
    val sigs = SparkEntry.Artifact.declared.find(_.name == "minhashSigs").get
      .asInstanceOf[SparkEntry.Artifact[org.apache.spark.sql.DataFrame]]
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      assert(graft.data.Dedup.minhashSignatures(Sources.table(spark, path, "documents"), k = 32).rdd.getNumPartitions == 4)
      val (s1, cached1) = newlyCached(sigs(spark, path))
      assert(s1.rdd.getNumPartitions == 1, "the signature index was compacted")
      assert(cached1 == 1, "a compacted artifact holds one cached copy, not the intermediate as well")
      val m1 = lookup("kg_mentions")
      val c1 = lookup("kg_cooccurrence")

      // a second lookup is served from the registry: same value, no job
      assert(!submitsJob {
        assert(sigs(spark, path) eq s1)
        assert(lookup("kg_mentions") eq m1)
        assert(lookup("kg_cooccurrence") eq c1)
      }, "a cached lookup submitted a Spark job")
      val fp1 = Sources.fingerprint(path, "documents")
      assert(held == Seq("coEdges" -> fp1, "mentions" -> fp1, "minhashSigs" -> fp1))

      // rewriting the backing parquet rebuilds and replaces the old entries
      Files.copy(src, docsFile.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(docsFile.setLastModified(docsFile.lastModified() + 60000L))
      val fp2 = Sources.fingerprint(path, "documents")
      assert(fp2 != fp1)
      val (s2, cached2) = newlyCached(sigs(spark, path))
      val m2 = lookup("kg_mentions")
      val c2 = lookup("kg_cooccurrence")
      assert((s2 ne s1) && (m2 ne m1) && (c2 ne c1), "a rewritten dataset must rebuild its artifacts")
      assert(cached2 == 1)
      assert(held == Seq("coEdges" -> fp2, "mentions" -> fp2, "minhashSigs" -> fp2))
      assert(c2.collect().toSet == c1.collect().toSet)
    } finally {
      sc.clearJobGroup()
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      SparkEntry.Artifact.entries.keys.filter(_._3 == path).foreach(SparkEntry.Artifact.entries.remove)
      docsFile.delete()
      dir.delete()
    }
  }

  test("session-artifact registry: the PQ code table and the eval inputs build once, each on its own table's rewrite") {
    val dir = Files.createTempDirectory("registry_pq_eval").toFile
    val path = dir.getPath
    val copies = Seq("documents", "embeddings").map { t =>
      val f = new java.io.File(dir, s"$t.parquet")
      Files.copy(new java.io.File(TestSpark.sf0001, s"$t.parquet").toPath, f.toPath)
      t -> f
    }.toMap
    val queries = Seq("sim_topk_pq", "eval_pr", "eval_pr_passage", "eval_pr_strata")
    def construct(): Unit = queries.foreach(q => SparkEntry.queries(q)(spark, path))
    val watched = Seq("pqCodes", "evalGold", "evalPred")
    def held = SparkEntry.Artifact.entries.toSeq.collect { case ((name, _, d), e) if d == path && watched.contains(name) => name -> e }
    def values = held.map { case (name, e) => name -> e.value }.toMap
    def rewrite(table: String): Unit = {
      val f = copies(table)
      Files.copy(new java.io.File(TestSpark.sf0001, s"$table.parquet").toPath, f.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(f.setLastModified(f.lastModified() + 60000L))
    }
    def rebuilt(before: Map[String, Any]): Set[String] = {
      val now = values
      watched.filter(a => !(now(a).asInstanceOf[AnyRef] eq before(a).asInstanceOf[AnyRef])).toSet
    }
    try {
      construct()
      assert(held.map(_._1).sorted == watched.sorted, "one registry entry per artifact")
      val v1 = values
      assert(!submitsJob(construct()), "a second construction submitted a Spark job")
      assert(rebuilt(v1).isEmpty)

      rewrite("documents")
      construct()
      assert(held.map(_._1).sorted == watched.sorted)
      assert(rebuilt(v1) == Set("evalGold", "evalPred"), "a documents rewrite rebuilds the eval inputs only")
      val v2 = values

      rewrite("embeddings")
      construct()
      assert(rebuilt(v2) == Set("pqCodes"), "an embeddings rewrite rebuilds the code table only")
      assert(!submitsJob(construct()))
    } finally {
      SparkEntry.Artifact.entries.keys.filter(_._3 == path).foreach(SparkEntry.Artifact.entries.remove)
      copies.values.foreach(_.delete())
      dir.delete()
    }
  }

  test("session-artifact registry: an artifact is fingerprinted on every table its build reads") {
    val dir = copyOf("documents", "embeddings")
    val fixtureDir = Files.createTempDirectory("fixture").toFile
    val fixture = new java.io.File(fixtureDir, "ref_mentions.parquet")
    Files.copy(new java.io.File(graft.kg.OracleGen.refMentionsPath).toPath, fixture.toPath)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new SparkEntry.Artifact[Seq[Long]]("probe_two_tables", "documents", fixture.getPath)((s, d) => {
      builds.incrementAndGet()
      Seq(Sources.table(s, d, "documents").count(), Sources.table(s, fixture.getPath).count())
    })
    try {
      for (a <- Seq("evalGold", "evalPred"))
        assert(SparkEntry.Artifact.declared.find(_.name == a).get.tables == Seq("documents", graft.kg.OracleGen.refMentionsPath))
      val v1 = probe(spark, dir.getPath)
      assert(v1.forall(_ > 0) && probe(spark, dir.getPath) == v1 && builds.get == 1)
      rewrite(new java.io.File(dir, "embeddings.parquet"))
      probe(spark, dir.getPath)
      assert(builds.get == 1, "a rewrite of a table the build does not read rebuilt it")
      rewrite(fixture)
      assert(probe(spark, dir.getPath) == v1)
      assert(builds.get == 2, "a rewrite of the fixture did not rebuild")
      rewrite(new java.io.File(dir, "documents.parquet"))
      assert(probe(spark, dir.getPath) == v1)
      assert(builds.get == 3, "a rewrite of the dataset table did not rebuild")
      probe(spark, dir.getPath)
      assert(builds.get == 3)
    } finally {
      forget(dir, probe)
      rmTree(fixtureDir)
    }
  }

  test("session-artifact registry: concurrent lookups of a cold artifact build it once and share it") {
    val dir = copyOf("documents")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new SparkEntry.Artifact[org.apache.spark.sql.DataFrame]("probe_single_flight", "documents")((s, d) => {
      builds.incrementAndGet()
      Sources.table(s, d, "documents").groupBy("source").agg(count(lit(1)).as("n"))
    })
    def held = SparkEntry.Artifact.entries.keys.count(k => k._1 == probe.name && k._3 == dir.getPath)
    try {
      Sources.table(spark, dir.getPath, "documents") // both phases below read a resolved table
      var got = Seq.empty[org.apache.spark.sql.DataFrame]
      val together = jobGroupsDuring("cold-concurrent") { got = concurrently(6)(probe(spark, dir.getPath)) }
      assert(builds.get == 1, "concurrent lookups built the artifact more than once")
      assert(got.size == 6 && got.forall(_ eq got.head), "concurrent lookups got different instances")
      assert(held == 1)
      SparkEntry.Artifact.entries.keys.filter(_._3 == dir.getPath).foreach(SparkEntry.Artifact.entries.remove)
      val serial = jobGroupsDuring("cold-serial")(probe(spark, dir.getPath))
      assert(builds.get == 2)
      val n = serial.count(_ == "cold-serial")
      assert(n > 0 && together.count(_ == "cold-concurrent") == n, s"concurrent lookups ran ${together.count(_ == "cold-concurrent")} jobs, one build $n")
    } finally forget(dir, probe)
  }

  test("warmSharedCaches: every job it submits carries the caller's job group; every entry keeps its build wall") {
    val dir = copyOf("documents", "embeddings")
    try {
      val groups = jobGroupsDuring("warm-caller")(SparkEntry.warmSharedCaches(spark, dir.getPath))
      assert(groups.nonEmpty)
      assert(groups.forall(_ == "warm-caller"), s"jobs outside the caller's group: ${groups.filter(_ != "warm-caller").map(g => if (g.isEmpty) "(none)" else g).distinct}")
      val held = SparkEntry.Artifact.entries.collect { case ((name, _, d), e) if d == dir.getPath => name -> e }
      assert(held.keySet == SparkEntry.Artifact.declared.map(_.name).toSet)
      assert(held.values.forall(_.buildS > 0))
    } finally forget(dir)
  }

  test("warmSharedCaches: a build that throws reaches the caller, and the next lookup builds it again") {
    val dir = copyOf("documents", "embeddings")
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    val flaky = new SparkEntry.Artifact[Seq[Int]]("probe_flaky", "documents")((_, _) =>
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("planted build failure") else Seq(1, 2, 3))
    try {
      val e = intercept[IllegalStateException](SparkEntry.warmSharedCaches(spark, dir.getPath))
      assert(e.getMessage == "planted build failure")
      assert(!SparkEntry.Artifact.entries.keys.exists(k => k._1 == flaky.name && k._3 == dir.getPath), "a failed build left an entry")
      assert(!Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).exists(_.getName.startsWith("warm-")), "a worker outlived the warm")
      assert(flaky(spark, dir.getPath) == Seq(1, 2, 3) && attempts.get == 2)
    } finally forget(dir, flaky)
  }

  test("table registry: concurrent lookups of one path share one handle") {
    val dir = copyOf("documents")
    try {
      val got = concurrently(8)(Sources.table(spark, dir.getPath, "documents"))
      assert(got.forall(_ eq got.head), s"${got.distinct.size} handles for one path")
    } finally rmTree(dir)
  }
}
