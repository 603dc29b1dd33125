package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings(vec_id, embedding, label)`.
  *
  * All dot products are computed with codegen'd higher-order array functions
  * (`zip_with` + `aggregate`) in double precision with strict left-to-right
  * accumulation — deterministic bit-for-bit, which the correctness oracle
  * relies on. No UDFs.
  *
  * Scale path: brute-force top-k is O(queries × corpus) with a broadcast
  * query side — fine when the query set is small. The IVF variant clusters
  * the corpus once and probes only `nProbe` cells per query, cutting the
  * scanned fraction to ~nProbe/nCells at a small recall cost (measured in
  * the test suite and AnnBench).
  *
  * The codebook has two representation regimes, dispatched on nCells:
  * up to [[LiteralCellCap]] it rides in the plan as literals (assignment is
  * a map-only codegen'd argmin projection — zero shuffle); past that it
  * becomes a two-level structure — a literal COARSE quantizer of
  * ~sqrt(nCells) cells plus a BROADCAST fine-centroid table keyed by coarse
  * parent — so per-row work is O(sqrt(nCells)) dots instead of O(nCells)
  * and the plan no longer carries nCells×dim literals. 100 TB sizing: at
  * nCells = 2^17 (the SemDeDup-paper regime) the coarse level caps at 128
  * literal cells, giving ~4k fine candidates per row under wCoarse=4 and a
  * ~64 MB fine-table broadcast — workable; past ~2^20 cells add a third
  * level (coarse→mid→fine) the same way.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — the native codegen
    * expression (bit-identical accumulation order to the HOF form
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` and to DuckDB's
    * list_dot_product; see DotProductExpression). */
  def dot(a: Column, b: Column): Column =
    graft.extract.DotProductExpression.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Top-w codebook cells for `v`, ascending (negd, cell) — the native
    * expression (bit-identical scores and tie order to
    * `slice(cellRanking(v, cents), 1, w)`, which it replaces in every hot
    * path; see NearestCellsExpression for the parity contract and the
    * measured 284us/row cost of the struct-array formulation). */
  private[graft] def nearest(v: Column, cents: Seq[(Int, Seq[Double])], w: Int): Column =
    graft.extract.NearestCellsExpression.nearestCells(v, cents, w)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine against a DRIVER-CONSTANT vector. aggregate/zip_with lambdas are
    * not foldable, so cosine(a, lit-array) would re-fold the constant's
    * 2·dim-element norm per ROW; here the norm is precomputed with the same
    * sequential fold + sqrt on the driver (bit-identical to the column
    * computation, so oracle parity is preserved). */
  def cosineToConst(a: Column, c: Array[Double]): Column = {
    val cCol = array(c.map(lit(_)): _*)
    val cNorm = math.sqrt(c.map(x => x * x).sum)
    dot(a, cCol) / (norm(a) * lit(cNorm))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The IVF centroid codebook, collected to the driver. This is a bounded
    * model artifact — nCells rows, like a trained kmeans codebook or the
    * broadcast gazetteer — and embedding it as plan literals turns every
    * cell-assignment step into a map-only whole-stage-codegen projection:
    * no join, no window, no shuffle.
    *
    * Seeding is deterministic (centroid c = embedding of vec_id c) followed
    * by `iters` Lloyd refinement steps: assign every corpus vector to its
    * nearest current centroid (the same argmin-over-literal-codebook
    * projection the index uses), then move each centroid to the mean of its
    * cell. The mean is computed in QUANTIZED integer space —
    * floor(x * 2^20 + 0.5) summed as longs — because a distributed double
    * sum is ordering-dependent: integer sums are order-free, so the refined
    * codebook is bit-identical across partitionings AND reproducible by the
    * DuckDB oracle (the 2^-20 quantization error is irrelevant to a
    * clustering heuristic). Cells that attract no vectors keep their
    * previous centroid. */
  def ivfCentroids(emb: DataFrame, nCells: Int = 16, iters: Int = 1): Seq[(Int, Seq[Double])] = {
    val seed: Seq[(Int, Seq[Double])] = emb
      .where(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell"), asDouble(col("embedding")).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toSeq
    val q = 1048576.0 // 2^20: x*q is an exact exponent shift in IEEE double
    (1 to iters).foldLeft(seed) { (cents, _) =>
      // past the literal cap the refinement's assignment pass rides the
      // two-level broadcast regime like every other consumer (Lloyd with an
      // approximate assignment step is still a descent heuristic; the
      // codebook stays deterministic because the coarse quantizer is)
      val assignedStep =
        if (cents.size <= LiteralCellCap)
          emb
            .select(asDouble(col("embedding")).as("v"))
            .select(element_at(nearest(col("v"), cents, 1), 1).getField("cell").as("cell"), col("v"))
        else
          assignBroadcast(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")), cents)
            .select(col("cell"), col("v"))
      val refined = assignedStep
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("x") * q + 0.5).cast("long")).as("s"), count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(
          array_sort(collect_list(struct(col("pos"), (col("s").cast("double") / col("n") / q).as("m"))))
            .as("ps"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)).toSeq))
        .toMap
      cents.map { case (cell, c0) => (cell, refined.getOrElse(cell, c0)) }
    }
  }

  /** Array of (negated score, cell) structs vs every codebook centroid —
    * pure projection over the literal codebook. Centroids are normalized
    * driver-side so the per-cell score is a single dot product: cosine
    * ordering is invariant under the row's constant 1/norm(v) factor, so
    * neither norm(v) nor norm(c) needs computing per cell. */
  private[graft] def cellStructs(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    array(cents.map { case (cell, c) =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      val cn = c.map(_ / nrm)
      struct((-dot(v, typedLit(cn))).as("negd"), lit(cell).as("cell"))
    }: _*)

  /** Codebooks up to this size ride in the plan as literals (argmin/ranking
    * is a map-only whole-stage-codegen projection — no join, no shuffle).
    * Past it, the literal device stops being the right plan: the expression
    * tree carries O(nCells) dot products per row and the plan itself bloats
    * with nCells×dim literals, so assignment switches to the two-level
    * broadcast regime below. */
  val LiteralCellCap = 128

  /** Driver-side deterministic spherical k-means over the FINE centroids —
    * the coarse quantizer of the two-level regime. Input is the codebook
    * itself (a bounded model artifact), so this is O(nCells · nCoarse · dim)
    * driver work with sequential exact-double arithmetic: bit-reproducible,
    * no cluster involvement. Returns (coarse codebook, fine-cell -> coarse
    * parent). Ties break toward the lowest coarse id, matching cellStructs'
    * (negd, cell) struct ordering. */
  private[graft] def coarsen(
      cents: Seq[(Int, Seq[Double])],
      nCoarse: Int,
      iters: Int = 3
  ): (Seq[(Int, Seq[Double])], Map[Int, Int]) = {
    val fine = cents.sortBy(_._1)
    def normalized(c: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    def negCos(v: Seq[Double], cn: Seq[Double]): Double =
      -v.iterator.zip(cn.iterator).map { case (a, b) => a * b }.sum
    var coarse: Seq[(Int, Seq[Double])] =
      fine.take(nCoarse).zipWithIndex.map { case ((_, c), i) => (i, c) }
    def assign(cs: Seq[(Int, Seq[Double])]): Map[Int, Int] = {
      val coarseN = cs.map { case (ci, c) => (ci, normalized(c)) }
      fine.map { case (id, v) =>
        id -> coarseN.minBy { case (ci, cn) => (negCos(v, cn), ci) }._1
      }.toMap
    }
    for (_ <- 1 to iters) {
      val parent = assign(coarse)
      coarse = coarse.map { case (ci, c0) =>
        val members = fine.collect { case (id, v) if parent(id) == ci => v }
        if (members.isEmpty) (ci, c0)
        else (ci, members.transpose.map(xs => xs.sum / xs.size).toSeq)
      }
    }
    // FINAL assignment pass against the returned centroids: inside the loop
    // parent is computed against the iteration's INPUT centroids, which are
    // then re-estimated once more — returning that pair would file fine
    // cells under parents that are no longer nearest while queries rank
    // against the updated centroids (systematic recall loss at boundaries).
    val parent = assign(coarse)
    // Drop childless coarse cells (stale seeds parked at their initial
    // position): they own no fine cells, so letting them win top-wCoarse
    // ranking slots can only displace cells that DO carry candidates — in
    // the worst case a vector whose every ranked parent is childless would
    // silently drop out of the candidate join entirely.
    val used = parent.values.toSet
    (coarse.filter { case (ci, _) => used(ci) }, parent)
  }

  /** Candidate (vector, fine cell) pairs in the broadcast regime: a literal
    * argtop over the small coarse codebook selects each vector's `wCoarse`
    * nearest coarse cells (map-only, like the flat literal path), then an
    * equi-join against the BROADCAST fine-centroid table keyed by coarse
    * parent scores only the ~wCoarse·nCells/nCoarse fine centroids under
    * those parents — per-row work drops from O(nCells) dots to
    * O(nCoarse + wCoarse·nCells/nCoarse), and the plan carries nCoarse
    * literals instead of nCells. The corpus is never shuffled; the fine
    * table is the broadcast side. Like any multi-level IVF, cell membership
    * becomes approximate at coarse-cell boundaries — wCoarse trades that
    * recall against scan fraction (measured in AnnBench at 4096 cells).
    * Input: (vec_id, v); output: (vec_id, v, cell, negd). */
  private[graft] def broadcastCandidates(
      vdf: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      wCoarse: Int
  ): DataFrame = {
    val spark = vdf.sparkSession
    val nCoarse =
      math.max(1, math.min(LiteralCellCap, math.ceil(math.sqrt(cents.size.toDouble)).toInt))
    val (coarse, parent) = coarsen(cents, nCoarse)
    val fineRows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    cents.foreach { case (cell, c) =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      fineRows.add(org.apache.spark.sql.Row(parent(cell), cell, if (nrm == 0.0) c else c.map(_ / nrm)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("coarse_cell", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField(
        "cn",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val fineDf = spark.createDataFrame(fineRows, schema)
    vdf
      .select(
        col("vec_id"),
        col("v"),
        explode(nearest(col("v"), coarse, math.min(wCoarse, coarse.size))).as("cp"))
      .select(col("vec_id"), col("v"), col("cp.cell").as("coarse_cell"))
      .join(broadcast(fineDf), "coarse_cell")
      .select(col("vec_id"), col("v"), col("cell"), (-dot(col("v"), col("cn"))).as("negd"))
  }

  /** Nearest-cell assignment in the broadcast regime: min(struct(negd,cell))
    * over the candidate set — a map-side-combining partial aggregate, so the
    * shuffle is one row per vector per partition regardless of wCoarse.
    * Output matches the literal path: (vec_id, cell, v) (+negd). */
  private[graft] def assignBroadcast(
      vdf: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      wCoarse: Int = 4
  ): DataFrame = {
    // Aggregate NARROW, re-attach the vector by key join afterwards.
    // Carrying v (dim×8 B) through the per-vec_id aggregation forces
    // variable-length aggregation rows, which pushes the hash aggregate
    // into its sort-based fallback — 1 MB sorter pages across 32 concurrent
    // tasks measured OOMing an 8 GB heap at 2M vectors × 4096 cells. The
    // fixed-width min(struct) aggregate stays in the fast unsafe map, and
    // the one corpus-grain equi-join that restores v is far cheaper than
    // the payload-widened aggregate at every scale.
    val best = broadcastCandidates(vdf, cents, wCoarse)
      .groupBy("vec_id")
      .agg(min(struct(col("negd"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.negd").as("negd"))
    best
      .join(vdf, "vec_id")
      .select(col("vec_id"), col("cell"), col("v"), col("negd"))
  }

  /** Top-nProbe cells in the broadcast regime: rank the candidate set per
    * vector. row_number over (negd, cell) reproduces the literal path's
    * sort_array tie rule. The shuffle is candidate-grain (vec ·
    * wCoarse·nCells/nCoarse small structs) — acceptable for query sets and
    * for corpus-wide probe indexes at ingest; past that, raise nCoarse (or
    * add a third level) rather than wCoarse. */
  private def probeBroadcast(
      vdf: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      nProbe: Int,
      wCoarse: Int = 4
  ): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("negd").asc, col("cell").asc)
    broadcastCandidates(vdf, cents, wCoarse)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= nProbe)
      .select(col("vec_id"), col("v"), col("cell"))
  }

  /** Ascending-sorted cell ranking — element 1 is the nearest cell (ties
    * toward the lowest cell id), slice(.., 1, nProbe) the probe set. Only the
    * (small) query side pays the sort; corpus assignment uses array_min. */
  private[graft] def cellRanking(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    sort_array(cellStructs(v, cents))

  /** Exact top-k cosine neighbours for each query vector (vec_id < nQueries).
    * Output: (query_id, rank, neighbor_id) — scores are compared exactly
    * during ranking but not emitted (floating-point display stability). */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 50, k: Int = 10): DataFrame = {
    // norms hoisted per vector: the pair loop pays one dot instead of three
    // (values identical — norm is per-vector by nature)
    val corpus = emb.select(
      col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("v"),
      norm(asDouble(col("embedding"))).as("nrm"))
    val queries = emb
      .where(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("q"),
        norm(asDouble(col("embedding"))).as("qn"))
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (dot(col("q"), col("v")) / (col("qn") * col("nrm"))).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** IVF cell assignment: nearest codebook cell per vector as a map-only
    * projection over the literal codebook (ties toward the lowest cell id,
    * matching the previous max_by(d, -cell) semantics).
    * Returns (vec_id, cell, v). */
  def ivfAssign(
      emb: DataFrame,
      nCells: Int = 16,
      preCents: Option[Seq[(Int, Seq[Double])]] = None
  ): DataFrame = {
    val cents = preCents.getOrElse(ivfCentroids(emb, nCells))
    // fan out the cell-scoring pass (nCells cosines per vector over a
    // single-split parquet input; no-op at corpus scale)
    val vdf = Par.fanOut(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    if (cents.size <= LiteralCellCap)
      vdf.select(
        col("vec_id"),
        // argmin without materializing a sort: the w=1 native ranking is
        // the (max cosine, lowest cell) element
        element_at(nearest(col("v"), cents, 1), 1).getField("cell").as("cell"),
        col("v")
      )
    else assignBroadcast(vdf, cents).select("vec_id", "cell", "v")
  }

  /** IVF-probed ANN top-k: each query scans only its nProbe nearest cells.
    * Probe selection is a projection over the literal codebook; the probe
    * side (queries x nProbe rows) is BROADCAST against the assigned corpus,
    * so the corpus is never shuffled — each partition streams, scores only
    * the vectors whose cell some query probes, and the one wide op left is
    * the per-query top-k over the probed candidates.
    *
    * Pass `preAssigned` (the output of ivfAssign, typically persisted as the
    * index at ingest) to skip re-building the cell index — assignment costs
    * nCells cosines per corpus vector, which a per-query path must amortize
    * exactly like any real ANN index build. */
  def ivfTopK(
      emb: DataFrame,
      nQueries: Int = 50,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      preAssigned: Option[DataFrame] = None,
      preCents: Option[Seq[(Int, Seq[Double])]] = None
  ): DataFrame = {
    // the codebook is part of the persisted index: pass preCents at query
    // time or the Lloyd refinement pass (a full corpus scan) re-runs here
    val cents = preCents.getOrElse(ivfCentroids(emb, nCells))
    val assigned = preAssigned.getOrElse(ivfAssign(emb, nCells, Some(cents)))
    val qdf = emb
      .where(col("vec_id") < nQueries)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probes = (
      if (cents.size <= LiteralCellCap)
        qdf.select(
          col("vec_id"),
          col("v"),
          explode(nearest(col("v"), cents, nProbe)).as("p"))
          .select(col("vec_id"), col("v"), col("p.cell").as("cell"))
      else probeBroadcast(qdf, cents, nProbe)
    ).select(col("vec_id").as("query_id"), col("v").as("q"), col("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    assigned
      .withColumn("nrm", norm(col("v"))) // per index row, not per candidate
      .join(broadcast(probes.withColumn("qn", norm(col("q")))), "cell")
      .where(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        (dot(col("q"), col("v")) / (col("qn") * col("nrm"))).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Probe sets: each vector's nProbe nearest codebook cells — a map-only
    * projection (explode of a sliced sorted literal-codebook ranking), no
    * join, no window, no shuffle. */
  def probeAssign(
      emb: DataFrame,
      nCells: Int = 16,
      nProbe: Int = 4,
      preCents: Option[Seq[(Int, Seq[Double])]] = None
  ): DataFrame = {
    val cents = preCents.getOrElse(ivfCentroids(emb, nCells))
    val vdf = Par.fanOut(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    if (cents.size <= LiteralCellCap)
      vdf
        .select(col("vec_id"), explode(nearest(col("v"), cents, nProbe)).as("p"))
        .select(col("vec_id"), col("p.cell").as("cell"))
    else probeBroadcast(vdf, cents, nProbe).select("vec_id", "cell")
  }

  /** IVF-blocked embedding near-dup pairs — the scale path for corpus dedup.
    * Candidates are pairs sharing at least one probed cell (a cell-keyed
    * equi-join over probe assignments: each vector appears nProbe times,
    * never all-pairs, no nested-loop join); only candidates get the exact
    * cosine verification, and the vector table is semi-join-pruned to
    * candidate ids (broadcast) before the wide arrays are shuffled.
    * nProbe trades scan fraction for recall: 6/16 cells is measured
    * recall 1.0 on this corpus even at the loose 0.4 threshold (a real
    * near-dup threshold like 0.9 needs fewer probes). */
  def embeddingNearDupsIvf(
      emb: DataFrame,
      nQueries: Int = 200,
      threshold: Double = 0.4,
      nCells: Int = 16,
      nProbe: Int = 6,
      preProbes: Option[DataFrame] = None,
      preCents: Option[Seq[(Int, Seq[Double])]] = None
  ): DataFrame = {
    // preProbes: a persisted (vec_id, cell) probe index — without it the
    // probe projection (nCells dots + a sort per vector) evaluates once per
    // side of the candidate self-join
    val probes = preProbes.getOrElse(probeAssign(emb, nCells, nProbe, preCents))
    val qProbes = probes.where(col("vec_id") < nQueries).select(col("vec_id").as("doc_a"), col("cell"))
    val allProbes = probes.select(col("vec_id").as("doc_b"), col("cell"))
    val cand = qProbes
      .join(allProbes, "cell")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("vec_id"))
      .distinct()
    val vecs = emb
      .join(broadcast(candIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"))) // hoisted per vector, not per pair
    cand
      .join(vecs.select(col("vec_id").as("doc_a"), col("v").as("va"), col("nrm").as("na")), "doc_a")
      .join(vecs.select(col("vec_id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")), "doc_b")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("doc_a", "doc_b")
  }

  /** Incremental IVF embedding dedup — the batch-ingest twin of the LSH
    * incremental operators for the embedding modality. New vectors are
    * probe-assigned against the SAME persisted codebook (assignments are
    * deterministic, so batch boundaries don't change cell membership) and
    * joined one-sided against the persisted probe index: old x old pairs
    * are never re-derived, probe computation is proportional to the batch.
    * Equality with the full-run pair set restricted to pairs touching the
    * batch is corpus-conditional like every IVF recall claim (measured 1.0
    * at the driver parameters). Returns (pairs, batchProbes); union
    * batchProbes into the index for the next batch. */
  def embeddingNearDupsIvfIncremental(
      newEmb: DataFrame,
      allEmb: DataFrame,
      existingProbes: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      threshold: Double = 0.4,
      nProbe: Int = 6
  ): (DataFrame, DataFrame) = {
    // lazy local checkpoint — the batch probe subtree feeds both join sides
    val batchProbes = probeAssign(newEmb, cents.size, nProbe, Some(cents)).localCheckpoint(false)
    val cand = batchProbes
      .select(col("vec_id").as("id_x"), col("cell"))
      .join(
        existingProbes.unionByName(batchProbes).select(col("vec_id").as("id_y"), col("cell")),
        "cell")
      .where(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("doc_a"), greatest(col("id_x"), col("id_y")).as("doc_b"))
      .distinct()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("vec_id"))
      .distinct()
    val vecs = allEmb
      .join(broadcast(candIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"))) // hoisted per vector, not per pair
    val pairs = cand
      .join(vecs.select(col("vec_id").as("doc_a"), col("v").as("va"), col("nrm").as("na")), "doc_a")
      .join(vecs.select(col("vec_id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")), "doc_b")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("doc_a", "doc_b")
    (pairs, batchProbes)
  }

  /** Embedding-cosine near-duplicate pairs among a bounded probe set
    * (query_ids) vs the whole corpus — O(queries x corpus) broadcast NLJ,
    * kept as the exact baseline; embeddingNearDupsIvf is the scale path. */
  def embeddingNearDups(emb: DataFrame, nQueries: Int = 200, threshold: Double = 0.95): DataFrame = {
    val corpus = emb.select(
      col("vec_id").as("doc_b"),
      asDouble(col("embedding")).as("v"),
      norm(asDouble(col("embedding"))).as("nrm"))
    val queries = emb
      .where(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("doc_a"),
        asDouble(col("embedding")).as("q"),
        norm(asDouble(col("embedding"))).as("qn"))
    corpus
      .join(broadcast(queries), col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), (dot(col("q"), col("v")) / (col("qn") * col("nrm"))).as("score"))
      .where(col("score") >= threshold)
      .select("doc_a", "doc_b")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): assign every
    * vector to its nearest codebook cell (map-only argmin over the literal
    * codebook — no shuffle), find within-cell pairs above the cosine
    * threshold, and for each such pair DROP the member that sits closer to
    * the cell centroid — SemDeDup keeps the lowest-centroid-similarity
    * representative to preserve diversity. The keep/drop rule is the greedy
    * dominance variant (a vector is dropped iff some within-cell duplicate
    * partner has strictly lower (centroid-cosine, id)) — deterministic,
    * single-pass, no connected-components iteration; compose with
    * ConnectedComponents when exact duplicate GROUPS are needed.
    *
    * Output: (vec_id, cell, kept 1/0) for every input vector.
    *
    * Scale posture: the within-cell pair join keys on `cell`, so its
    * parallelism AND its quadratic cost are bounded by cell population —
    * nCells is the scale knob and must grow ~corpus/targetCellSize (the
    * codebook stays a driver artifact at any realistic cell count; 100k
    * cells x 64 dims is ~50 MB broadcast). Centroid-cosine priorities are
    * computed once per vector, not per pair. */
  def semanticDedup(
      emb: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      threshold: Double = 0.4
  ): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // lazy local checkpoint: the assignment feeds both sides of the
    // within-cell join plus the final keep/drop left join
    // norms are hoisted per VECTOR (the pair-join condition would otherwise
    // re-fold both 64-element self-dots per PAIR — O(pairs x dim) work that
    // is per-vector by nature); the cosine value is unchanged, so oracle
    // parity holds
    val assigned0 =
      if (cents.size <= LiteralCellCap) {
        val best = element_at(nearest(col("v"), cents, 1), 1)
        v.select(
          col("vec_id"),
          col("v"),
          norm(col("v")).as("nrm"),
          best.getField("cell").as("cell"),
          best.getField("negd").as("negd"))
      } else
        assignBroadcast(v, cents)
          .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"), col("cell"), col("negd"))
    val assigned = assigned0
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), (-col("negd") / col("nrm")).as("c2c"))
      .localCheckpoint(false)
    val a = assigned.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"), col("cell"), col("c2c").as("ca"))
    val b = assigned.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"), col("cell"), col("c2c").as("cb"))
    val dropped = a
      .join(b, "cell")
      .where(col("id_a") < col("id_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      // pair orientation has id_a < id_b, so the c2c tie resolves to
      // dropping the higher id — deterministic in both engines
      .select(when(col("ca") < col("cb") || col("ca") === col("cb"), col("id_b"))
        .otherwise(col("id_a"))
        .as("vec_id"))
      .distinct()
    assigned
      .join(dropped.withColumn("d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("d").isNull.cast("int").as("kept"))
  }

  // ---- SQ8: int8 scalar quantization ---------------------------------------

  /** Per-dimension symmetric SQ8 scale vector: s_d = max over the corpus of
    * |x_d|. This is the quantizer's entire model state — d numbers — so like
    * the IVF codebook it is a driver artifact embedded as a plan literal.
    *
    * Computed as posexplode → groupBy(pos) max: max is an algebraic
    * aggregate, so map-side partial aggregation collapses each input
    * partition to d rows before the shuffle — the exchange carries
    * O(partitions × dim), never O(corpus × dim), at any corpus size.
    * Reference seam: the embedding cache build in
    * knowledge_graph/classifier/embedding.py:173-240 (one corpus pass
    * producing a reusable inference artifact). */
  def sq8Scales(emb: DataFrame): Seq[Double] = {
    emb
      .select(posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(max(abs(col("x"))).as("s"))
      .orderBy("pos")
      .collect()
      .map(_.getDouble(1))
      .toSeq
  }

  /** Quantize a double vector to int8 range with round-half-up:
    * q_d = floor(x_d · 127 / s_d + 0.5), q_d ∈ [−127, 127]. A dead
    * dimension (s_d = 0 ⇒ x_d = 0 corpus-wide) quantizes to 0 explicitly so
    * the 0/0 never reaches the division. Every op is IEEE double
    * (mul, div, add, floor) — bit-identical in Spark codegen and DuckDB,
    * which the oracle relies on. Values are exact small integers, so all
    * downstream dot products are EXACT integer arithmetic (order-free:
    * no accumulation-order caveat at all). */
  def sq8Quantize(v: Column, scales: Seq[Double]): Column =
    zip_with(
      v,
      array(scales.map(lit(_)): _*),
      (x, s) => when(s === 0.0, lit(0L)).otherwise(floor(x * lit(127.0) / s + lit(0.5))))

  /** Exact long dot product of two quantized vectors — the native codegen
    * expression (order-free integer sum, value identical to the HOF form
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` it replaces; see
    * DotProductLongExpression for the measured 3.2× HOF penalty). |q| ≤
    * 127 so a term is ≤ 16129 and a 64-dim dot ≤ ~1.03e6 — twelve orders
    * of headroom under Long. */
  private def dotQ(a: Column, b: Column): Column =
    graft.extract.DotProductLongExpression.dotProductLong(a, b)

  /** Brute-force top-k cosine over the SQ8-quantized corpus — the memory
    * tier below the float index: the persisted artifact is 1 byte/dim
    * instead of 4 (plus one d-element scale vector), so a 100 TB float
    * corpus scans as 25 TB, and the hot loop is integer multiply-adds
    * (SIMD-friendly) instead of float ops. Ranking divides the exact
    * integer dot by the quantized norms once per pair; recall vs the exact
    * float ranking is measured in the spec and AnnBench (quantization is
    * the only error source — there is no candidate pruning here, and the
    * same quantized relation drops into the IVF probe path for the
    * pruned+compressed combination).
    *
    * Plan shape = [[bruteForceTopK]]: corpus side never shuffles (queries
    * broadcast), one window top-k per query. Output (query_id, rank,
    * neighbor_id). */
  def sq8TopK(
      emb: DataFrame,
      scales: Seq[Double],
      nQueries: Int = 50,
      k: Int = 10
  ): DataFrame = {
    val q8 = emb.select(
      col("vec_id"),
      sq8Quantize(asDouble(col("embedding")), scales).as("q"))
    // norms hoisted per vector (sqrt of the exact integer self-dot)
    val corpus = q8.select(
      col("vec_id").as("neighbor_id"),
      col("q").as("v"),
      sqrt(dotQ(col("q"), col("q")).cast("double")).as("nrm"))
    val queries = q8
      .where(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        col("q").as("qv"),
        sqrt(dotQ(col("q"), col("q")).cast("double")).as("qn"))
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        // an all-zero quantized vector has norm 0; pin its score below the
        // cosine range instead of letting 0/0 = NaN reach the sort (NaN
        // ordering differs subtly across engines)
        when(col("qn") * col("nrm") === 0.0, lit(-2.0))
          .otherwise(dotQ(col("qv"), col("v")).cast("double") / (col("qn") * col("nrm")))
          .as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  // ---- PQ: product quantization --------------------------------------------

  /** Product-quantization codebooks (Jégou et al., TPAMI'11): split the
    * (L2-normalized) vector into `m` contiguous subspaces and train an
    * independent `kCents`-centroid codebook per subspace — the code for a
    * vector is m small integers (m bytes at kCents ≤ 256), a 32× memory
    * reduction at dim=64/m=8 over float32, with reconstruction error far
    * below SQ8 at the same budget because centroids adapt to the data.
    *
    * Training mirrors [[ivfCentroids]]'s bit-reproducible recipe per
    * subspace, in ONE distributed pass over an exploded (vec_id, sub,
    * subvector) relation: deterministic seeding (centroid c of subspace s =
    * subvector s of vec_id c), one Lloyd step with assignment by exact L2
    * (min (l2, cent) struct — deterministic ties) and QUANTIZED-integer
    * means (floor(x·2^20 + 0.5) summed as longs — order-free, so the
    * refined codebook is partition-invariant and DuckDB-replicable).
    * Returns (sub, cent, centroid) — m·kCents rows, a driver artifact. */
  def pqCodebooks(emb: DataFrame, m: Int = 8, kCents: Int = 16): Seq[(Int, Int, Seq[Double])] = {
    val sub = pqSubvectors(emb, m)
    // seeds = the kCents SMALLEST distinct vec_ids of the INPUT (== vec_id
    // < kCents on a dense corpus, which is what the oracle replicates; on a
    // training SAMPLE the rank-based rule still yields kCents real seeds)
    val seedIds = sub
      .select(col("vec_id"))
      .distinct()
      .orderBy(col("vec_id"))
      .limit(kCents)
      .withColumn("cent", (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
    val seeds = sub
      .join(broadcast(seedIds), Seq("vec_id"))
      .select(col("s"), col("cent"), col("sv").as("cv"))
    val assigned = sub
      .join(broadcast(seeds), Seq("s"))
      .select(
        col("vec_id"),
        col("s"),
        col("sv"),
        struct(pqL2(col("sv"), col("cv")).as("l2"), col("cent").as("cent")).as("sc"))
      .groupBy("vec_id", "s")
      .agg(min(col("sc")).getField("cent").as("cent"), first(col("sv")).as("sv"))
    val sums = assigned
      .select(col("s"), col("cent"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("s", "cent", "pos")
      .agg(sum(floor(col("x") * lit(1048576.0) + lit(0.5))).as("q"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> ((r.getLong(3).toDouble / r.getLong(4)) / 1048576.0))
      .toMap
    val seedVecs = seeds.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val subDim = seedVecs.head._2.size
    (for {
      ((s, c), sv) <- seedVecs.toSeq
    } yield {
      val refined =
        if (sums.contains((s, c, 0))) (0 until subDim).map(p => sums((s, c, p)))
        else sv // empty cell keeps its seed, as in the IVF recipe
      (s, c, refined)
    }).sortBy(t => (t._1, t._2))
  }

  /** (vec_id, s, sv): the L2-normalized vector sliced into m contiguous
    * subspaces. Normalizing FIRST makes the PQ inner-product score rank by
    * cosine, matching the float baseline the recall is judged against;
    * x/||x|| is one IEEE division per element, oracle-portable. */
  private[graft] def pqSubvectors(emb: DataFrame, m: Int): DataFrame = {
    // norm hoisted per vector (one dot, not dim dots); value identical to
    // the inline form, so the oracle's per-element expression matches
    val v = Par
      .fanOut(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), asDouble(col("embedding")).as("e0"))
      .select(col("vec_id"), col("e0"), norm(col("e0")).as("nm"))
      .select(col("vec_id"), transform(col("e0"), x => x / col("nm")).as("e"))
    // loud guard (r5 ADVICE): integer division would silently drop the
    // trailing dim % m dimensions from every slice — codes and recall would
    // quietly degrade instead of failing
    val subDim = size(col("e")) / m
    val guarded = v.select(
      col("vec_id"),
      when(
        size(col("e")) % m === 0,
        col("e")
      ).otherwise(raise_error(concat(
        lit(s"pqSubvectors: embedding dim "), size(col("e")).cast("string"),
        lit(s" is not divisible by m=$m subspaces")))).as("e"))
    guarded.select(
      col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)), s => slice(col("e"), s * subDim + 1, subDim))))
      .select(col("vec_id"), col("pos").cast("int").as("s"), col("col").as("sv"))
  }

  /** Exact squared L2 between subvector and centroid, with the fixed
    * ((x·x − 2·x·c) + c·c) parenthesization both engines evaluate
    * identically. */
  private def pqL2(x: Column, c: Column): Column =
    dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c)

  /** Encode the corpus against trained PQ books: the CODE TABLE
    * (vec_id, s, cent) — the persisted 32×-compressed index artifact.
    * `SparkEntry` keeps it as a session artifact and passes it to
    * [[pqTopK]]/[[pqRerankTopK]] as `preCodes`; without `preCodes` they
    * encode the corpus themselves. */
  def pqEncode(emb: DataFrame, books: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val m = books.map(_._1).max + 1
    val sub = pqSubvectors(emb, m)
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = books.toDF("s", "cent", "cv")
    sub
      .join(broadcast(cents), Seq("s"))
      .select(
        col("vec_id"),
        col("s"),
        struct(pqL2(col("sv"), col("cv")).as("l2"), col("cent").as("cent")).as("sc"))
      .groupBy("vec_id", "s")
      .agg(min(col("sc")).getField("cent").as("cent"))
  }

  /** PQ-ADC top-k: take the CODE TABLE (vec_id, s, cent) — `preCodes`,
    * else the corpus encoded by [[pqEncode]]; m small ints per vector, the
    * persisted 32×-compressed index — then
    * score queries by asymmetric distance: per (query, subspace, centroid)
    * the partial inner product is computed ONCE against the codebook
    * (m·kCents dots per query, not per candidate), QUANTIZED to fixed
    * point (floor(pd·2^20 + 0.5) — the cross-subspace sum must be
    * order-free for oracle parity), broadcast, and each candidate's score
    * is the sum of its m looked-up partials. The corpus-side work per
    * candidate is m integer additions — no float ops, no full-vector
    * reads. Output (query_id, rank, neighbor_id), rank by (score desc,
    * neighbor_id). */
  def pqTopK(
      emb: DataFrame,
      books: Seq[(Int, Int, Seq[Double])],
      nQueries: Int = 50,
      k: Int = 10,
      preCodes: Option[DataFrame] = None
  ): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_q").desc, col("neighbor_id").asc)
    pqScores(emb, books, nQueries, preCodes)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** PQ-then-re-rank — the standard deployment shape for a coarse product
    * code (Jégou et al.'s ADC + verification): the 8-byte-code ADC scan
    * nominates a `shortlist`-sized candidate cohort per query (cheap,
    * integer-only, never touches float vectors), then ONLY the shortlist
    * joins back to the full vectors for exact cosine re-ranking — float
    * work is queries × shortlist instead of queries × corpus. Recovers
    * the within-cohort ranking the coarse code cannot express (the
    * measured resolution limit in BENCH/BASELINE.md); final ranking and
    * ties exactly as [[bruteForceTopK]]. */
  def pqRerankTopK(
      emb: DataFrame,
      books: Seq[(Int, Int, Seq[Double])],
      nQueries: Int = 50,
      k: Int = 10,
      shortlist: Int = 50,
      preCodes: Option[DataFrame] = None
  ): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("score_q").desc, col("neighbor_id").asc)
    val cand = pqScores(emb, books, nQueries, preCodes)
      .withColumn("adc_rank", row_number().over(wAdc))
      .where(col("adc_rank") <= shortlist)
      .select("query_id", "neighbor_id")
    val full = emb.select(
      col("vec_id"),
      asDouble(col("embedding")).as("v"),
      norm(asDouble(col("embedding"))).as("nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    cand
      .join(full.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn")), Seq("neighbor_id"))
      .join(
        broadcast(full.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))),
        Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** The raw ADC score relation (query_id, neighbor_id, score_q) shared by
    * [[pqTopK]] and [[pqRerankTopK]]. */
  private def pqScores(
      emb: DataFrame,
      books: Seq[(Int, Int, Seq[Double])],
      nQueries: Int,
      preCodes: Option[DataFrame]
  ): DataFrame = {
    val m = books.map(_._1).max + 1
    val sub = pqSubvectors(emb, m)
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = books.toDF("s", "cent", "cv")
    val codes = preCodes.getOrElse(pqEncode(emb, books))
    val qp = sub
      .where(col("vec_id") < nQueries)
      .join(broadcast(cents), Seq("s"))
      .select(
        col("vec_id").as("query_id"),
        col("s"),
        col("cent"),
        floor(dot(col("sv"), col("cv")) * lit(1048576.0) + lit(0.5)).as("pd"))
    codes
      .join(broadcast(qp), Seq("s", "cent"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pd")).as("score_q"))
  }

  /** IVF-pruned + SQ8-compressed top-k — the production combination: cell
    * pruning bounds the SCANNED fraction (nProbe/nCells) and quantization
    * bounds the BYTES per scanned row (1 per dim), so the two devices
    * multiply. The persisted index rows carry (cell, int8 vector); probe
    * selection stays float against the codebook (the model artifact — the
    * query side pays nCells·dim float ops once per query), candidate
    * scoring is exact long dots on the quantized vectors, ranking and ties
    * exactly as [[sq8TopK]]. Plan shape = [[ivfTopK]]: the corpus-side
    * index never shuffles, probes broadcast. */
  def sq8IvfTopK(
      emb: DataFrame,
      scales: Seq[Double],
      nQueries: Int = 50,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      preAssigned: Option[DataFrame] = None,
      preCents: Option[Seq[(Int, Seq[Double])]] = None
  ): DataFrame = {
    val cents = preCents.getOrElse(ivfCentroids(emb, nCells))
    val assigned0 = preAssigned.getOrElse(ivfAssign(emb, nCells, Some(cents)))
    // the index rows carry the QUANTIZED vector + its hoisted norm
    val assigned = assigned0.select(
      col("vec_id"),
      col("cell"),
      sq8Quantize(col("v"), scales).as("iv"))
      .select(col("vec_id"), col("cell"), col("iv"), sqrt(dotQ(col("iv"), col("iv")).cast("double")).as("nrm"))
    val qdf = emb
      .where(col("vec_id") < nQueries)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probes = (
      if (cents.size <= LiteralCellCap)
        qdf.select(
          col("vec_id"),
          col("v"),
          explode(nearest(col("v"), cents, nProbe)).as("p"))
          .select(col("vec_id"), col("v"), col("p.cell").as("cell"))
      else probeBroadcast(qdf, cents, nProbe)
    ).select(
      col("vec_id").as("query_id"),
      sq8Quantize(col("v"), scales).as("qv"),
      col("cell"))
      .select(col("query_id"), col("qv"), sqrt(dotQ(col("qv"), col("qv")).cast("double")).as("qn"), col("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    assigned
      .join(broadcast(probes), "cell")
      .where(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        when(col("qn") * col("nrm") === 0.0, lit(-2.0))
          .otherwise(dotQ(col("qv"), col("iv")).cast("double") / (col("qn") * col("nrm")))
          .as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }
}
