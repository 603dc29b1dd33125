package graft.kg

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, GraftCheckpointBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The round primitive of the engine's graph loops. Convergence loops run
  * to a fixpoint: connected components ([[ConnectedComponents]]), strongly
  * connected components ([[Scc]]: its trim, forward, backward and outer
  * loops), k-core ([[KCore]]) and k-truss ([[KTruss]]). Fixed-count loops
  * run a given number of rounds over a static edge cache: PageRank and PPR
  * ([[PageRank]]), HITS ([[Hits]]), label propagation ([[Communities]]),
  * the min-plus relaxation behind BFS and Bellman-Ford ([[ShortestPaths]],
  * [[Centrality]]) and Brandes betweenness.
  *
  *  - [[checkpoint]] truncates a round's plan to a LAZY local checkpoint
  *    at `MEMORY_AND_DISK_SER`. Plans do not grow with the round count,
  *    and the round's own convergence action (a count or a signature)
  *    materializes it in the same job: LocalRDDCheckpointData fills in any
  *    partition that action skipped before it truncates lineage. Under AQE
  *    the checkpoint's shuffle map stages still run when it is planned;
  *    only its last stage waits for the action. Serialized blocks hold a
  *    few byte buffers per partition, where the deserialized default holds
  *    two JVM objects per row: at 16M-row rounds those row objects made GC
  *    the dominant executor cost (PERF.md §7). The checkpoint is settled
  *    (`GraftCheckpointBridge.settled`): a round of one partition reports
  *    it, so the next round's keyed operators over it plan no exchange.
  *  - [[release]] frees a checkpoint through the RDD under its own
  *    `LogicalRDD` leaf. A loop releases a round once its successor has
  *    materialized and no lazy plan still reads it, so a call leaves no
  *    more cached rounds behind however many it ran (SCC, whose result
  *    reads its rounds lazily, releases them all once the result has
  *    materialized). Reading a released local checkpoint fails with
  *    "Checkpoint block … not found".
  *  - [[fixpoint]] runs a loop's rounds and raises at the cap: a relation
  *    short of its fixpoint is not the answer, so a capped run fails
  *    loudly instead of returning it. [[untilStable]] is the one-relation
  *    form of it, with the checkpoint, the measure and the release of each
  *    round.
  *  - [[withStaticEdges]] brackets a fixed-count loop. The edge list is
  *    hash-repartitioned on its join key and cached COLUMNAR (`persist`,
  *    not a checkpoint): the row cache behind a checkpoint at default
  *    storage holds two JVM objects per row, and at 32M directed edges the
  *    old-gen churn made GC >50% of executor time (1938 s of 3729 s in
  *    PageRank's materialization stage); the compressed columnar cache
  *    holds a few buffers per batch. It keeps its partitioning, so each
  *    round's join against it exchanges only the node-sized state, and a
  *    SHUFFLE_HASH hint on that side keeps the streamed edges unsorted.
  *    The cache is materialized once, the loop's result is materialized
  *    with [[materialize]], and only then is the cache freed: every
  *    result reads it lazily until then.
  *  - [[repeat]] runs a fixed number of rounds as one lazy plan: shuffle
  *    files are the rounds' natural checkpoint, and map-side partial
  *    aggregation absorbs a hub's fan-in (one row per upstream partition,
  *    not one per edge). A lazy plan that reads its state once per round
  *    (PageRank, label propagation) grows by a round's depth per round and
  *    is truncated every 8 rounds; one that reads it twice (the min-plus
  *    relaxation: union + join) doubles per round and is truncated every
  *    2. Its round checkpoints are read lazily until the result
  *    materializes and are unreachable after, so Spark's context cleaner
  *    frees them once the driver's garbage collector has collected them:
  *    a call leaves only its result cached.
  *
  * None of these sets a job group or a conf, so a caller's
  * `spark.jobGroup.id` and conf overrides hold for every round.
  */
object Rounds {

  /** A lazy local checkpoint at `MEMORY_AND_DISK_SER`, settled; the first
    * action over it materializes it. Nothing is cached when it is settled,
    * so it keeps its inherited size estimate. */
  def checkpoint(df: DataFrame): DataFrame =
    GraftCheckpointBridge.settled(df.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK_SER))

  /** [[checkpoint]], materialized now: for a loop's result, which no
    * round's action measures, so that the rounds and caches it was built
    * from can be released before it is returned. Settled after it has
    * materialized, its size estimate is bounded by its cached bytes. */
  def materialize(df: DataFrame): DataFrame =
    GraftCheckpointBridge.settled(df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER))

  /** Frees the cached blocks of a local checkpoint (`ck` as
    * `localCheckpoint` or `settled` returned it, not a plan over it). */
  def release(ck: DataFrame): Unit = ck.queryExecution.analyzed match {
    case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = false); ()
    case other            => throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
  }

  /** Runs `round` from `init` until `done` holds, at most `maxRounds`
    * rounds; raises with `capMessage` of the last state when the cap is
    * reached first. */
  def fixpoint[S](init: S, maxRounds: Int)(done: S => Boolean, capMessage: S => String)(round: S => S): S = {
    @tailrec def go(s: S, rounds: Int): S =
      if (done(s)) s
      else {
        require(rounds < maxRounds, capMessage(s))
        go(round(s), rounds + 1)
      }
    go(init, 0)
  }

  /** Applies `step` from `first` until `measure` repeats: each round is
    * checkpointed, measured (the job that materializes it) and its
    * predecessor released. Returns the last round; `capMessage` gets its
    * measure. */
  def untilStable[M](first: DataFrame, maxRounds: Int)(measure: DataFrame => M)(capMessage: M => String)(
      step: DataFrame => DataFrame): DataFrame = {
    val start = checkpoint(first)
    val (last, _, _) = fixpoint((start, measure(start), false), maxRounds)(_._3, s => capMessage(s._2)) {
      case (cur, m, _) =>
        val next = checkpoint(step(cur))
        val n = measure(next)
        release(cur)
        (next, n, n == m)
    }
    last
  }

  /** Applies `step` (given the state and the round number, from 1) `rounds`
    * times from `init` as one lazy plan, truncated with [[checkpoint]]
    * after every `every`-th round but the last. */
  def repeat(init: DataFrame, rounds: Int, every: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (cur, r) =>
      val next = step(cur, r)
      if (r % every == 0 && r < rounds) checkpoint(next) else next
    }

  /** Runs `body` over `edges` hash-repartitioned on `key` into `numParts`
    * partitions (0 = the session's shuffle partitions) and cached; returns
    * its result materialized, with the cache freed. */
  def withStaticEdges(edges: DataFrame, numParts: Int, key: String)(body: DataFrame => DataFrame): DataFrame = {
    val cache = staticEdges(edges, numParts, key)
    holding(cache)(body(cache))
  }

  /** [[withStaticEdges]] that also caches a relation `derived` from the
    * edge cache which every round reads (PageRank's node list); one count
    * of it materializes both. */
  def withStaticEdges(edges: DataFrame, numParts: Int, key: String, derived: DataFrame => DataFrame)(
      body: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val cache = staticEdges(edges, numParts, key)
    val also = derived(cache).persist(StorageLevel.MEMORY_AND_DISK)
    holding(cache, also)(body(cache, also))
  }

  private def staticEdges(edges: DataFrame, numParts: Int, key: String): DataFrame = {
    val n = if (numParts > 0) numParts else edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    edges.repartition(n, col(key)).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Materializes `caches` with one count of the last (which reads the
    * others), then `result`; frees the caches only after that. */
  private def holding(caches: DataFrame*)(result: => DataFrame): DataFrame = {
    caches.last.count()
    try materialize(result)
    finally caches.foreach(_.unpersist(blocking = false))
  }
}
