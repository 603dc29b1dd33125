package graft.kg

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The round primitive of the engine's convergence loops: connected
  * components ([[ConnectedComponents]]), strongly connected components
  * ([[Scc]]: its trim, forward, backward and outer loops), k-core
  * ([[KCore]]) and k-truss ([[KTruss]]).
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
  *    the dominant executor cost (PERF.md §7).
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
  *
  * None of these sets a job group or a conf, so a caller's
  * `spark.jobGroup.id` and conf overrides hold for every round.
  */
object Rounds {

  /** A lazy local checkpoint at `MEMORY_AND_DISK_SER`; the first action
    * over it materializes it. */
  def checkpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK_SER)

  /** [[checkpoint]], materialized now: for a loop's result, which no
    * round's action measures, so that the rounds it was built from can be
    * released before it is returned. */
  def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Frees the cached blocks of a local checkpoint (`ck` as
    * `localCheckpoint` returned it, not a plan over it). */
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
}
