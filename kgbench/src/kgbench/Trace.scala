package kgbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Span recorder for the traced run.
  *
  * `span(name)(f)` times `f` and tags every Spark job `f` starts with a job
  * group naming the span, so the listener can charge jobs, tasks, shuffle
  * bytes, spill, peak execution memory, GC time and task intervals to the
  * innermost open span. Spans nest: each records its parent. Everything is
  * kept in memory and written out once, at the end of the run.
  *
  * A disabled trace registers no listener and sets no job group, so the
  * untraced run pays nothing for it.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val cores = sc.defaultParallelism

  private var attached = false
  attach()

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1))
      spans += s
      byGroup.put(groupOf(s), s)
      stack = s :: stack
      sc.setJobGroup(groupOf(s), name)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  private val byJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).flatMap(g => Option(byGroup.get(g))).foreach {
      s =>
        // the final stage is named after the call site that started the job
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        val j = new Job(e.jobId, site, e.time)
        byJob.put(e.jobId, j)
        s.synchronized {
          s.jobs += 1
          s.jobList += j
        }
        e.stageIds.foreach(byStage.put(_, s))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        s.taskIv += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = s.peakMem.max(m.peakExecutionMemory)
          s.gcMs += m.jvmGCTime
          s.runMs += m.executorRunTime
        }
      }
    }

  /** Waits for the listener bus, so every counter read after it is complete. */
  def settle(): Unit = if (attached) BenchBus.drain(sc)

  /** Stops recording (spans still time their bodies). */
  def detach(): Unit = if (attached) {
    settle()
    sc.removeSparkListener(this)
    attached = false
  }

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(this)
    attached = true
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counters of `s` and every span below it. */
  def totals(s: Span): Totals = {
    val t = subtree(s)
    val iv = t.flatMap(_.taskIv).map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }.filter { case (a, b) => b > a }
    val wallMs = (s.endMs - s.startMs).max(1L)
    Totals(
      seconds = s.seconds,
      selfSeconds = s.seconds - covered(children(s).map(c => (c.startMs, c.endMs))) / 1e3,
      jobs = t.map(_.jobs).sum,
      tasks = t.map(_.tasks).sum,
      shuffleWriteBytes = t.map(_.shuffleWrite).sum,
      spillBytes = t.map(_.spill).sum,
      peakExecMemBytes = if (t.isEmpty) 0L else t.map(_.peakMem).max,
      gcSeconds = t.map(_.gcMs).sum / 1e3,
      driverGapSeconds = (wallMs - covered(iv)).max(0L) / 1e3,
      executorBusyShare = t.map(_.runMs).sum.toDouble / (wallMs * cores)
    )
  }

  /** Sums the counters of several spans (a layer measured over repeats). */
  def totals(ss: Seq[Span]): Totals = ss.map(totals).foldLeft(Totals.zero)(_ + _)

  def writeJson(path: String): Unit = {
    settle()
    val rows = spans.map { s =>
      val t = totals(s)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"seconds":${t.seconds},"self_s":${t.selfSeconds},"jobs":${t.jobs},""" +
        s""""tasks":${t.tasks},"shuffle_write_bytes":${t.shuffleWriteBytes},"spill_bytes":${t.spillBytes},""" +
        s""""peak_exec_mem_bytes":${t.peakExecMemBytes},"gc_s":${t.gcSeconds},"driver_gap_s":${t.driverGapSeconds},""" +
        s.jobList
          .map(j => s"""{"job":${j.id},"s":${(j.endMs - j.startMs) / 1e3},"site":${Json.str(j.site)}}""")
          .mkString("\"own_jobs\":[", ",", "]}")
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(rows.mkString("[\n", ",\n", "\n]"))
    finally w.close()
  }
}

object Trace {
  /** One Spark job: its id, the user call site that started it, and its wall. */
  final class Job(val id: Int, val site: String, val startMs: Long) {
    @volatile var endMs = startMs
  }

  final class Span(val id: Int, val name: String, val parent: Int) {
    @volatile var startMs, endMs, startNs, endNs = 0L
    var jobs, tasks = 0
    var shuffleWrite, spill, peakMem, gcMs, runMs = 0L
    val taskIv = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobList = mutable.ArrayBuffer.empty[Job]
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Totals(
      seconds: Double,
      selfSeconds: Double,
      jobs: Int,
      tasks: Int,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      peakExecMemBytes: Long,
      gcSeconds: Double,
      driverGapSeconds: Double,
      executorBusyShare: Double
  ) {
    def +(o: Totals): Totals = Totals(
      seconds + o.seconds,
      selfSeconds + o.selfSeconds,
      jobs + o.jobs,
      tasks + o.tasks,
      shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes,
      peakExecMemBytes.max(o.peakExecMemBytes),
      gcSeconds + o.gcSeconds,
      driverGapSeconds + o.driverGapSeconds,
      // busy share of the summed wall: weight each part by its seconds
      if (seconds + o.seconds <= 0) 0.0
      else (executorBusyShare * seconds + o.executorBusyShare * o.seconds) / (seconds + o.seconds)
    )
  }
  object Totals { val zero = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

  private def groupOf(s: Span) = s"kgbench-span-${s.id}"

  /** Milliseconds covered by the union of `[start, end)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = curE.max(b)
    }
    if (open) total += curE - curS
    total
  }
}
