package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** Queries from several threads on one session: each returns the rows of a
  * serial run, and none writes the session conf. */
class ConcurrentQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val mix = Seq("kg_scc", "kg_condensation", "dedup_cluster", "kg_hits", "sim_topk_pq")

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, TestSpark.sf0001).collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  test("four threads running the query mix in different orders after the warm match a serial run") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(TestSpark.sf0001, "documents.parquet")), "sf0.001 not present")
    val before = spark.conf.getAll
    SparkEntry.warmSharedCaches(spark, TestSpark.sf0001)
    val serial = mix.map(q => q -> rows(q)).toMap
    val pool = Executors.newFixedThreadPool(4)
    val runs =
      try {
        val futures = (0 until 4).map { t =>
          val order = mix.drop(t) ++ mix.take(t)
          pool.submit(new Callable[Seq[(String, Seq[String])]] { def call() = order.map(q => q -> rows(q)) })
        }
        futures.map(_.get(10, TimeUnit.MINUTES)) // rethrows what a thread threw
      } finally pool.shutdownNow()
    for ((run, t) <- runs.zipWithIndex; (q, got) <- run)
      assert(got == serial(q), s"thread $t: $q differs from the serial run")
    val after = spark.conf.getAll
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.isEmpty, s"the session conf changed: ${changed.map(k => k -> (before.get(k), after.get(k)))}")
  }
}
