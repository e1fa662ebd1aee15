package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.catalog.Lake
import org.apache.spark.graftjobs.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark job budgets at sf0.001. On a small lake every job costs a
  * scheduling floor that dwarfs its work, so the job count is the cost
  * model of the catalog surface and of the iterative operators — and
  * unlike wall clock it does not move with machine noise. */
class JobBudgetSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  /** Jobs started by `body`. The bus is drained before the listener is
    * attached (no earlier event is counted) and again before the count
    * is read (no late job start is missed). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      BusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs of one query run through the noop sink, as Bench runs it,
    * with every cache cleared afterwards so no run is served from an
    * earlier one. */
  private def queryJobs(name: String): Int = {
    val n = jobsOf {
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    n
  }

  test("a non-forced registerViews over unchanged files runs no job") {
    lake.registerViews()
    assert(jobsOf(lake.registerViews()) == 0)
  }

  test("analysing a derived xref view through spark.sql runs no job") {
    lake.registerViews()
    assert(jobsOf(spark.sql("SELECT * FROM xref.unified_entities").schema) == 0)
  }

  // Budgets are the counts measured at sf0.001 on local[4] with 4
  // shuffle partitions (TestSpark) when the probe mains were retired:
  // dedup08's star-CC loop 33 jobs, dedup03's co-occurrence count 9.
  // The first run also warms the schema cache and is not counted; the
  // next three must repeat exactly and stay in budget.
  for ((name, budget) <- Seq(
    "dedup08_cluster_resolve" -> 33,
    "dedup03_ngram_jaccard" -> 9
  )) test(s"$name stays within $budget jobs, the same count every run") {
    queryJobs(name)
    val counts = Seq.fill(3)(queryJobs(name))
    assert(counts.distinct.size == 1, s"job count moved between runs: $counts")
    assert(counts.head <= budget, s"$name ran ${counts.head} jobs > $budget")
  }
}
