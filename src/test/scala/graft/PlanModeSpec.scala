package graft

import graft.tools.ListenerDrain
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `PlanMode.planOnly` is a scope, not a global switch: building a query
  * whose operators materialize eagerly (q143 reads `exactClassAgg`) runs
  * no job inside the scope and runs its eager counts outside it.
  */
class PlanModeSpec extends SparkSpec {

  /** Jobs started on this thread while `body` builds a query. The job
    * group keeps other suites' concurrent jobs out of the count. */
  private def jobsWhile(body: => Unit): Int = {
    val group = s"plan-mode-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "PlanModeSpec")
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      ListenerDrain.await(jobs.get)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  test("building q143 runs no job inside planOnly and at least one outside") {
    // loading a table infers its parquet schema with a job, once per
    // table per session; that is not the query build under test
    Tables.names.foreach(Tables.load(spark, sf, _))
    val q143 = SparkEntry.queries("q143_split_leakage")
    assert(jobsWhile(PlanMode.planOnly(q143(spark, sf).queryExecution.executedPlan)) == 0)
    assert(jobsWhile(q143(spark, sf).queryExecution.executedPlan) >= 1)
  }
}
