package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** [[QueryMetrics.measure]] over a fixed plan: a 4-partition range
  * aggregated through one shuffle and written to the noop sink. */
class QueryMetricsSpec extends SparkSpecBase {

  private def run(): QueryMetrics = QueryMetrics.measure(spark) {
    spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()
      .write.format("noop").mode("overwrite").save()
  }

  test("QueryMetrics: counters are complete on return and do not leak between measurements") {
    val a = run()
    val b = run()
    assert(a.jobs >= 1, a)
    assert(a.tasks >= 4, a)
    assert(a.shuffleReadBytes > 0 && a.shuffleWriteBytes > 0, a)
    assert(a.shuffleWriteRecords > 0, a)
    assert(a.wallS > 0 && a.driverS >= 0 && a.driverS <= a.wallS, a)
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks),
      s"back-to-back measurements differ: $a vs $b")
    // a listener that lags behind on the same queue holds the task
    // events back past the end of the body; the counts must not drop
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val c = try run() finally spark.sparkContext.removeSparkListener(slow)
    assert((a.jobs, a.stages, a.tasks) == (c.jobs, c.stages, c.tasks),
      s"counts read before the listener events arrived: $a vs $c")
  }
}
