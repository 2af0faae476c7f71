package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution statistics of one measured block of driver code
  * ([[QueryMetrics.measure]]): wall time; Spark jobs, the stages that
  * ran (skipped stages excluded) and their tasks; executor run and
  * CPU time summed over tasks; shuffle read and write volume; bytes
  * spilled to disk; and the driver's own time, i.e. wall time minus
  * the union of the stages' submission-to-completion spans.
  */
final case class QueryMetrics(
    wallS: Double, jobs: Int, stages: Int, tasks: Long,
    executorRunS: Double, executorCpuS: Double,
    shuffleReadBytes: Long, shuffleReadRecords: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    spillBytes: Long, driverS: Double) {
  override def toString: String = {
    def mb(b: Long) = b / 1048576.0
    f"wall=$wallS%.3fs jobs=$jobs stages=$stages tasks=$tasks " +
      f"run=$executorRunS%.2fs cpu=$executorCpuS%.2fs " +
      f"shuffle_read=${mb(shuffleReadBytes)}%.2fMB/$shuffleReadRecords " +
      f"shuffle_write=${mb(shuffleWriteBytes)}%.2fMB/$shuffleWriteRecords " +
      f"spill=${mb(spillBytes)}%.2fMB driver=$driverS%.3fs"
  }
}

object QueryMetrics {
  private val Key = "graft.queryMetrics"
  private val ids = new AtomicLong()

  /** Run `body` and return its [[QueryMetrics]]. Only jobs submitted
    * under this call count: `body`'s thread carries a job-local
    * property, which Spark hands on to the broadcast, subquery and
    * stream threads it starts, so concurrent work of other threads
    * never leaks in. The counters are complete on return: listener
    * events arrive asynchronously, so after `body` a one-task fence
    * job runs, and the events of a listener queue are delivered in
    * order, so the fence's end proves every earlier event arrived.
    */
  def measure(spark: SparkSession)(body: => Any): QueryMetrics = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet().toString
    val rec = new Recorder(id)
    val prev = sc.getLocalProperty(Key)
    def tagged[A](tag: String)(f: => A): A = {
      sc.setLocalProperty(Key, tag)
      try f finally sc.setLocalProperty(Key, prev)
    }
    sc.addSparkListener(rec)
    try {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      tagged(id)(body)
      val wallS = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      tagged(rec.fenceTag)(sc.parallelize(Seq(0), 1).foreach(_ => ()))
      require(rec.fenced.await(60, TimeUnit.SECONDS),
        "QueryMetrics: listener events did not arrive within 60 s")
      rec.result(wallS, t0, t1)
    } finally sc.removeSparkListener(rec)
  }

  /** Listener of one measurement. Its callbacks run on the listener
    * queue's one thread; the fence latch publishes the fields to the
    * measuring thread. */
  private final class Recorder(id: String) extends SparkListener {
    val fenceTag = s"$id-fence"
    val fenced = new CountDownLatch(1)
    private var fenceJob = -1
    private val stageIds = mutable.Set.empty[Int]
    private val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    private var jobs, stages = 0
    private var tasks, runMs, cpuNs, spill = 0L
    private var readBytes, readRecords, writeBytes, writeRecords = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(Key)).orNull match {
        case `id` => jobs += 1; stageIds ++= e.stageIds
        case `fenceTag` => fenceJob = e.jobId
        case _ =>
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == fenceJob) fenced.countDown()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageIds(i.stageId)) {
        stages += 1
        for (s <- i.submissionTime; c <- i.completionTime) spans += ((s, c))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        spill += m.diskBytesSpilled
        readBytes += m.shuffleReadMetrics.totalBytesRead
        readRecords += m.shuffleReadMetrics.recordsRead
        writeBytes += m.shuffleWriteMetrics.bytesWritten
        writeRecords += m.shuffleWriteMetrics.recordsWritten
      }

    /** Metrics of the window [t0, t1] (epoch ms). */
    def result(wallS: Double, t0: Long, t1: Long): QueryMetrics = {
      val clipped = spans.toSeq.map { case (s, c) => (math.max(s, t0), math.min(c, t1)) }
        .filter { case (s, c) => c > s }.sortBy(_._1)
      val busyMs = clipped.foldLeft((0L, Long.MinValue)) { case ((total, reach), (s, c)) =>
        if (c <= reach) (total, reach) else (total + c - math.max(s, reach), c)
      }._1
      QueryMetrics(wallS, jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9,
        readBytes, readRecords, writeBytes, writeRecords, spill,
        math.max(0.0, wallS - busyMs / 1e3))
    }
  }
}
