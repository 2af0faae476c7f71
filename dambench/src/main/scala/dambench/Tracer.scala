package dambench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The traced run's instruments, all in the benchmark: spans around
  * each call into a layer, a `SparkListener` for engine counters and a
  * `StreamingQueryListener` for micro-batch progress. Recording happens
  * only while `enabled`, so one run can pair traced and untraced work.
  *
  * Spans go to a JSON-lines file (name, layer, start, end, parent and
  * the shared operation id). Spark jobs are tied to the innermost open
  * span and to the operation through job-local properties, and stream
  * jobs to their micro-batch through the property Spark sets on them.
  */
object Tracer {
  final case class Span(id: Long, parent: Long, op: String, name: String, layer: String,
                        start: Double, end: Double)
  final case class Job(id: Int, span: Long, op: String, batch: Long, stages: Seq[Int],
                       var start: Double, var end: Double = Double.NaN)
  final class StageAcc {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
    var start = Double.NaN; var end = Double.NaN
  }
}

final class Tracer(spark: SparkSession, file: String) {
  import Tracer._
  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val currentOp = new ThreadLocal[String]

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val SpanKey = "dambench.span"
  private val OpKey = "dambench.op"
  private val BatchKey = "streaming.sql.batchId"

  /** Run `f` as operation `id`: spans and jobs inside carry the id. */
  def op[A](id: String)(f: => A): A = {
    val prevOp = currentOp.get()
    currentOp.set(id)
    sc.setLocalProperty(OpKey, if (enabled) id else null)
    try span(id, "op")(f)
    finally { currentOp.set(prevOp); sc.setLocalProperty(OpKey, if (enabled) prevOp else null) }
  }

  /** Run `f` as a span of `layer`; recorded only while enabled. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = open.get()
      open.set(id :: parents)
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val start = Stats.nowMs()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), currentOp.get(), name, layer,
          start, Stats.nowMs()))
        open.set(parents)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val j = Job(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(0L), prop(OpKey).orNull,
          prop(BatchKey).map(_.toLong).getOrElse(-1L), e.stageIds, Stats.nowMs())
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = Stats.nowMs())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageJob.containsKey(e.stageInfo.stageId))
        stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAcc).start = Stats.nowMs()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(_.end = Stats.nowMs())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
        }
      }
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(engine)
  spark.streams.addListener(stream)

  /** Forget everything recorded so far: the warm-up. */
  def mark(): Unit = {
    spans.clear(); jobs.clear(); stageJob.clear(); stages.clear(); progress.clear()
  }

  // ---- per-layer metrics -------------------------------------------

  private def jobsWhere(p: Job => Boolean): Seq[Job] = jobs.values.asScala.filter(p).toSeq
  private def accs(js: Seq[Job]): Seq[StageAcc] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))

  /** Engine counters of all recorded jobs, each divided by `perOp`,
    * and the Spark driver's own time: the length of `windows` (by
    * default the recorded operations' spans) minus the union of the
    * stages' spans within them. */
  def engineMetrics(r: Result, perOp: Double,
                    windows: Seq[(Double, Double)] = Seq.empty): Unit = {
    val js = jobsWhere(_ => true)
    val as = accs(js)
    def sum(f: StageAcc => Long) = as.map(f).sum.toDouble / perOp
    r.metric("engine.executor_cpu_s", sum(_.cpuNs) / 1e9, "s")
    r.metric("engine.executor_run_s", sum(_.runMs) / 1e3, "s")
    r.metric("engine.gc_s", sum(_.gcMs) / 1e3, "s")
    r.metric("engine.shuffle_mb", sum(_.shuffleBytes) / 1048576.0, "MB")
    r.metric("engine.spill_mb", sum(_.spillBytes) / 1048576.0, "MB")
    r.metric("engine.jobs", js.size / perOp, "count")
    r.metric("engine.tasks", sum(_.tasks), "count")
    val ws = if (windows.nonEmpty) windows
      else spans.asScala.filter(_.layer == "op").map(s => (s.start, s.end)).toSeq
    val busy = union(as.filter(a => !a.start.isNaN && !a.end.isNaN).map(a => (a.start, a.end)), ws)
    r.metric("engine.driver_s", (ws.map(w => w._2 - w._1).sum - busy) / 1e3 / perOp, "s")
  }

  /** Length of the union of intervals, clipped to the `within` ones. */
  private def union(xs: Seq[(Double, Double)], within: Seq[(Double, Double)]): Double = {
    val clipped =
      for ((s, e) <- xs; (ws, we) <- within if e > ws && s < we)
        yield (math.max(s, ws), math.min(e, we))
    clipped.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((total, reach), (s, e)) =>
        if (e <= reach) (total, reach)
        else (total + e - math.max(s, reach), e)
    }._1
  }

  /** Per-row time, jobs and tasks per run of each curation row. */
  def rowMetrics(r: Result, rows: Seq[String]): Unit = rows.foreach { row =>
    val ss = spans.asScala.filter(_.name == s"curation.$row").toSeq
    val ids = ss.map(_.id).toSet
    val js = jobsWhere(j => ids(j.span))
    val runs = math.max(1, ss.size).toDouble
    r.metric(s"curation.${row}_ms", Stats.median(ss.map(s => s.end - s.start)), "ms")
    r.metric(s"curation.${row}_jobs", js.size / runs, "count")
    r.metric(s"curation.${row}_tasks", accs(js).map(_.tasks).sum / runs, "count")
  }

  /** Micro-batch phase times, sizes and state of the recorded data
    * batches, with Spark jobs and tasks per batch. */
  def streamMetrics(r: Result): Seq[StreamingQueryProgress] = {
    val bs = progress.asScala.toSeq.filter(_.numInputRows > 0)
    def phase(k: String) = Stats.median(bs.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    r.metric("streaming.trigger_ms_p50", phase("triggerExecution"), "ms")
    r.metric("streaming.latest_offset_ms_p50", phase("latestOffset"), "ms")
    r.metric("streaming.planning_ms_p50", phase("queryPlanning"), "ms")
    r.metric("streaming.add_batch_ms_p50", phase("addBatch"), "ms")
    r.metric("streaming.wal_commit_ms_p50", phase("walCommit"), "ms")
    r.metric("streaming.commit_offsets_ms_p50", phase("commitOffsets"), "ms")
    r.metric("streaming.state_commit_ms_p50",
      Stats.median(bs.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
    r.metric("streaming.rows_per_batch_p50", Stats.median(bs.map(_.numInputRows.toDouble)), "count")
    val ids = bs.map(_.batchId).toSet
    val js = jobsWhere(j => ids(j.batch))
    val n = math.max(1, bs.size).toDouble
    r.metric("streaming.jobs_per_batch", js.size / n, "count")
    r.metric("streaming.tasks_per_batch", accs(js).map(_.tasks).sum / n, "count")
    val ops = bs.flatMap(_.stateOperators)
    r.metric("streaming.state_rows_max", ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
    r.metric("streaming.state_mem_mb_max",
      ops.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0), "MB")
    r.metric("streaming.dedup_dropped", ops.map(o => o.numRowsDroppedByWatermark +
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      .toDouble, "count")
    r.note("traced_batches", bs.size)
    bs
  }

  /** Jobs, shuffle and scan volume per analyst operation; files read
    * come from the scans' SQL metrics. */
  def opMetrics(r: Result, prefix: String): Unit = {
    val js = jobsWhere(j => j.op != null && j.op.startsWith(prefix))
    val n = math.max(1, js.map(_.op).distinct.size).toDouble
    r.metric("operators.jobs_per_refresh", js.size / n, "count")
    r.metric("operators.shuffle_mb_per_refresh",
      accs(js).map(_.shuffleBytes).sum / 1048576.0 / n, "MB")
    r.metric("sources.input_mb_per_refresh", accs(js).map(_.inputBytes).sum / 1048576.0 / n, "MB")
    val jobIds = js.map(_.id).toSet
    val store = spark.sharedState.statusStore
    val files = store.executionsList().filter(_.jobs.keys.exists(jobIds)).map { ex =>
      val values = store.executionMetrics(ex.executionId)
      ex.metrics.filter(_.name == "number of files read")
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => scala.util.Try(v.replaceAll("[^0-9]", "").toLong).getOrElse(0L)).sum
    }.sum
    r.metric("sources.files_scanned_per_refresh", files / n, "count")
  }

  /** Tracing overhead: the traced work's end-to-end figure against the
    * untraced figure of the same run, in percent. */
  def overheadMetric(r: Result, traced: Double, untraced: Double): Unit =
    r.metric("trace.overhead_pct", (traced / untraced - 1) * 100, "%")

  /** Self time per layer and operation: each span's time minus its
    * child spans'. */
  def selfTimes(r: Result): Unit = {
    val all = spans.asScala.toSeq
    val perOp = math.max(1, all.count(_.layer == "op")).toDouble
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    all.groupBy(_.layer).foreach { case (layer, ss) =>
      val self = ss.map(s => s.end - s.start - childTime.getOrElse(s.id, 0.0)).sum
      r.metric(s"self.${layer}_ms", self / perOp, "ms")
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(engine)
    spark.streams.removeListener(stream)
    val out = new PrintWriter(file, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${
        Option(s.op).fold("null")(o => "\"" + o + "\"")}, "name": "${s.name}", """ +
        s""""layer": "${s.layer}", "start_ms": ${s.start}, "end_ms": ${s.end}}""")
    } finally out.close()
  }
}
