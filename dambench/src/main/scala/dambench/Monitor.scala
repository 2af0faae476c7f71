package dambench

import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dashboard, Detect}

/** `monitor_live`: the deployment's open loop. The stream first
  * catches up on a history backlog in one micro-batch, which pre-loads
  * the sinks. Then a generator thread renames small pre-built spool
  * files into the watched directory on a seeded schedule while the
  * stream runs with `triggerMs = 0` (pick-up never phase-locks with the
  * arrival clock), the blocks sink on and the firewall rules re-read
  * every batch.
  * Beside it one closed-loop analyst refreshes the dashboard over the
  * live sinks.
  */
object Monitor {
  /** The reference agent's cadence: each poll posts at most 50
    * `general_log` rows (`LIMIT 50`), then sleeps 3 s. An agent here
    * posts one full file per poll, each gap 3 s plus a seeded 0-300 ms
    * for the poll's own work, from a seeded phase. */
  val FileEvents = 50
  val PollMs = 3000.0
  val PollWorkMs = 300.0
  /** One agent per monitored database. 36 agents put about 114 files
    * into a 10 s window, so the latency p90 has ten samples beyond it;
    * one agent would put in three or four. */
  val Agents = 36
  val HistoryEvents = 10000
  /** Live feed before the window. The analyst refreshes through it,
    * at least once, so the measured refreshes do not pay the dashboard
    * queries' first planning and code generation. */
  val WarmupS = 4.0
  /** Feed pre-built beyond warm-up and window: a slow warm-up refresh
    * and the analyst's last refresh run past their nominal ends, and
    * the feed runs until the analyst stops. */
  val SpareS = 30.0

  private val ActivityCols = Seq("activity_id", "user_id", "username", "role",
    "operation_type", "table_name", "operation_status", "operation_details",
    "ip_address", "access_timestamp", "rows_affected", "query_hash")

  /** The timed parts of a refresh: listing the live sinks and building
    * the facades, then the eight dashboard queries. */
  val Listing = "sources.listing"
  val QueryCount = 9

  /** A timed dashboard query: its name, start and end (ms). */
  final case class Frame(name: String, start: Double, end: Double, traced: Boolean = false)

  /** The dashboard over a fresh listing of the live sinks: snapshot,
    * charts and the alert feed, in refresh order. */
  def queries(ctx: Ctx, rig: IngestRig): Seq[(String, DataFrame)] = {
    val spark = ctx.spark
    val activity = spark.read.parquet(rig.logsDir).select(ActivityCols.map(col): _*)
    val blacklist = Detect.ipBlacklist(spark)
    val snap = Dashboard.snapshot(activity, blacklist)
    val charts = Dashboard.charts(activity, blacklist)
    Seq(
      "operators.snapshot.stats" -> snap.stats,
      "operators.snapshot.latest" -> snap.latest,
      "operators.snapshot.alerts" -> snap.alerts,
      "operators.snapshot.threats" -> snap.recentThreats,
      "operators.charts.timeline" -> charts.timeline,
      "operators.charts.severity" -> charts.severityHistogram,
      "operators.charts.ops" -> charts.opsDistribution,
      "operators.alert_feed" -> spark.read.parquet(rig.alertsDir)
        .select(col("activity_id"), col("alert_type"), col("severity"), col("created_at"))
        .orderBy(col("created_at").desc, col("activity_id").desc).limit(50))
  }

  /** One dashboard refresh, every part collected and timed, while
    * `more()` holds before each part. Returns the number of parts run. */
  def refresh(ctx: Ctx, rig: IngestRig, log: Frame => Unit, more: () => Boolean): Int = {
    def timed[A](name: String, layer: String)(f: => A): A = {
      val s = Stats.nowMs()
      val a = ctx.tracer.fold(f)(_.span(name, layer)(f))
      log(Frame(name, s, Stats.nowMs(), ctx.tracer.exists(_.enabled)))
      a
    }
    if (!more()) 0
    else {
      val qs = timed(Listing, "sources")(queries(ctx, rig))
      1 + qs.iterator.takeWhile(_ => more()).map { case (name, df) =>
        timed(name, "operators")(df.collect()); 1
      }.sum
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    val rng = new scala.util.Random(ctx.seed)
    // a traced run measures twice as long, with every other refresh
    // (and the engine and stream events during it) traced
    val windows = if (ctx.tracer.isDefined) 2 else 1
    val polls = math.ceil((WarmupS + ctx.seconds * windows + SpareS) * 1000 / PollMs).toInt + 2
    val liveEvents = Agents * polls * FileEvents
    // set-up: stage the history and live spool files and write the
    // rule table the stream re-reads every batch. The live feed is the
    // history's time-shifted copy, so its events come after it.
    val ((rig, history, live), setupS) = ctx.setup { dir =>
      val feed = Spool.events(spark, ctx.dataDir, math.max(HistoryEvents, liveEvents))
      val history = Spool.write(feed.take(HistoryEvents), HistoryEvents, s"$dir/history", "h")
      val live = Spool.write(feed.take(liveEvents).map(_.shifted(1)), FileEvents,
        s"$dir/live", "l")
      val rig = new IngestRig(spark, s"$dir/ingest")
      rig.writeRules()
      (rig, history, live)
    }
    r.metric("setup_s", setupS, "s")
    // the deployment starts and catches up on the history in its first
    // micro-batch; the live feed begins once that batch has committed
    history.foreach(Spool.publish(_, rig.spool))
    val (q, preloadS) = Stats.timed {
      val q = rig.start()
      while (Option(q.lastProgress).forall(_.numInputRows == 0)) Thread.sleep(10)
      q
    }
    r.note("history_preload_s", f"$preloadS%.3f")

    // the open-loop generator: every agent's polls fall due on its own
    // seeded schedule; the merged schedule takes the spool files in
    // feed order, and each is renamed into the watched directory when
    // due, until the analyst stops
    val t0 = Stats.nowMs() + 200.0
    val wallOffset = System.currentTimeMillis() - Stats.nowMs()
    val due = (0 until Agents).flatMap { _ =>
      (1 until polls).scanLeft(t0 + PollMs * rng.nextDouble())(
        (t, _) => t + PollMs + PollWorkMs * rng.nextDouble())
    }.sorted.take(live.size)
    val published = new Array[Double](live.size)
    @volatile var stopAt = Double.PositiveInfinity
    @volatile var fedN = 0
    val generator = new Thread(() => {
      var i = 0
      while (i < live.size && due(i) < stopAt) {
        val wait = due(i) - Stats.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (due(i) < stopAt) {
          Spool.publish(live(i), rig.spool)
          published(i) = Stats.nowMs()
          i += 1
        }
      }
      fedN = i
    }, "dambench-generator")
    generator.start()

    // the closed-loop analyst: warm-up refreshes until WarmupS of live
    // feed have passed, then the window(s). Past the window's end it
    // stops at the first part boundary once every part has a sample
    // from the window (traced and untraced, in a traced run).
    val frames = ArrayBuffer.empty[Frame]
    val refreshes = ArrayBuffer.empty[Frame]
    var n = 0
    def analyst(more: () => Boolean): Unit = {
      val s = Stats.nowMs()
      val traced = ctx.tracer.exists(_.enabled)
      def go() = refresh(ctx, rig, frames += _, more)
      val parts = ctx.tracer.fold(go())(_.op(s"refresh-$n")(go()))
      if (parts == QueryCount) refreshes += Frame(s"refresh-$n", s, Stats.nowMs(), traced)
      n += 1
    }
    do analyst(() => true) while (Stats.nowMs() < t0 + WarmupS * 1000)
    val warmupRefreshes = n
    val measureFrom = Stats.nowMs()
    val measureTo = measureFrom + ctx.seconds * 1000.0 * windows
    def sampled(traced: Boolean) =
      frames.iterator.filter(f => f.start >= measureFrom && f.traced == traced).map(_.name)
        .toSet.size == QueryCount
    def done = Stats.nowMs() >= measureTo && sampled(false) && (ctx.tracer.isEmpty || sampled(true))
    while (!done) {
      ctx.tracer.foreach(_.enabled = n % 2 == 1)
      analyst(() => !done)
    }
    ctx.tracer.foreach(_.enabled = false)
    val analystEnd = Stats.nowMs()
    stopAt = analystEnd
    generator.join()
    r.note("analyst_warmup_refreshes", warmupRefreshes)
    r.note("analyst_past_window_s", f"${(analystEnd - measureTo) / 1000}%.3f")
    r.note("feed_ran_out", fedN == live.size)
    r.note("drain_s", f"${Stats.timed { q.processAllAvailable(); q.stop() }._2}%.3f")

    // latency: due time → end of the micro-batch that committed the file
    val byBatch = rig.filesByBatch()
    val commits = rig.commitTimes()
    val fed = live.indices.take(fedN)
    val committedAt = fed.map(i => commits(byBatch(live(i).getName)) - wallOffset)
    val inWindow = fed.filter(i => due(i) >= measureFrom && due(i) < measureTo)
    val lat = inWindow.map(i => committedAt(i) - due(i))
    val late = inWindow.map(i => published(i) - due(i))
    // backlog: files due but not yet committed, sampled at each arrival
    val backlog = inWindow.map(i =>
      fed.count(j => due(j) <= due(i) && committedAt(j) > due(i)))
    val half = backlog.size / 2
    val grew = backlog.nonEmpty && backlog.takeRight(half / 2).max > 2 * backlog.take(half).max + 5
    r.check(!grew, s"backlog grew: first half max ${backlog.take(half).maxOption}, " +
      s"last quarter max ${backlog.takeRight(half / 2).maxOption}")
    // a refresh outlasts much of the window, so its cost is read as the
    // sum over its parts of each one's median time in the window, which
    // every part's repeats inform
    def refreshCost(traced: Boolean): (Map[String, Double], Double) = {
      val byQuery = frames.filter(f => f.start >= measureFrom && f.traced == traced)
        .groupBy(_.name).map { case (k, fs) => k -> Stats.median(fs.map(f => f.end - f.start).toSeq) }
      (byQuery, if (byQuery.size == QueryCount) byQuery.values.sum else Double.NaN)
    }
    val (byQuery, refreshMs) = refreshCost(traced = false)
    val whole = refreshes.filter(f => f.start >= measureFrom && !f.traced)
      .map(f => f.end - f.start).toSeq
    r.metric("event_latency_p50_ms", Stats.median(lat), "ms")
    if (lat.size >= Stats.MinSamplesForP90)
      r.metric("event_latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
    r.note("event_latency_samples", lat.size)
    r.metric("refresh_ms", refreshMs, "ms")
    r.metric("refreshes_per_s", 1000.0 / refreshMs, "1/s")
    // the gated rate is the analyst's: the committed event rate follows
    // the offered one while the backlog stays bounded (checked above)
    r.metric("rate_per_s", 1000.0 / refreshMs, "1/s")
    if (whole.nonEmpty) r.metric("refresh_p50_ms", Stats.median(whole), "ms")
    if (whole.size >= Stats.MinSamplesForP90)
      r.metric("refresh_p90_ms", Stats.quantile(whole, 0.9), "ms")
    r.note("refresh_samples", whole.size)
    r.note("query_ms_p50", byQuery.toSeq.sorted.map { case (k, v) => f"$k=$v%.0f" }.mkString(" "))
    r.metric("op_p50_ms", Stats.median(lat), "ms")
    // committed events per second, a sanity check against the offered
    // rate: the events of the live micro-batches that committed in the
    // window (at least two commits), over the time between the first and
    // last of those commits
    val batchOf = fed.map(i => byBatch(live(i).getName))
    val ends = batchOf.distinct.sorted.drop(1).map(b => b -> (commits(b) - wallOffset))
    val lo = math.max(0, ends.indexWhere(_._2 >= measureFrom))
    val hi = math.max(lo + 1, ends.lastIndexWhere(_._2 <= measureTo))
    val eventsPerS =
      if (hi >= ends.size) Double.NaN
      else ends.slice(lo + 1, hi + 1).map(e => batchOf.count(_ == e._1)).sum *
        FileEvents * 1000.0 / (ends(hi)._2 - ends(lo)._2)
    val offered = inWindow.size * FileEvents * 1000.0 / (measureTo - measureFrom)
    r.metric("events_per_s", eventsPerS, "1/s")
    r.note("offered_events_per_s", f"$offered%.1f")
    r.note("committed_over_offered", f"${eventsPerS / offered}%.3f")
    r.metric("gen.late_ms_p90", Stats.quantile(late, 0.9), "ms")
    r.metric("gen.backlog_files_max", backlog.maxOption.getOrElse(0).toDouble, "count")

    ctx.tracer.foreach { t =>
      val (tq, tracedMs) = refreshCost(traced = true)
      t.overheadMetric(r, tracedMs, refreshMs)
      def part(prefix: String) = tq.filter(_._1.startsWith(prefix)).values.sum
      r.metric("operators.snapshot_ms_p50", part("operators.snapshot"), "ms")
      r.metric("operators.charts_ms_p50", part("operators.charts"), "ms")
      val traced = refreshes.filter(_.traced).toSeq
      t.opMetrics(r, "refresh-")
      val batches = t.streamMetrics(r)
      val (files, bytes) = rig.sinkFiles(batches.map(_.batchId).toSet)
      r.metric("streaming.sink_files_per_batch", files.toDouble / math.max(1, batches.size), "count")
      r.metric("streaming.sink_mb_per_batch", bytes / 1048576.0 / math.max(1, batches.size), "MB")
      // engine counters per second of traced operation
      val tracedS = traced.map(f => f.end - f.start).sum / 1000
      t.engineMetrics(r, perOp = tracedS, windows = traced.map(f => (f.start, f.end)))
      t.selfTimes(r)
    }

    // the final refresh after the feed stopped equals the same facades
    // recomputed over one materialized copy of the rows it read; it
    // runs beside the ingest checks, each query on its own thread
    val checkT0 = Stats.nowMs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val ingest = Future(rig.check(r, ctx.plant))
      val last = queries(ctx, rig).map(_._2).init
      val rows = spark.read.parquet(rig.logsDir).select(ActivityCols.map(col): _*)
        .coalesce(1).localCheckpoint(true)
      val bl = Detect.ipBlacklist(spark)
      val s = Dashboard.snapshot(rows, bl)
      val c = Dashboard.charts(rows, bl)
      val recomputed = Seq(s.stats, s.latest, s.alerts, s.recentThreats,
        c.timeline, c.severityHistogram, c.opsDistribution)
      def rowsOf(df: DataFrame) = Future(df.collect().map(_.toString).sorted.toSeq)
      val pairs = last.zip(recomputed).map { case (a, b) => rowsOf(a).zip(rowsOf(b)) }
      Await.result(Future.sequence(pairs), Duration.Inf).zipWithIndex.foreach {
        case ((a, b), k) =>
          val got = if (ctx.plant && k == 0) Seq.empty[String] else a
          r.check(got == b, s"final refresh frame $k differs from its recomputation")
      }
      Await.result(ingest, Duration.Inf)
    } finally pool.shutdown()
    r.note("check_s", f"${(Stats.nowMs() - checkT0) / 1000}%.3f")
  }
}
