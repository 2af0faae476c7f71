package graft
import org.apache.spark.sql.SparkSession

import graft.rows.DamRows

/** Benchmark main: one JSON line with per-query seconds.
  *
  * Measurement hygiene (the round-2 BENCH file was invalidated by
  * machine load; the round-6 end-of-round snapshot then OVERWROTE a
  * clean min-of-5 artifact with a load-7.26 capture — hence the gate):
  *  - every query is timed `SPARK_GRAFT_BENCH_RUNS` times (default 3)
  *    and the MINIMUM is reported — transient load inflates individual
  *    runs but cannot deflate the floor;
  *  - the 1-minute load average is recorded at wait-exit (BEFORE the
  *    bench's own session spin-up — self-load is not contention) and
  *    at end, so a contaminated recording is identifiable from the
  *    artifact itself;
  *  - WAIT-FOR-IDLE: before measuring, the run blocks (polling every
  *    10 s, up to `SPARK_GRAFT_BENCH_WAIT_SEC`, default 600) until
  *    the 1-minute load drops under the gate — an end-of-round
  *    capture on a busy machine waits out the noise instead of
  *    recording hot;
  *  - LOAD GATE: if the start load average (re-read after the wait)
  *    still exceeds
  *    `SPARK_GRAFT_BENCH_MAX_LOAD` (default 1.0) the run is marked
  *    `"load_gate":"contaminated"` and the committed artifact
  *    (`BENCH_LOCAL.json`) is NOT overwritten unless the existing
  *    artifact was captured at an even higher load (a dirty capture
  *    may replace a dirtier one, never a cleaner one);
  *  - the activity/classified views are fully materialized BEFORE
  *    timing (they model columns physically stored at ingest —
  *    classify-at-ingest premise), and that choice is disclosed in the
  *    output: `cold_classify_build_sec` is the one-time derive cost a
  *    recomputing engine would pay, timed separately.
  */
object Bench {
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The artifact-write decision of the load gate, exposed for the
    * spec: a clean run always writes; a contaminated run writes only
    * over an artifact recorded at an even HIGHER load (or none —
    * priorLoad = MaxValue). A negative load0 means /proc/loadavg was
    * unreadable (non-Linux host): it never replaces a readable
    * capture, but it MAY fill an ABSENT artifact — otherwise a host
    * without /proc would never record at all.
    */
  private[graft] def shouldWriteArtifact(load0: Double, maxLoad: Double,
                                         priorLoad: Double): Boolean =
    (load0 >= 0 && load0 <= maxLoad) || (load0 >= 0 && load0 < priorLoad) ||
      (load0 < 0 && priorLoad == Double.MaxValue)

  /** Wait-for-idle (round-7 verdict #2): two consecutive rounds the
    * driver's end-of-round capture ran hot (load 7.26, then 10.59) and
    * was rightly refused by the gate — so the gate's complement: BLOCK
    * (bounded) until the 1-minute load drops under the gate, polling
    * every `pollSec`, instead of merely refusing the contaminated
    * write afterwards. Returns the last load observed; gives up after
    * `maxWaitSec` (the run then proceeds and is marked contaminated as
    * before — the wait makes a clean capture likely, the gate still
    * guarantees a dirty one cannot clobber a cleaner record).
    */
  private[graft] def waitForIdle(maxLoad: Double, maxWaitSec: Int,
                                 pollSec: Int = 10,
                                 load: () => Double = loadAvg,
                                 sleep: Long => Unit = Thread.sleep): Double = {
    var l = load()
    var waited = 0
    while (l >= 0 && l > maxLoad && waited < maxWaitSec) {
      System.err.println(f"[bench] waiting for idle: 1-min load $l%.2f > " +
        f"gate $maxLoad%.2f (${waited}s/${maxWaitSec}s)")
      sleep(pollSec * 1000L)
      waited += pollSec
      l = load()
    }
    l
  }

  /** load_avg_start of an existing artifact line; MaxValue when the
    * file or field is missing/unparseable (an absent record never
    * blocks a write). The numeric class keeps '-' LAST — `[+-e]`
    * is a character RANGE that swallows ',' and ':', making toDouble
    * throw and the guard silently collapse to MaxValue (the round-7
    * bug that let a contaminated capture replace a cleaner one).
    */
  private[graft] def parsePriorLoad(artifactText: String): Double =
    try {
      """"load_avg_start":([0-9.eE+-]+)""".r.findFirstMatchIn(artifactText)
        .map(_.group(1).toDouble).getOrElse(Double.MaxValue)
    } catch { case _: Throwable => Double.MaxValue }

  private[graft] def msFmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  /** AMBIENT CALIBRATION row (round-11 verdict #4): a fixed
    * CPU-bound Spark job over synthesized in-memory data — no IO, no
    * shuffle-to-disk state, a deterministic hash fold over a fixed
    * range at fixed parallelism — timed FIRST and LAST in every
    * capture. Round-over-round drift adjudication then divides by
    * the calibration instead of arguing by narrative: two captures
    * of the same code whose battery totals differ 1.1× but whose
    * calib rows also differ 1.1× are the SAME build under different
    * ambient; a battery delta the calib row does not explain is a
    * real regression. min-of-`runs`, the battery discipline.
    */
  private[graft] def calibSec(spark: SparkSession, runs: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      try {
        // bit_xor, not sum: summing 64M hashed longs overflows
        // bigint under ANSI (Spark 4 default) — xor is overflow-free
        // and identically CPU-bound
        spark.range(0L, 64L * 1000 * 1000, 1L, 32)
          .selectExpr("bit_xor(xxhash64(id * 2654435761)) AS h")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    // one UNRECORDED warmup: the first execution pays JIT for this
    // expression (measured 2.6× the warm floor in the r12 capture) —
    // an ambient probe wants steady-state, not compiler state
    once()
    val times = (1 to runs).map(_ => once())
    if (times.contains(-1.0)) -1.0 else times.min
  }

  /** Pack the stdout record under `budget` bytes: headline aggregates
    * plus as many per-query rows as fit, failures (-1) first, then
    * slowest-first — the rows a reader of a truncated capture most
    * needs. `queries_elided` + the `queries_full` pointer make the
    * truncation explicit instead of silent. Exposed for the spec.
    */
  private[graft] def packShortLine(results: Seq[(String, Double)],
                                   meta: String, totalStr: String,
                                   budget: Int): String = {
    val ordered = results.sortBy { case (_, v) =>
      if (v < 0) Double.NegativeInfinity else -v }
    val picked = scala.collection.mutable.ArrayBuffer.empty[String]
    val fixedLen = 170 + meta.length
    var used = fixedLen
    ordered.foreach { case (k, v) =>
      val frag = "\"" + k + "\":" + msFmt(v)
      if (used + frag.length + 1 <= budget) { picked += frag; used += frag.length + 1 }
    }
    s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":${picked.mkString("{", ",", "}")},"queries_elided":${results.size - picked.size},"queries_full":"BENCH_LOCAL.json",$meta,"total_sec_tail":$totalStr}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "1.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "600").toInt
    // block (bounded) until the machine is idle BEFORE measuring —
    // the refuse-to-overwrite gate alone left two consecutive rounds'
    // driver artifacts as hot captures. The gate input is the AMBIENT
    // load at wait-exit: sampling after session creation (the old
    // order) reads the bench's own local[32] spin-up back as
    // contention — a deep-idle box measured 1.5 purely from JVM/Spark
    // startup, self-contaminating every capture.
    val load0 = waitForIdle(maxLoad, maxWaitSec)
    val spark = LocalSession()
    if (load0 > maxLoad)
      System.err.println(s"[bench] WARNING: load average $load0 at start " +
        s"exceeds gate $maxLoad — run marked contaminated; the committed " +
        "artifact will not be degraded by it")
    // warmup: scan every table once (JIT + parquet reader + codegen
    // for the scan stages) so the first timed query doesn't absorb
    // session start-up cost
    graft.sources.Tables.Names.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // one-time classified-view build, timed as its own entry: the cost
    // a recomputing engine pays per query, paid here once at "ingest"
    val tCold = System.nanoTime()
    val coldBuild =
      try {
        graft.sources.Tables.activity(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        graft.sources.Tables.classifiedActivity(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - tCold) / 1e9
      } catch { case _: Throwable => -1.0 }
    // one-time IVF index build (emb_ivf_indexed is the production READ
    // path; its index is built once per source version)
    try graft.operators.Similarity.ensureIvfIndex(spark,
      s"$sfDir/embeddings.parquet",
      graft.sources.Tables.embeddings(spark, sfDir))
    catch { case _: Throwable => () }
    // calibration row BEFORE the battery (and again after): the
    // ambient yardstick every drift claim must cite
    val calibStart = calibSec(spark, runs)
    val allTimes = SparkEntry.queries.map { case (name, fn) =>
      // min-of-N: noop sink materializes every output column (count()
      // would let Catalyst prune projections and under-report)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0 }
      }
      name -> times
    }
    // any failure reports the -1 sentinel, never a bogus fast time
    val results = allTimes.map { case (name, times) =>
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    // companion aggregate over the FIRST 3 runs of the same capture:
    // the round driver measures min-of-3, the committed record
    // min-of-5 — this prices how much of any driver-vs-committed gap
    // is the aggregation depth (same box, same runs) vs the driver's
    // ambient. Free: no extra runs.
    val totalMinFirst3 =
      if (runs >= 4 && !results.values.exists(_ == -1.0))
        allTimes.values.map(_.take(3).min).sum
      else -1.0
    // stream fixed-cost floors (round-10 verdict #6): the identical
    // Ingest machinery over an EMPTY spool — startup + trigger +
    // RocksDB/checkpoint/sink cost with zero pipeline work. Reported
    // beside the totals so the two dam_stream_replay* rows (13% of
    // the battery, pure operating-mode cost) can be read as
    // steady-state = total − floor, and a pipeline regression cannot
    // hide under trigger latency.
    def floorOf(batched: Boolean): Double = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { DamRows.streamReplayFloor(spark, sfDir, batched)
          .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] stream floor failed: ${e.getMessage}")
          -1.0 }
      }
      if (times.contains(-1.0)) -1.0 else times.min
    }
    val streamFloors = Seq(
      "dam_stream_replay" -> floorOf(batched = false),
      "dam_stream_replay_batched" -> floorOf(batched = true))
    val calibEnd = calibSec(spark, runs)
    val load1 = loadAvg()
    def ms(v: Double): String = msFmt(v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val gate = if (load0 >= 0 && load0 <= maxLoad) "pass" else "contaminated"
    val floorsJson = streamFloors
      .map { case (k, v) => "\"" + k + "\":" + msFmt(v) }
      .mkString("{", ",", "}")
    // battery total per unit of calibration time: the
    // ambient-normalized figure round-over-round comparison reads
    // (calib = fixed CPU job, so total_per_calib cancels machine/
    // ambient speed to first order)
    val calibMean =
      if (calibStart > 0 && calibEnd > 0) (calibStart + calibEnd) / 2
      else -1.0
    val totalPerCalib =
      if (calibMean > 0 && results.nonEmpty) results.values.sum / calibMean
      else -1.0
    val minFirst3PerCalib =
      if (calibMean > 0 && totalMinFirst3 > 0) totalMinFirst3 / calibMean
      else -1.0
    val meta = s""""sf":"$sfDir","runs_per_query":$runs,"agg":"min","calib_start_sec":${ms(calibStart)},"calib_end_sec":${ms(calibEnd)},"total_per_calib":${ms(totalPerCalib)},"total_min_first3":${ms(totalMinFirst3)},"total_min_first3_per_calib":${ms(minFirst3PerCalib)},"load_avg_start":$load0,"load_avg_end":$load1,"host_cpus":${LocalSession.hostCpus},"load_gate":"$gate","load_gate_max":$maxLoad,"cold_classify_build_sec":${ms(coldBuild)},"stream_floor":$floorsJson,"warm":"activity+classified views pre-materialized (classify-at-ingest); per-query sec = min of $runs runs; stream_floor = same streaming machinery over an empty spool (fixed cost; steady-state = row - floor)","n_queries":${results.size}"""
    // full record: every query — the committed artifact and the
    // last-run scratch file hold this
    val fullLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,$meta,"total_sec_tail":${ms(total)}}"""
    // stdout record: the round driver keeps only the LAST ~2000 chars
    // of the sbt output, and the full per-query map outgrew that
    // window at 152 queries — the r8 driver artifact holds a mid-line
    // fragment and parsed:null. So the one line stdout carries is a
    // SHORT, self-contained record sized to the window: headline
    // aggregates + the slowest queries (plus every failed -1 row),
    // greedily packed under a byte budget, with a pointer to the full
    // committed record and an explicit count of elided rows.
    val tailBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL_BUDGET", "1600").toInt
    val shortLine = packShortLine(results.toSeq, meta, ms(total), tailBudget)
    // every run also leaves the full record on disk, ungated — a
    // contaminated run is still inspectable without clobbering the
    // clean committed artifact below
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL_LASTRUN.json"), fullLine + "\n")
    catch { case _: Throwable => () }
    val line = fullLine
    // Committed artifact: never degrade a cleaner capture. A run that
    // fails the load gate may only replace an artifact recorded at an
    // even HIGHER load (or none at all) — the r6 failure mode where an
    // end-of-round re-bench at load 7.26 clobbered the clean min-of-5
    // record is structurally impossible now.
    val artifact = java.nio.file.Paths.get("BENCH_LOCAL.json")
    val priorLoad: Double =
      try parsePriorLoad(java.nio.file.Files.readString(artifact))
      catch { case _: Throwable => Double.MaxValue }
    val shouldWrite = shouldWriteArtifact(load0, maxLoad, priorLoad)
    if (shouldWrite)
      try java.nio.file.Files.writeString(artifact, line + "\n")
      catch { case _: Throwable => () }
    else
      System.err.println(s"[bench] load gate: artifact NOT written " +
        s"(this run load $load0 vs existing artifact load $priorLoad)")
    spark.stop()
    // The packed record must be the TRUE final stdout line: the round
    // driver parses the last line of the (last ~2000 chars of) sbt
    // output, so it prints AFTER spark.stop() — no Spark shutdown
    // chatter can follow it, forked stdout relays bare
    // (build.sbt outputStrategy := StdoutOutput), and sbt's
    // "[success] Total time" epilogue is suppressed
    // (Global / showSuccess := false).
    println(shortLine)
    System.out.flush()
  }
}
