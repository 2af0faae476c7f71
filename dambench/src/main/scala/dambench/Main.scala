package dambench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the generated tables,
  * its own work directory, the run length and the result record. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
                val seconds: Int, val seed: Long, val tracer: Option[Tracer],
                val plant: Boolean, val result: Result) {
  private var setups = 0
  def lastSetupDir: String = s"$workDir/setup-$setups"

  /** Run a workload's set-up `SetupRepeats` times, each into a fresh
    * directory, and keep the last. Returns its value and the median
    * set-up seconds. */
  def setup[A](f: String => A): (A, Double) = {
    val runs = (1 to Main.SetupRepeats).map { _ =>
      setups += 1
      val dir = lastSetupDir
      new File(dir).mkdirs()
      Stats.timed(f(dir))
    }
    result.note("setup_s_each", runs.map(r => f"${r._2}%.3f").mkString(" "))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }
}

/** The benchmark's JVM entry point. Arguments:
  * `<workload> <seed> <seconds> <trace 0|1> <data dir> <work dir>
  *  <result file> [plant]`. The launcher (`run.py`) generates the
  * tables, runs this, verifies oracle digests and prints the result.
  */
object Main {
  val SetupRepeats = 3

  def session(workDir: String): SparkSession = {
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("dambench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.ui.retainedExecutions", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir, out) = args.take(7)
    val plant = args.drop(7).contains("plant")
    val result = new Result
    val (spark, sessionS) = Stats.timed(session(workDir))
    result.note("session_start_s", f"$sessionS%.3f")
    val t0 = System.nanoTime()
    val tracer = if (trace == "1") Some(new Tracer(spark, s"$workDir/spans.jsonl")) else None
    val ctx = new Ctx(spark, dataDir, workDir, seconds.toInt, seed.toLong, tracer,
      plant, result)
    try {
      workload match {
        case "monitor_live" => Monitor.run(ctx)
        case "curation_batch" => CurationBatch.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      result.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
      tracer.foreach(_.close())
      result.note("workload_wall_s", f"${(System.nanoTime() - t0) / 1e9}%.3f")
      java.nio.file.Files.writeString(new File(out).toPath, result.toJson)
    } finally spark.stop()
  }
}
