package graft

import org.apache.spark.sql.SparkSession

/** The standard local session of the mains ([[Bench]], [[Verify]] and
  * the `tools/` instruments): `local[cpus]` with as many shuffle
  * partitions, UTC, UI off, AQE on, and
  * `spark.sql.legacy.parquet.nanosAsLong` because events.parquet
  * carries TIMESTAMP(NANOS) (read as long; `Tables.events` converts).
  * `extra` confs apply last, at build time, so they override the
  * defaults and reach build-time-only confs such as
  * `spark.default.parallelism`. A `cpus` above [[hostCpus]] prints a
  * warning: the extra task slots queue for cores, so executor run
  * time then counts that wait.
  */
private[graft] object LocalSession {
  /** The processors this JVM may use, as the instruments record it. */
  def hostCpus: Int = Runtime.getRuntime.availableProcessors

  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
            extra: Seq[(String, String)] = Nil): SparkSession = {
    if (cpus.toIntOption.exists(_ > hostCpus))
      System.err.println(s"[graft] WARNING: local[$cpus] on $hostCpus " +
        "available processors: tasks queue for cores, and executor run " +
        "time includes that wait")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
