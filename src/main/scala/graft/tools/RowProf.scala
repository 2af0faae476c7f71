package graft.tools

import graft.{LocalSession, QueryMetrics, SparkEntry}

/** The row instrument: for each named `SparkEntry.queries` row, one
  * warm pass, then three timed runs to the noop sink (the Bench
  * materialization), printing the fastest run's wall time and its
  * [[graft.QueryMetrics]] (jobs, stages, tasks, executor time,
  * shuffle, spill, driver time). Usage:
  *   runMain graft.tools.RowProf [--conf k=v]... row...
  * `SPARK_GRAFT_CPUS` (default 4) and `SPARK_GRAFT_SF_DIR` (default
  * the sf0.1 fixture) act as in Bench; each `--conf` sets a Spark
  * conf at session build time, after the standard ones, e.g.
  * `--conf spark.default.parallelism=8`. Exits 1 when a row fails or
  * names no query, 2 on a usage error.
  */
object RowProf {
  private val Usage = "usage: RowProf [--conf k=v]... row..."

  def main(args: Array[String]): Unit = {
    @annotation.tailrec
    def parse(as: List[String], confs: Vector[(String, String)],
              rows: Vector[String]): Option[(Vector[(String, String)], Vector[String])] =
      as match {
        case "--conf" :: kv :: rest if kv.contains('=') =>
          val Array(k, v) = kv.split("=", 2)
          parse(rest, confs :+ (k -> v), rows)
        case "--conf" :: _ => None
        case row :: rest => parse(rest, confs, rows :+ row)
        case Nil => if (rows.isEmpty) None else Some((confs, rows))
      }
    val (confs, rows) = parse(args.toList, Vector.empty, Vector.empty)
      .getOrElse { System.err.println(Usage); sys.exit(2) }
    val spark = LocalSession(extra = confs)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    println(s"[rowprof] master=${spark.sparkContext.master} " +
      s"host_cpus=${LocalSession.hostCpus} sf=$d " +
      confs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val ok = rows.map { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          println(s"[rowprof] $name UNKNOWN: no such query")
          false
        case Some(q) =>
          try {
            def once() = QueryMetrics.measure(spark) {
              q(spark, d).write.format("noop").mode("overwrite").save()
            }
            once()
            val best = Seq.fill(3)(once()).minBy(_.wallS)
            println(f"[rowprof] $name%-32s min3=${best.wallS}%7.3f s $best")
            true
          } catch {
            case e: Throwable =>
              println(s"[rowprof] $name FAILED: ${e.getMessage}")
              false
          }
      }
    }
    spark.stop()
    if (ok.contains(false)) sys.exit(1)
  }
}
