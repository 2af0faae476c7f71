package graft.tools

import graft.{LocalSession, SparkEntry}

/** Writes `explain("formatted")` for the named `SparkEntry.queries`
  * rows straight to `plans/<tag>/<name>_<suffix>.txt` (the round's
  * committed plan-evidence files), plus a one-line grep summary per
  * query on stdout. Usage:
  *   runMain graft.tools.PlanDump <tag> <suffix> <query> [query ...]
  * e.g. `runMain graft.tools.PlanDump r14 before doc_cluster_dedup`.
  * Runs on `local[8]` at `SPARK_GRAFT_SF_DIR`, default sf0.01 (plan
  * SHAPE is SF-invariant; the r13 files were captured the same way).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...")
    val tag = args(0); val suffix = args(1); val names = args.drop(2).toSeq
    val spark = LocalSession("8")
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, d)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$suffix.txt"), plan)
        val props = Seq(
          "Exchange(shuffle)" -> "(?<!Broadcast)Exchange [^S]".r,
          "BroadcastHashJoin" -> "BroadcastHashJoin".r,
          "SortMergeJoin" -> "SortMergeJoin".r,
          "zip_with" -> "zip_with".r,
          "transform" -> "transform\\(".r)
        val summary = props.map { case (l, re) =>
          s"$l=${re.findAllIn(plan).size}" }.mkString("  ")
        println(s"[plandump] $name ($suffix) :: $summary")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
