package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily built). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Resolve a durable index dir to its CURRENT generation root (the
    * reader contract of [[graft.operators.IndexGen]]) — specs that
    * inspect at-rest layout (file counts, markers, planted files)
    * must look inside the published generation, re-resolving after
    * every compaction since compaction advances it.
    */
  def iroot(dir: String): String =
    graft.operators.IndexGen.root(spark, dir)
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
