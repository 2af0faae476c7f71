package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.sources.Tables
import graft.streaming.Ingest

/** End-to-end drive of the streaming ingest path over a file source:
  * writes a batch of general_log-shaped JSON rows, streams them
  * through Ingest.start, then reads back the produced logs/alerts
  * tables and prints a summary. Usage: runMain graft.tools.StreamDemo
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("4")
    import spark.implicits._

    val dir = Files.createTempDirectory("stream_demo").toString
    val srcDir = s"$dir/src"
    // one JSON file = one micro-batch worth of raw agent rows
    Seq(
      """{"event_time":"2024-01-10T12:00:00.000Z","user_host":"root[root] @ localhost []","argument":"SELECT * FROM orders"}""",
      """{"event_time":"2024-01-10T12:00:01.000Z","user_host":"app[app] @ 10.0.0.5 []","argument":"0x53454c454354202a2046524f4d207061796d656e7473"}""",
      """{"event_time":"2024-01-10T12:00:02.000Z","user_host":"app[app] @ 10.0.0.5 []","argument":"SHOW STATUS"}""",
      """{"event_time":"2024-01-10T12:00:03.000Z","user_host":"evil[evil] @ 10.6.6.6 []","argument":"SELECT password FROM users UNION SELECT 1"}"""
    ).toDF("value").coalesce(1).write.text(srcDir)

    val raw = spark.readStream
      .schema(Tables.GeneralLogSchema)
      .json(srcDir)
    val users = Seq(("root", "Admin", 1L), ("app", "User", 2L))
      .toDF("username", "role", "user_id")
    val q = Ingest.start(spark, raw, users, Ingest.IngestConfig(
      logsDir = s"$dir/logs", alertsDir = s"$dir/alerts",
      checkpointDir = s"$dir/ckpt", triggerMs = 200L))
    q.processAllAvailable()
    q.stop()

    println("[demo] logs:")
    spark.read.parquet(s"$dir/logs")
      .select("username", "operation_type", "table_name", "severity_level",
        "suspicious_reasons")
      .orderBy("username").show(false)
    println("[demo] alerts:")
    spark.read.parquet(s"$dir/alerts").orderBy("activity_id").show(false)
    spark.stop()
  }
}
