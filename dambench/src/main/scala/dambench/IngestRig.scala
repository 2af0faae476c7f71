package dambench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Classify
import graft.operators.Detect
import graft.streaming.Ingest

/** One ingest deployment under a directory: the watched spool, the
  * three sinks and the checkpoint, started through `Ingest.start`. */
final class IngestRig(spark: SparkSession, root: String) {
  val spool = new File(s"$root/spool")
  val logsDir = s"$root/logs"
  val alertsDir = s"$root/alerts"
  val blocksDir = s"$root/blocks"
  val ckptDir = s"$root/ckpt"
  val rulesDir = s"$root/rules"
  spool.mkdirs()

  /** The user dim the agent's usernames join to: the deterministic
    * role rule of the program's activity view, over every user id the
    * generated events can carry. */
  private def users: DataFrame =
    spark.range(0L, 1500L).select(
      concat(lit("user_"), col("id")).as("username"),
      when(col("id") % 7 === 0, "Admin")
        .when(col("id") % 3 === 0, "Guest")
        .otherwise("User").as("role"),
      col("id").as("user_id"))

  /** The firewall rule table the stream re-reads every micro-batch. */
  def writeRules(): Unit = Detect.firewallRules(spark).write.parquet(rulesDir)

  def start(): StreamingQuery = {
    val source = Spool.readStream(spark).json(spool.getPath)
    Ingest.start(spark, source, users,
      Ingest.IngestConfig(logsDir, alertsDir, ckptDir, triggerMs = 0L,
        blocksDir = Some(blocksDir),
        rulesDir = Some(rulesDir)))
  }

  /** Which spool files each micro-batch read: the file source's log
    * in the checkpoint maps each file to a source batch, and the offset
    * log maps each micro-batch to the last source batch it read (the
    * two numberings drift apart on no-data batches and restarts). */
  def filesByBatch(): Map[String, Long] = {
    def lines(f: File): List[String] = {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toList finally src.close()
    }
    def numbered(dir: String): Seq[(Long, File)] =
      Option(new File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f).sortBy(_._1)
    val logOffset = "\\{\"logOffset\":(\\d+)\\}".r
    val batchOf = numbered(s"$ckptDir/offsets")
      .flatMap { case (n, f) => lines(f).collectFirst { case logOffset(k) => k.toLong -> n } }
      .groupBy(_._1).map { case (k, ns) => k -> ns.map(_._2).min }
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(new File(s"$ckptDir/sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).flatMap(lines)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => new File(m.group(1)).getName -> batchOf(m.group(2).toLong)).toMap
  }

  /** End time of each committed micro-batch: the commit log entry's
    * modification time, in epoch milliseconds. */
  def commitTimes(): Map[Long, Double] =
    Option(new File(s"$ckptDir/commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map { f =>
        val t = java.nio.file.Files.getLastModifiedTime(f.toPath)
        f.getName.toLong -> t.to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
      }.toMap

  /** Files and bytes the three sinks wrote for the given batches. */
  def sinkFiles(batches: Set[Long]): (Long, Long) = {
    val batchDir = "ingest_batch=(\\d+)".r
    val files = Seq(logsDir, alertsDir, blocksDir).flatMap { d =>
      val root = new File(d).toPath
      if (!new File(d).exists()) Nil
      else java.nio.file.Files.walk(root).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .filter(f => batchDir.findFirstMatchIn(f.getParent).exists(m => batches(m.group(1).toLong)))
        .toList
    }
    (files.size.toLong, files.map(_.length).sum)
  }

  /** Exactly-once checks over every committed batch: each fed event is
    * in the logs sink once, or in the blocks sink under a block rule, or
    * is a statement the agent skip-filter drops; no activity_id repeats
    * across batches; each batch's alerts are exactly its High/Critical
    * log rows. One check per batch plus one global check. */
  def check(result: Result, plant: Boolean): Unit = {
    val byBatch = filesByBatch()
    import spark.implicits._
    val fileBatch = byBatch.toSeq.toDF("file", "ingest_batch")
    val fed = Spool.read(spark).json(spool.getPath)
      .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))
      .join(broadcast(fileBatch), Seq("file"))
      .filter(Classify.keepQuery(col("argument")))
      .select(col("ingest_batch"),
        xxhash64(col("event_time"), col("user_host"), col("argument")).as("activity_id"))
      .distinct().persist()
    val logs0 = spark.read.parquet(logsDir)
      .select(col("ingest_batch").cast("long"), col("activity_id"), col("severity_level"))
    // a planted fault: one committed log row written twice
    val logs = (if (plant) logs0.unionByName(logs0.limit(1)) else logs0).persist()
    val blockRules = Detect.firewallRules(spark)
      .filter(col("action") === "block").select(col("rule_id"))
    val blocked = spark.read.parquet(blocksDir)
      .join(broadcast(blockRules), Seq("rule_id"))
      .groupBy(col("ingest_batch").cast("long").as("ingest_batch"))
      .agg(count(lit(1)).as("blocked"))
    val alerts = spark.read.parquet(alertsDir)
      .select(col("ingest_batch").cast("long"), col("activity_id"))
    val hc = logs.filter(col("severity_level").isin("High", "Critical"))
      .select(col("ingest_batch"), col("activity_id"))
    val expected = fed.groupBy("ingest_batch").agg(count(lit(1)).as("expected"))
    val landed = logs.groupBy("ingest_batch").agg(count(lit(1)).as("logged"))
    def symDiff(a: DataFrame, b: DataFrame): DataFrame =
      a.exceptAll(b).unionByName(b.exceptAll(a))
    val alertMismatch = symDiff(alerts, hc).groupBy("ingest_batch")
      .agg(count(lit(1)).as("alert_mismatch"))
    val perBatch = expected
      .join(landed, Seq("ingest_batch"), "full")
      .join(blocked, Seq("ingest_batch"), "left")
      .join(alertMismatch, Seq("ingest_batch"), "left")
      .na.fill(0L)
      .collect()
    perBatch.foreach { r =>
      val b = r.getAs[Long]("ingest_batch")
      val exp = r.getAs[Long]("expected")
      val got = r.getAs[Long]("logged") + r.getAs[Long]("blocked")
      val bad = r.getAs[Long]("alert_mismatch")
      result.check(exp == got && bad == 0,
        s"batch $b: expected $exp events, landed $got; $bad alert rows differ " +
          "from the batch's High/Critical logs")
    }
    val dupIds = logs.groupBy("activity_id").count().filter(col("count") > 1).count()
    val stray = logs.select("activity_id").exceptAll(fed.select("activity_id")).count()
    result.check(dupIds == 0 && stray == 0,
      s"$dupIds activity_ids logged more than once; $stray log rows beyond the fed events")
    result.note("ingest_batches_checked", perBatch.length)
    fed.unpersist(); logs.unpersist()
    ()
  }
}
