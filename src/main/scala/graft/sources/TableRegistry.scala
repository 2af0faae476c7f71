package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table registry: idempotent bootstrap of the DAM control
  * tables (S10 — reference app.py:1386-1545 CREATE TABLE + seeds),
  * append writers for the fact/alert streams (S5-S7), and the CSV
  * export sink (S8).
  *
  * Scale design: the fact tables (activity_logs, security_alerts,
  * firewall_blocks) are date-partitioned on write so every
  * time-windowed analytic prunes partitions instead of scanning
  * history — the columnar analog of the reference's timestamp index
  * (sql/02_create_tables.sql:42-45). Control tables (users, rules,
  * blacklist) are tiny single-file dims meant to be broadcast.
  */
object TableRegistry {

  /** Seed users (reference app.py:1521 default accounts). */
  def seedUsers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "admin", "Admin", "Active"),
      (2L, "user1", "User", "Active"),
      (3L, "guest1", "Guest", "Active"))
      .toDF("user_id", "username", "role", "account_status")
      .withColumn("failed_attempts", lit(0))
      .withColumn("created_at", to_timestamp(lit("2024-01-01 00:00:00")))
  }

  /** Idempotent bootstrap: writes each control table only if its
    * directory does not exist yet (CREATE TABLE IF NOT EXISTS analog).
    * NOTE: because existing directories are left untouched, a schema
    * change to a control table here does NOT migrate warehouses
    * bootstrapped earlier — drop the table directory (or migrate it
    * explicitly) before appending with the new schema, or parquet
    * schema merging will fail on conflicting column types.
    */
  def initWarehouse(spark: SparkSession, rootDir: String): Unit = {
    def writeIfAbsent(name: String, df: => DataFrame): Unit = {
      val p = Paths.get(rootDir, name)
      if (!Files.exists(p))
        df.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(p.toString)
    }
    writeIfAbsent("users", seedUsers(spark))
    // a fresh warehouse ships the reference's 7 production seed rules
    // (app.py:1531-1539); the 13-rule fixture profile stays available
    // for the semantics oracle via firewallRules(spark, "fixture")
    writeIfAbsent("firewall_rules",
      graft.operators.Detect.firewallRules(spark, "reference"))
    writeIfAbsent("ip_blacklist",
      graft.operators.Detect.ipBlacklist(spark)
        .withColumn("created_at", to_timestamp(lit("2024-01-01 00:00:00"))))
    // remaining feature tables (reference app.py:1464-1514): created
    // empty with fixed schemas so the full control-table surface exists
    writeIfAbsent("webhooks", {
      import spark.implicits._
      Seq.empty[(Long, String, Boolean, java.sql.Timestamp)]
        .toDF("webhook_id", "url", "is_active", "created_at")
    })
    writeIfAbsent("report_log", {
      import spark.implicits._
      Seq.empty[(Long, String, String, java.sql.Timestamp)]
        .toDF("report_id", "report_type", "file_path", "created_at")
    })
    writeIfAbsent("user_2fa", {
      import spark.implicits._
      Seq.empty[(Long, String, Boolean, java.sql.Timestamp, java.sql.Timestamp)]
        .toDF("user_id", "totp_secret", "enabled", "created_at",
          "confirmed_at")
    })
  }

  /** S5 — append activities, date-partitioned, with the computed
    * query hash (md5, reference app.py:258) if not already present.
    */
  def appendActivities(activities: DataFrame, dir: String): Unit = {
    val withHash =
      if (activities.columns.contains("query_hash")) activities
      else activities.withColumn("query_hash", md5(col("operation_details")))
    withHash
      .withColumn("event_date", to_date(col("access_timestamp")))
      .write.mode(SaveMode.Append).partitionBy("event_date").parquet(dir)
  }

  /** Insert-if-absent append (reference INSERT IGNORE seeds,
    * app.py:1522-1526): left_anti against the existing keys before
    * appending — J5 referential hygiene as an anti-join.
    */
  def appendIfAbsent(spark: SparkSession, df: DataFrame, keyCol: String,
                     dir: String): Long = {
    val fresh =
      if (Files.exists(Paths.get(dir))) {
        val existing = spark.read.parquet(dir).select(keyCol)
        df.join(existing, Seq(keyCol), "left_anti")
      } else df
    val n = fresh.count()
    if (n > 0) fresh.write.mode(SaveMode.Append).parquet(dir)
    n
  }

  /** Small-file compaction for streaming sink output: micro-batch
    * appends accumulate one file per partition per batch; this
    * rewrites each date partition into `filesPerPartition` files.
    * Operationally required at scale (file-count pressure on the
    * namenode/listing); semantically a no-op.
    */
  def compact(spark: SparkSession, dir: String,
              filesPerPartition: Int = 1): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val df = spark.read.parquet(dir)
    val tmp = dir + ".compact"
    val partCols = df.schema.fieldNames.filter(_ == "event_date")
    val writer = df.repartition(filesPerPartition).write
      .mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(tmp)
    val old = dir + ".old"
    fs.delete(p(old), true)
    fs.rename(p(dir), p(old))
    fs.rename(p(tmp), p(dir))
    fs.delete(p(old), true)
  }

  /** Bucketed table write: co-locates future joins on `bucketCol` —
    * two tables bucketed identically join with zero Exchange (proven
    * by BucketingSpec). Requires saveAsTable (bucketing metadata
    * lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** S8 — CSV export sink (reference app.py:626-636, 1215-1226):
    * top-N rows, ISO-formatted timestamps, single header file.
    */
  def exportCsv(df: DataFrame, tsCols: Seq[String], outDir: String,
                limit: Int = 1000): Unit = {
    val formatted = tsCols.foldLeft(df.limit(limit)) { (acc, c) =>
      acc.withColumn(c, date_format(col(c), "yyyy-MM-dd'T'HH:mm:ss"))
    }
    formatted.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(outDir)
  }
}
