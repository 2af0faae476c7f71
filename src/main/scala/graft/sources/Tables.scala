package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table registry over the driver-generated parquet tables
  * (see /root/repo/TESTDATA.md) plus the DAM-shaped derived views.
  *
  * The reference system's central fact table is `activity_logs`
  * (reference sql/02_create_tables.sql:26-47); here the synthetic
  * `events` table stands in for the activity stream at volume, and
  * [[Tables.activity]] derives a deterministic activity_logs-shaped
  * view from it so every reference analytic has a faithful analog
  * that a DuckDB oracle can replay (see graft.rows.Prelude.ActivityPrelude).
  *
  * Scale notes (100 TB design): all loaders are plain parquet scans —
  * Catalyst pushes filters/projections into the scan; nothing here
  * materializes. The tiny dimensions (region/nation/supplier, and the
  * DAM rule/blacklist dims in [[graft.operators.Detect]]) are
  * broadcast at join sites.
  */
object Tables {
  val Names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The driver's testdata ships each table as ONE parquet row group —
    * unsplittable, so a bare scan is a single task and every
    * expression pipeline above it runs on one core. Fact-scale tables
    * get a round-robin repartition to restore parallelism (cost: one
    * shuffle of the raw rows, MBs here).
    *
    * Round-14 (guide §2.4, anti-scaling diagnosis): the repartition is
    * CONDITIONAL on the scan actually being starved — when the file
    * layout already yields at least `defaultParallelism` splits (any
    * production layout: splits = bytes / maxPartitionBytes), spread is
    * a NO-OP, because an explicit-width repartition here would be a
    * full shuffle of the raw corpus that AQE can never coalesce (user-
    * specified numPartitions is exempt by design) and every downstream
    * stage/localCheckpoint would inherit that width. On the shipped
    * single-row-group testdata the behavior is unchanged (1 split <
    * cores → repartition to core count — the dial that makes the
    * CPU-dense scan pipelines use the box; OPTIMIZATION_r14.md prices its
    * per-task overhead share at kilobyte SF).
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = spread(s, load(s, d, "orders"))
  def lineitem(s: SparkSession, d: String): DataFrame = spread(s, load(s, d, "lineitem"))
  /** The events table carries TIMESTAMP(NANOS) which Spark's parquet
    * reader rejects; sessions set spark.sql.legacy.parquet.nanosAsLong
    * and we convert nanos → microsecond TIMESTAMP_NTZ here (truncating
    * division — the same ns→µs truncation DuckDB applies, so oracle
    * comparisons line up exactly).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val converted = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case _ => raw
    }
    spread(s, converted)
  }
  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "embeddings"))

  /** Schema of the reference's activity_logs fact table
    * (reference sql/02_create_tables.sql:26-47, app.py:1405-1426),
    * used by the streaming ingest path and unit fixtures.
    */
  val ActivityLogSchema: StructType = StructType(Seq(
    StructField("activity_id", LongType),
    StructField("user_id", LongType),
    StructField("username", StringType),
    StructField("operation_type", StringType),
    StructField("table_name", StringType),
    StructField("operation_status", StringType),
    StructField("operation_details", StringType),
    StructField("ip_address", StringType),
    StructField("access_timestamp", TimestampNTZType),
    StructField("session_id", StringType),
    StructField("rows_affected", LongType),
    StructField("query_hash", StringType),
    StructField("is_suspicious", BooleanType),
    StructField("suspicious_reasons", StringType),
    StructField("severity_level", StringType)))

  /** Raw wire schema of the agent's general_log poll
    * (reference dam_agent.py:184-194): event_time, user_host, argument.
    */
  val GeneralLogSchema: StructType = StructType(Seq(
    // instant semantics (agent stamps wall-clock): TIMESTAMP, which is
    // also what streaming watermarks require (NTZ is rejected)
    StructField("event_time", TimestampType),
    StructField("user_host", StringType),
    StructField("argument", StringType)))

  /** Deterministic SQL statement text synthesized from an event row.
    * This is what the reference's agent would have captured from
    * mysql.general_log (dam_agent.py:184-213); the mapping is fixed so
    * the DuckDB oracle can reconstruct byte-identical text.
    * Doubles are never embedded (engine-dependent float formatting).
    *
    * An `event_id % 199` slot (~8.5% of rows) injects the attack /
    * compliance fixture battery so every entry of the reference's
    * 15-pattern SUSPICIOUS_QUERY_PATTERNS (app.py:86-102), each
    * sensitive column (app.py:83), and the SOX/PCI compliance tables
    * (app.py:479-484) occurs in the synthetic stream — including the
    * first-match shadowing case (`pg_sleep(` is caught by the earlier
    * `sleep\s*\(` pattern).
    */
  def sqlTextFromEvent(): org.apache.spark.sql.Column = {
    val et = col("event_type")
    val slot = col("event_id") % 199
    when(slot === 0, lit("TRUNCATE TABLE audit_log"))
      .when(slot === 1, lit("ALTER TABLE schema_migrations ADD COLUMN patched INT"))
      .when(slot === 2, lit("CREATE USER intruder IDENTIFIED BY 'p4ss'"))
      .when(slot === 3, lit("GRANT ALL PRIVILEGES ON secrets TO intruder"))
      .when(slot === 4, lit("SELECT id FROM sessions WHERE 1=1; WAITFOR DELAY '0:0:5'"))
      .when(slot === 5, lit("SELECT 0x4445414442454546303132 AS payload"))
      .when(slot === 6, lit("SELECT table_name FROM information_schema.tables"))
      .when(slot === 7, lit("SELECT pg_sleep(5)"))
      .when(slot === 8, lit("SELECT benchmark(500000, md5('x'))"))
      .when(slot === 9,
        concat(lit("SELECT bank_account, salary FROM employees WHERE emp_id = "), col("event_id")))
      .when(slot === 10,
        concat(lit("SELECT credit_card FROM payments WHERE order_id = "), col("event_id")))
      .when(slot === 11,
        concat(lit("SELECT ssn FROM customers WHERE customer_id = "), col("event_id")))
      .when(slot === 12, lit("DROP TABLE temp_sessions"))
      .when(slot === 13, lit("EXEC xp_cmdshell 'dir'"))
      .when(slot === 14, lit("SELECT * FROM orders INTO OUTFILE '/tmp/exfil.csv'"))
      .when(slot === 15,
        concat(lit("UPDATE transactions SET status = 'void' WHERE tx_id = "), col("event_id")))
      .when(slot === 16, lit("DELETE FROM financial WHERE fiscal_year = 1999"))
      .when(et === "click",
        concat(lit("SELECT * FROM products WHERE id = "), col("event_id")))
      .when(et === "view",
        concat(lit("SELECT name, price FROM products WHERE id = "), col("event_id")))
      .when(et === "signup",
        concat(lit("INSERT INTO users (name, email) VALUES ('u"), col("user_id"), lit("', 'u"), col("user_id"), lit("@example.com')")))
      .when(et === "purchase" && col("value") > 190,
        lit("SELECT * FROM accounts WHERE 1=1 UNION SELECT password FROM users"))
      .when(et === "purchase",
        concat(lit("UPDATE accounts SET balance = balance - 1 WHERE user_id = "), col("user_id")))
      .otherwise(
        concat(lit("DELETE FROM sessions WHERE token = '"), md5(col("props")), lit("'")))
  }

  /** The deterministic general_log WIRE feed synthesized from the
    * events table — what the reference agent would read off
    * mysql.general_log: every 7th statement is a system query the
    * skip-filter must drop, every 5th arrives hex-encoded
    * (dam_agent.py:120-134). ONE definition shared by dam_agent_parse,
    * dam_stream_replay and the profiler; the DuckDB `raw` oracle CTEs
    * replay it byte-for-byte.
    */
  def generalLogFeed(s: SparkSession, d: String): DataFrame =
    generalLogFeedKeyed(s, d).drop("event_id")

  /** [[generalLogFeed]] plus the originating event_id — the
    * batch-assignment key for the multi-batch stream-replay fixture
    * (the id never enters the spool; it only routes rows to files).
    */
  def generalLogFeedKeyed(s: SparkSession, d: String): DataFrame = {
    val sqlText = sqlTextFromEvent()
    events(s, d).select(
      col("event_id"),
      col("ts").cast("timestamp").as("event_time"),
      concat(lit("user_"), col("user_id"), lit("[user_"), col("user_id"),
        lit("] @ 10.0."), col("user_id") % 50, lit(".99 []")).as("user_host"),
      when(col("event_id") % 7 === 0, lit("SET GLOBAL slow_query_log = 1"))
        .when(col("event_id") % 5 === 0, concat(lit("0x"), hex(sqlText)))
        .otherwise(sqlText).as("argument"))
  }

  /** The DAM activity view: events → activity_logs analog.
    * Classification columns (operation_type / table_name / status /
    * query_hash) are computed by the real classifier pipelines in
    * [[graft.functions.Classify]] — the same Column pipelines the
    * streaming ingest path uses (reference dam_agent.py:76-123,
    * app.py:255-267,1181).
    */
  /** The activity view is the engine's "materialized at ingest" table
    * (classify-at-ingest, SURVEY §7): derivation (md5 ×2, ordered
    * regex extraction, case chains) is paid once per (session, dir)
    * and cached MEMORY_AND_DISK, mirroring the production layout
    * where these columns are physically stored. ~20 queries share it.
    */
  private val activityCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  def activity(s: SparkSession, d: String): DataFrame =
    activityCache.computeIfAbsent((s, d), { _ =>
      registerCleanup(s)
      deriveActivity(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The classified activity view (severity lattice applied) — these
    * columns are born at ingest in the production layout (the
    * streaming path persists them, reference app.py:405-409), so the
    * serving queries that share them (severity, alerts, rollup,
    * histogram, union feed, threat feed) read a cached frame instead
    * of re-running the regex battery per query.
    */
  private val classifiedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  def classifiedActivity(s: SparkSession, d: String): DataFrame =
    classifiedCache.computeIfAbsent((s, d), { _ =>
      registerCleanup(s)
      graft.operators.Detect.classify(
        activity(s, d), graft.operators.Detect.ipBlacklist(s))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Session-end eviction so stopped sessions don't pin cache entries
    * (and their SparkSession objects) forever in the static map.
    */
  private def registerCleanup(s: SparkSession): Unit =
    if (cleanupRegistered.add(s)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          cleanupRegistered.remove(s)
          val it = activityCache.keySet.iterator()
          while (it.hasNext) if (it.next()._1 eq s) it.remove()
          val it2 = classifiedCache.keySet.iterator()
          while (it2.hasNext) if (it2.next()._1 eq s) it2.remove()
        }
      })
    }

  private def deriveActivity(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Classify
    events(s, d)
      .withColumn("operation_details", sqlTextFromEvent())
      .select(
        col("event_id").as("activity_id"),
        col("user_id"),
        concat(lit("user_"), col("user_id")).as("username"),
        // deterministic role assignment for the J1 enrichment analog
        when(col("user_id") % 7 === 0, "Admin")
          .when(col("user_id") % 3 === 0, "Guest")
          .otherwise("User").as("role"),
        Classify.operationType(col("operation_details")).as("operation_type"),
        Classify.tableNameOf(col("operation_details")).as("table_name"),
        when(col("event_type") === "error", "Failed").otherwise("Success")
          .as("operation_status"),
        col("operation_details"),
        concat(lit("10.0."), col("user_id") % 50, lit("."), col("event_id") % 250)
          .as("ip_address"),
        col("ts").as("access_timestamp"),
        // floor (not cast-truncation) — keeps negative values aligned
        // with the oracle's CAST(floor(value) AS BIGINT)
        floor(col("value")).cast("long").as("rows_affected"),
        md5(col("operation_details")).as("query_hash"))
  }
}
