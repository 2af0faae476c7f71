package graft.rows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Analytics, Detect, TextOps}
import Prelude._

/** The DAM rows (`dam_*`): classification, analytics, detection,
  * compliance, firewall, enrichment and the E1 stream replay over the
  * activity view. */
object DamRows {

  /** Dotted-quad IPv4 column → uint32 BIGINT (DuckDB twin of
    * Analytics.ipToLong). */
  private def ipIntSql(c: String): String =
    s"""(CAST(split_part($c, '.', 1) AS BIGINT) * 16777216 +
  CAST(split_part($c, '.', 2) AS BIGINT) * 65536 +
  CAST(split_part($c, '.', 3) AS BIGINT) * 256 +
  CAST(split_part($c, '.', 4) AS BIGINT))"""

  /** The stream-replay oracle: a batch replay of the full E1
    * streaming pipeline (dam_stream_replay): feed synthesis → skip
    * filter → DISTINCT-triple dedup (≡ the stream's activity_id
    * dedup — the id is xxhash64 of the triple) → hex decode →
    * classifiers → user-dim enrichment → firewall
    * first-match gate (fixture rules; block-action hits excluded from
    * logs/alerts, ALL hits in the blocks sink) → severity lattice
    * rate-keyed on USERNAME (Ingest.start's key) → the three sinks as
    * one normalized union. First-match needs a per-row key and
    * xxhash64 is engine-internal, so a synthesized row_number stands
    * in (never emitted).
    *
    * `batched = false` replays the single-spool run (one micro-batch:
    * global dedup, one rate window, one blacklist anchor).
    * `batched = true` replays the 3-file spool
    * (dam_stream_replay_batched): the feed splits into event-time
    * tertiles (integer epoch-second arithmetic, identical in both
    * engines), every 101st row from an earlier tertile arrives LATE in
    * the final batch, and every 97th tertile-0 row is DUPLICATED into
    * batch 1 — so the oracle must model the cross-batch semantics:
    *
    *  - LATE-EVENT filtering uses the watermark of the PREVIOUS
    *    micro-batch (Spark's two-watermark semantics, SPARK-24634:
    *    operators receive eventTimeWatermarkForLateEvents = the batch
    *    k−1 value, which itself derives from stats through batch k−2),
    *    so batch 2's late filter is the max PARSED event time of
    *    batch 0, floored to milliseconds (EventTimeStats tracks
    *    millis) — verified empirically: tertile-0 stragglers are
    *    dropped, tertile-1 stragglers pass;
    *  - duplicate arrivals collapse to their EARLIEST surviving batch:
    *    a batch-1 copy of a batch-0 row finds the original's dedup
    *    state still alive (eviction runs at the END of the batch, and
    *    its eviction watermark derives from batch-0 stats), so it is
    *    dropped — the fixture plants no third-arrival duplicates, so
    *    post-eviction re-emission never occurs;
    *  - rate windows and the blacklist expiry anchor are PER BATCH
    *    (severityCtesOver(batchCol = Some)).
    */
  private def streamReplayOracleSql(batched: Boolean): String = {
    val skipRe = sqlRe(graft.functions.Classify.SkipPattern)
    val fmt = "%Y-%m-%d %H:%M:%S"
    val feedCtes =
      if (!batched)
        s""", kept AS (
  SELECT DISTINCT event_time, user_host, argument, 0 AS batch FROM raw
  WHERE argument IS NOT NULL AND NOT regexp_matches(argument, '$skipRe')
)"""
      else
        s""", bounds AS (
  SELECT CAST(floor(epoch(min(event_time))) AS BIGINT) AS mn,
    CAST(floor(epoch(max(event_time))) AS BIGINT) AS mx
  FROM raw
), rawb AS (
  SELECT r.*,
    CASE WHEN r.event_id % 101 = 0 AND bb < 2 THEN 2 ELSE bb END AS b,
    (r.event_id % 97 = 0 AND bb = 0 AND r.event_id % 101 <> 0) AS dup_src
  FROM (
    SELECT raw.*,
      least(2, CAST((CAST(floor(epoch(event_time)) AS BIGINT) - b.mn) * 3
        // (b.mx - b.mn + 1) AS INTEGER)) AS bb
    FROM raw, bounds b
  ) r
), feedb AS (
  SELECT event_time, user_host, argument, b AS batch FROM rawb
  UNION ALL
  SELECT event_time, user_host, argument, 1 AS batch FROM rawb WHERE dup_src
), arr AS (
  SELECT * FROM feedb
  WHERE argument IS NOT NULL AND NOT regexp_matches(argument, '$skipRe')
), wmv AS (
  -- the late filter of batch k uses the watermark PUBLISHED for batch
  -- k-1, i.e. stats through batch k-2: batches 0 and 1 filter against
  -- the initial 0 watermark (everything passes), batch 2 against
  -- batch 0's max (millisecond-floored)
  SELECT (SELECT (max(epoch_us(event_time)) // 1000) * 1000
          FROM arr WHERE batch <= 0) AS w2
), arrf AS (
  SELECT a.* FROM arr a, wmv
  WHERE a.batch <= 1
     OR (a.batch = 2 AND epoch_us(a.event_time) >= wmv.w2)
), kept AS (
  SELECT event_time, user_host, argument, min(batch) AS batch
  FROM arrf GROUP BY event_time, user_host, argument
)"""
    s"""WITH ev AS (
  SELECT *, $SqlTextCaseSql AS sql_text
  FROM events
), raw AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS event_time,
    'user_' || user_id || '[user_' || user_id || '] @ 10.0.' || (user_id % 50) || '.99 []' AS user_host,
    CASE WHEN event_id % 7 = 0 THEN 'SET GLOBAL slow_query_log = 1'
         WHEN event_id % 5 = 0 THEN '0x' || hex(sql_text)
         ELSE sql_text END AS argument
  FROM ev
)$feedCtes, decoded AS (
  SELECT row_number() OVER (ORDER BY event_time, user_host, argument) AS rid,
    event_time, user_host, batch,
    substr(CASE WHEN regexp_matches(argument, '^0x(?:[0-9a-fA-F]{2})+$$')
                THEN decode(unhex(substr(argument, 3)))
                ELSE argument END, 1, 1000) AS operation_details
  FROM kept
), udim AS (
  SELECT DISTINCT user_id, 'user_' || user_id AS username,
    CASE WHEN user_id % 7 = 0 THEN 'Admin'
         WHEN user_id % 3 = 0 THEN 'Guest'
         ELSE 'User' END AS role
  FROM events
), parsed AS (
  SELECT rid, batch,
    ${usernameSql("user_host")} AS username,
    ${opCaseSql("operation_details")} AS operation_type,
    ${tblExtractSql("operation_details")} AS table_name,
    CASE WHEN contains(lower(operation_details), 'error')
           OR contains(lower(operation_details), 'failed')
         THEN 'Failed' ELSE 'Success' END AS operation_status,
    operation_details,
    COALESCE(NULLIF(regexp_extract(user_host, '@\\s*([0-9a-fA-F:.]+)', 1), ''), '127.0.0.1') AS ip_address,
    event_time AS access_timestamp,
    md5(operation_details) AS query_hash
  FROM decoded
), sen AS (
  SELECT p.*, u.user_id, COALESCE(u.role, 'Guest') AS role,
    CAST(NULL AS BIGINT) AS rows_affected
  FROM parsed p LEFT JOIN udim u USING (username)
)${matchedCteOf(FirewallRulesCte, "sen", "rid")}, admitted AS (
  SELECT s.* FROM sen s
  WHERE NOT EXISTS (SELECT 1 FROM fw
    WHERE fw.activity_id = s.rid AND fw.action = 'block')
)${severityCtesOver("admitted", "username",
        if (batched) Some("batch") else None)}
SELECT 'log' AS sink, username, ip_address, role, operation_type,
  table_name, operation_status, operation_details AS detail, query_hash,
  severity_ord, severity_level, is_suspicious, suspicious_reasons,
  CAST(events_per_minute AS BIGINT) AS events_per_minute,
  '' AS alert_type, '' AS alert_status, CAST(-1 AS BIGINT) AS rule_id,
  strftime(access_timestamp, '$fmt') AS ts
FROM classified
UNION ALL
SELECT 'alert', '', '', '', '', '', '', suspicious_reasons, '',
  CAST(-1 AS BIGINT), severity_level, FALSE, '', CAST(-1 AS BIGINT),
  CASE WHEN contains(suspicious_reasons, 'SQL Injection') THEN 'SQL Injection'
       WHEN contains(suspicious_reasons, 'sensitive') THEN 'Data Leakage'
       WHEN contains(suspicious_reasons, 'rate limit') THEN 'DoS Attempt'
       ELSE 'Security Violation' END,
  'New', CAST(-1 AS BIGINT), strftime(access_timestamp, '$fmt')
FROM classified WHERE severity_ord >= 2
UNION ALL
SELECT 'block', username, ip_address, '', '', '', '', query_snippet, '',
  CAST(-1 AS BIGINT), '', FALSE, '', CAST(-1 AS BIGINT), '', '',
  CAST(rule_id AS BIGINT), strftime(matched_at, '$fmt')
FROM fw
ORDER BY sink, ts, username, detail"""
  }

  private val StreamReplayOracle: String = streamReplayOracleSql(false)

  private val StreamReplayBatchedOracle: String = streamReplayOracleSql(true)

  /** The stream rows' FIXED-COST FLOOR (round-10 verdict #6): the
    * IDENTICAL Ingest machinery — session spin-up aside, the same
    * readStream, trigger cadence, RocksDB state init, checkpoint
    * commits and three sinks — run over an EMPTY spool (schema-only
    * parquet files, one per would-be micro-batch), so the measured
    * time is pure stream startup + per-trigger overhead with zero
    * pipeline work. [[graft.Bench]] times this beside the real
    * `dam_stream_replay*` rows and records it as `stream_floor`, so
    * the record separates the operating-mode fixed cost (13% of the
    * battery, invariant to pipeline changes) from steady-state work
    * a regression could actually hide in.
    */
  private[graft] def streamReplayFloor(s: SparkSession, d: String,
                                       batched: Boolean): DataFrame =
    streamReplayRun(s, d, batched, floorMode = true)

  /** The E1 stream-replay runner behind dam_stream_replay (single
    * micro-batch) and dam_stream_replay_batched (three micro-batches).
    * Batched mode splits the spool into event-time tertiles (integer
    * epoch-second arithmetic replayed by the oracle), moves every
    * 101st earlier-tertile row into the LAST batch (a late arrival the
    * watermark must drop), duplicates every 97th tertile-0 row into
    * batch 1 (a cross-batch duplicate the watermark dedup must drop),
    * and feeds the files one per micro-batch via maxFilesPerTrigger
    * (modification times + lexicographic names force batch order).
    */
  private def streamReplayRun(s: SparkSession, d: String,
                              batched: Boolean,
                              floorMode: Boolean = false): DataFrame = {
    import graft.streaming.Ingest
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay")
      .toString
    val feedDir = s"$tmp/feed"
    if (floorMode) {
      // schema-only spool: one empty file (three, mtime-staggered, in
      // batched mode) — every trigger fires, no row flows
      val empty = Tables.generalLogFeed(s, d).limit(0)
      if (!batched) empty.coalesce(1).write.mode("overwrite").parquet(feedDir)
      else {
        new java.io.File(feedDir).mkdirs()
        for (k <- 0 to 2) {
          val stage = s"$tmp/stage$k"
          empty.coalesce(1).write.mode("overwrite").parquet(stage)
          val pf = new java.io.File(stage).listFiles()
            .find(_.getName.startsWith("part-")).get
          val dest = new java.io.File(feedDir, f"batch-$k%02d.parquet")
          java.nio.file.Files.move(pf.toPath, dest.toPath)
          dest.setLastModified(1600000000000L + k * 60000L)
          ()
        }
      }
    } else if (!batched)
      Tables.generalLogFeed(s, d).coalesce(1)
        .write.mode("overwrite").parquet(feedDir)
    else {
      val keyed = Tables.generalLogFeedKeyed(s, d)
      val es = col("event_time").cast("long")
      val bounds = keyed.agg(min(es).as("mn"), max(es).as("mx")).collect()(0)
      val mn = bounds.getLong(0)
      val span = bounds.getLong(1) - mn + 1
      val assigned = keyed
        .withColumn("__bb", least(lit(2),
          floor(((es - mn) * 3).cast("double") / span).cast("int")))
        .withColumn("__b",
          when(col("event_id") % 101 === 0 && col("__bb") < 2, lit(2))
            .otherwise(col("__bb")))
        .persist()
      new java.io.File(feedDir).mkdirs()
      val cols = Seq(col("event_time"), col("user_host"), col("argument"))
      for (k <- 0 to 2) {
        val part = assigned.filter(col("__b") === k).select(cols: _*)
        val rows =
          if (k == 1) part.unionByName(
            assigned.filter(col("__bb") === 0 && col("event_id") % 97 === 0 &&
              col("event_id") % 101 =!= 0).select(cols: _*))
          else part
        val stage = s"$tmp/stage$k"
        rows.coalesce(1).write.mode("overwrite").parquet(stage)
        val pf = new java.io.File(stage).listFiles()
          .find(_.getName.startsWith("part-")).get
        val dest = new java.io.File(feedDir, f"batch-$k%02d.parquet")
        java.nio.file.Files.move(pf.toPath, dest.toPath)
        dest.setLastModified(1600000000000L + k * 60000L)
        ()
      }
      assigned.unpersist()
      ()
    }
    // Stream-side SESSION CLONE with state/shuffle partitions sized
    // to the micro-batch volume (round-12 verdict #4): the floor's
    // dominant per-trigger cost is one state-store lifecycle (RocksDB
    // open + scan + changelog commit) PER STATE PARTITION per batch,
    // and the caller's 32 analytic shuffle partitions mean 32 state
    // stores for a ≤15k-row micro-batch. 8 keeps the same semantics
    // (dedup results are partition-count-invariant) at a quarter of
    // the fixed cost. Cloned so the setting never leaks into the
    // caller's session.
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val users = Tables.events(ss, d).select(col("user_id")).distinct()
      .select(col("user_id"),
        concat(lit("user_"), col("user_id")).as("username"),
        when(col("user_id") % 7 === 0, "Admin")
          .when(col("user_id") % 3 === 0, "Guest")
          .otherwise("User").as("role"))
    val reader = ss.readStream.schema(Tables.GeneralLogSchema)
    val source = (if (batched) reader.option("maxFilesPerTrigger", "1")
                  else reader).parquet(feedDir)
    val q = Ingest.start(ss, source, users,
      Ingest.IngestConfig(s"$tmp/logs", s"$tmp/alerts", s"$tmp/ckpt",
        triggerMs = 0L, blocksDir = Some(s"$tmp/blocks")))
    try q.processAllAvailable() finally q.stop()
    // a zero-row replay (the floor run's empty spool) never creates
    // the sink dirs at all — materialize them so the schema-explicit
    // reads below contribute zero rows instead of PATH_NOT_FOUND
    Seq("logs", "alerts", "blocks").foreach { sub =>
      new java.io.File(s"$tmp/$sub").mkdirs(); ()
    }
      val eS = lit("").cast("string")
      val eL = lit(-1L)
      val eB = lit(false)
      // explicit sink schemas: an empty micro-batch leaves a sink dir
      // holding only _SUCCESS, and schema INFERENCE would throw there
      // instead of contributing zero rows
      import org.apache.spark.sql.types._
      val logsSchema = StructType(Seq(
        StructField("username", StringType), StructField("ip_address", StringType),
        StructField("role", StringType), StructField("operation_type", StringType),
        StructField("table_name", StringType), StructField("operation_status", StringType),
        StructField("operation_details", StringType), StructField("query_hash", StringType),
        StructField("activity_id", LongType), StructField("user_id", LongType),
        StructField("rows_affected", LongType),
        StructField("access_timestamp", TimestampType),
        StructField("events_per_minute", LongType),
        StructField("severity_ord", LongType), StructField("severity_level", StringType),
        StructField("suspicious_reasons", StringType),
        StructField("is_suspicious", BooleanType)))
      val alertsSchema = StructType(Seq(
        StructField("activity_id", LongType), StructField("alert_type", StringType),
        StructField("severity", StringType), StructField("description", StringType),
        StructField("status", StringType), StructField("created_at", TimestampType)))
      val blocksSchema = StructType(Seq(
        StructField("rule_id", IntegerType), StructField("username", StringType),
        StructField("ip_address", StringType), StructField("query_snippet", StringType),
        StructField("blocked_at", TimestampType)))
      val logs = s.read.schema(logsSchema).parquet(s"$tmp/logs").select(
        lit("log").as("sink"), col("username"), col("ip_address"),
        col("role"), col("operation_type"), col("table_name"),
        col("operation_status"), col("operation_details").as("detail"),
        col("query_hash"), col("severity_ord"), col("severity_level"),
        col("is_suspicious"), col("suspicious_reasons"),
        col("events_per_minute").cast("long").as("events_per_minute"),
        eS.as("alert_type"), eS.as("alert_status"), eL.as("rule_id"),
        fmtTs(col("access_timestamp")).as("ts"))
      val alerts = s.read.schema(alertsSchema).parquet(s"$tmp/alerts").select(
        lit("alert").as("sink"), eS.as("username"), eS.as("ip_address"),
        eS.as("role"), eS.as("operation_type"), eS.as("table_name"),
        eS.as("operation_status"), col("description").as("detail"),
        eS.as("query_hash"), eL.as("severity_ord"),
        col("severity").as("severity_level"), eB.as("is_suspicious"),
        eS.as("suspicious_reasons"), eL.as("events_per_minute"),
        col("alert_type"), col("status").as("alert_status"),
        eL.as("rule_id"), fmtTs(col("created_at")).as("ts"))
      val blocks = s.read.schema(blocksSchema).parquet(s"$tmp/blocks").select(
        lit("block").as("sink"), col("username"), col("ip_address"),
        eS.as("role"), eS.as("operation_type"), eS.as("table_name"),
        eS.as("operation_status"), col("query_snippet").as("detail"),
        eS.as("query_hash"), eL.as("severity_ord"),
        eS.as("severity_level"), eB.as("is_suspicious"),
        eS.as("suspicious_reasons"), eL.as("events_per_minute"),
        eS.as("alert_type"), eS.as("alert_status"),
        col("rule_id").cast("long").as("rule_id"),
        fmtTs(col("blocked_at")).as("ts"))
      // pin the union into the session's block store, then delete the
      // spool/checkpoint/sink files — a lazily-read temp dir would leak
      // one full copy of the feed + sinks per invocation (bench runs
      // each query several times)
      val pinned = logs.unionByName(alerts).unionByName(blocks)
        .localCheckpoint(true)
      def deleteRec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(deleteRec))
        f.delete(); ()
      }
      deleteRec(new java.io.File(tmp))
      pinned.orderBy(col("sink"), col("ts"), col("username"), col("detail"))
  }

  /** DuckDB replica of Detect.complianceFindings over source relation
    * `src` — generated from the same table-set constants as the Spark
    * side (reference app.py:477-485: GDPR = sensitive table ∧ falsy
    * user_id; SOX = accounts/financial/transactions UPDATE/DELETE with
    * rows_affected truthiness; PCI_DSS = payments/credit_cards).
    */
  private def complianceFindingsSql(src: String): String = {
    val sensTables = Detect.SensitiveTables.map(t => s"'$t'").mkString(", ")
    val soxTables = Detect.SoxTables.map(t => s"'$t'").mkString(", ")
    val pciTables = Detect.PciTables.map(t => s"'$t'").mkString(", ")
    s"""SELECT activity_id, username, 'GDPR' AS standard,
    'Personal data access without user identification' AS finding,
    'Non-compliant' AS status
  FROM $src WHERE table_name IN ($sensTables)
    AND (user_id IS NULL OR CAST(user_id AS VARCHAR) = '0')
  UNION ALL
  SELECT activity_id, username, 'SOX', 'Financial data modification',
    CASE WHEN rows_affected IS NOT NULL AND rows_affected <> 0
         THEN 'Compliant' ELSE 'Review needed' END
  FROM $src WHERE table_name IN ($soxTables)
    AND operation_type IN ('UPDATE', 'DELETE')
  UNION ALL
  SELECT activity_id, username, 'PCI_DSS', 'Cardholder data access detected',
    'Monitored'
  FROM $src WHERE table_name IN ($pciTables)"""
  }

  /** Period-windowed compliance report oracle (Detect.complianceReport):
    * `cond` filters activity against the max-timestamp anchor `m`.
    */
  private def complianceReportSql(cond: String): String = act(
    s""", mx AS (SELECT max(access_timestamp) AS m FROM activity),
win AS (SELECT a.* FROM activity a, mx WHERE $cond)
SELECT standard, status, count(*) AS n, count(DISTINCT username) AS distinct_users
FROM (
  ${complianceFindingsSql("win")}
) GROUP BY 1, 2 ORDER BY 1, 2""")

  private def classified(s: SparkSession, d: String): DataFrame =
    Tables.classifiedActivity(s, d)

  val rows: Seq[Row] = Seq(
    // ---- DAM classification pipelines (C1-C3, P9, S5) ----
    Row("dam_classify", (s, d) => Tables.activity(s, d)
      .select(col("activity_id"), col("user_id"), col("username"), col("role"),
        col("operation_type"), col("table_name"), col("operation_status"),
        col("ip_address"), col("rows_affected"), col("query_hash"))
      .orderBy(col("activity_id")),
      act("""SELECT activity_id, user_id, username, role, operation_type, table_name,
  operation_status, ip_address, rows_affected, query_hash
FROM activity ORDER BY activity_id""")),
    // ---- DAM analytics (A1-A9, W1-W2, P4) ----
    Row("dam_stats", (s, d) => Analytics.stats(Tables.activity(s, d)),
      act("""SELECT count(*) AS total_activities,
  count(CASE WHEN operation_status = 'Failed' THEN 1 END) AS failed_activities,
  count(CASE WHEN operation_type = 'SELECT' THEN 1 END) AS select_count,
  count(CASE WHEN operation_type = 'INSERT' THEN 1 END) AS insert_count,
  count(CASE WHEN operation_type = 'UPDATE' THEN 1 END) AS update_count,
  count(CASE WHEN operation_type = 'DELETE' THEN 1 END) AS delete_count,
  count(DISTINCT user_id) AS distinct_users,
  CAST(sum(COALESCE(rows_affected, 0)) AS BIGINT) AS total_rows_affected
FROM activity""")),
    Row("dam_ops_by_type", (s, d) => Analytics.opsByType(Tables.activity(s, d)),
      act("""SELECT operation_type, count(*) AS n,
  CAST(sum(COALESCE(rows_affected, 0)) AS BIGINT) AS rows_total
FROM activity GROUP BY operation_type ORDER BY operation_type""")),
    Row("dam_top_users", (s, d) => Analytics.topUsers(Tables.activity(s, d)),
      act("""SELECT username, count(*) AS n FROM activity
GROUP BY username ORDER BY n DESC, username LIMIT 5""")),
    Row("dam_timeline_hourly", (s, d) =>
      Analytics.timelineHourly(Tables.activity(s, d)),
      act("""SELECT strftime(date_trunc('hour', access_timestamp), '%Y-%m-%d %H:00') AS bucket,
  count(*) AS n,
  count(CASE WHEN operation_status = 'Failed' THEN 1 END) AS n_failed,
  CAST(sum(COALESCE(rows_affected, 0)) AS BIGINT) AS rows_total
FROM activity GROUP BY 1 ORDER BY 1""")),
    Row("dam_behavior_profile", (s, d) =>
      Analytics.behaviorProfile(Tables.activity(s, d)),
      act("""SELECT hour(access_timestamp) AS hr, operation_type, count(*) AS n
FROM activity GROUP BY 1, 2 ORDER BY 1, 2""")),
    Row("dam_user_baseline", (s, d) =>
      Analytics.userBaseline(Tables.activity(s, d)),
      act(""", hourly AS (
  SELECT user_id, CAST(access_timestamp AS DATE) AS d,
    hour(access_timestamp) AS h, count(*) AS cnt
  FROM activity GROUP BY 1, 2, 3
), agg AS (
  SELECT user_id, count(*) AS n, CAST(sum(cnt) AS BIGINT) AS s,
    CAST(sum(cnt * cnt) AS BIGINT) AS s2
  FROM hourly GROUP BY user_id
)
SELECT user_id,
  round(CAST(s AS DOUBLE) / n, 4) AS avg_per_hour,
  round(sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * n)), 4) AS std_per_hour,
  n AS active_hours
FROM agg ORDER BY user_id""")),
    Row("dam_rate_per_minute", (s, d) =>
      Analytics.ratePerMinute(Tables.activity(s, d)),
      act("""SELECT user_id,
  strftime(date_trunc('minute', access_timestamp), '%Y-%m-%d %H:%M') AS minute,
  count(*) AS n, (count(*) > 100) AS over_limit
FROM activity GROUP BY 1, 2 ORDER BY user_id, minute""")),
    Row("dam_anomaly_zscore", (s, d) =>
      Analytics.anomalyZScore(Tables.activity(s, d)),
      act(""", mx AS (SELECT max(access_timestamp) AS m FROM activity),
recent AS (
  SELECT user_id, count(*) AS recent_cnt FROM activity, mx
  WHERE access_timestamp >= m - INTERVAL 1 HOUR GROUP BY user_id
), hourly AS (
  SELECT user_id, CAST(access_timestamp AS DATE) AS d,
    hour(access_timestamp) AS h, count(*) AS cnt
  FROM activity GROUP BY 1, 2, 3
), base AS (
  SELECT user_id, count(*) AS n, CAST(sum(cnt) AS BIGINT) AS s,
    CAST(sum(cnt * cnt) AS BIGINT) AS s2
  FROM hourly GROUP BY user_id
)
SELECT r.user_id, r.recent_cnt,
  round(CAST(s AS DOUBLE) / n, 4) AS avg_cnt,
  round(sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * n)), 4) AS std_cnt,
  (r.recent_cnt > CAST(s AS DOUBLE) / n + 3 * sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * n))) AS is_anomalous
FROM recent r JOIN base b ON r.user_id = b.user_id ORDER BY r.user_id""")),
    Row("dam_anomaly_mad", (s, d) =>
      Analytics.madAnomalies(Tables.activity(s, d)),
      act(""", hourly AS (
  SELECT user_id, CAST(access_timestamp AS DATE) AS d,
    hour(access_timestamp) AS h, count(*) AS cnt
  FROM activity GROUP BY 1, 2, 3
), med AS (
  SELECT user_id, quantile_cont(cnt, 0.5) AS med FROM hourly GROUP BY user_id
), mad AS (
  SELECT h.user_id, quantile_cont(abs(h.cnt - m.med), 0.5) AS mad, any_value(m.med) AS med
  FROM hourly h JOIN med m USING (user_id) GROUP BY h.user_id
)
SELECT h.user_id, strftime(h.d, '%Y-%m-%d') AS day,
  CAST(h.h AS BIGINT) AS hr, h.cnt,
  round(x.med, 4) AS med, round(x.mad, 4) AS mad
FROM hourly h JOIN mad x USING (user_id)
WHERE abs(h.cnt - x.med) > 3.0 * greatest(x.mad, 0.5)
ORDER BY h.user_id, day, hr""")),
    Row("dam_timeline_dense", (s, d) =>
      Analytics.timelineDense(Tables.activity(s, d)),
      act(""", bounds AS (
  SELECT date_trunc('hour', min(access_timestamp)) AS t0,
    date_trunc('hour', max(access_timestamp)) AS t1
  FROM activity
), spine AS (
  SELECT strftime(unnest(generate_series(t0, t1, INTERVAL 1 HOUR)), '%Y-%m-%d %H:00') AS bucket
  FROM bounds
), counts AS (
  SELECT strftime(date_trunc('hour', access_timestamp), '%Y-%m-%d %H:00') AS bucket,
    count(*) AS n
  FROM activity GROUP BY 1
)
SELECT s.bucket, COALESCE(c.n, 0) AS n
FROM spine s LEFT JOIN counts c USING (bucket)
ORDER BY s.bucket""")),
    Row("dam_ip_switches", (s, d) => Analytics.ipSwitches(Tables.activity(s, d)),
      act(""", w AS (
  SELECT username, activity_id, ip_address, access_timestamp,
    lag(ip_address) OVER (PARTITION BY username ORDER BY access_timestamp, activity_id) AS prev_ip,
    lag(access_timestamp) OVER (PARTITION BY username ORDER BY access_timestamp, activity_id) AS prev_ts
  FROM activity
)
SELECT username, activity_id, ip_address, prev_ip,
  CAST(floor(epoch(access_timestamp)) - floor(epoch(prev_ts)) AS BIGINT) AS gap_seconds
FROM w
WHERE prev_ip IS NOT NULL AND prev_ip <> ip_address
  AND access_timestamp <= prev_ts + INTERVAL 1 HOUR
ORDER BY username, activity_id""")),
    Row("dam_latest_failed", (s, d) =>
      Analytics.latest(Tables.activity(s, d), 50, status = Some("Failed"))
        .select(col("activity_id"), col("username"), col("operation_type"),
          col("table_name"), col("ip_address"),
          fmtTs(col("access_timestamp")).as("access_ts"))
        .orderBy(col("activity_id")),
      act("""SELECT activity_id, username, operation_type, table_name, ip_address,
  strftime(access_timestamp, '%Y-%m-%d %H:%M:%S') AS access_ts
FROM (
  SELECT * FROM activity WHERE operation_status = 'Failed'
  ORDER BY access_timestamp DESC, activity_id DESC LIMIT 50
) ORDER BY activity_id""")),
    // the CSV export frame (S8, app.py:626-636 + 1215-1226): latest
    // 1000 activities, ISO-8601 timestamps — the exact rows
    // TableRegistry.exportCsv serializes
    Row("dam_export_csv", (s, d) =>
      Analytics.latest(Tables.activity(s, d), 1000)
        .select(col("activity_id"), col("username"), col("operation_type"),
          col("table_name"), col("operation_status"), col("ip_address"),
          date_format(col("access_timestamp"), "yyyy-MM-dd'T'HH:mm:ss")
            .as("access_timestamp"))
        .orderBy(col("activity_id")),
      act("""SELECT activity_id, username, operation_type, table_name,
  operation_status, ip_address,
  strftime(access_timestamp, '%Y-%m-%dT%H:%M:%S') AS access_timestamp
FROM (
  SELECT * FROM activity
  ORDER BY access_timestamp DESC, activity_id DESC LIMIT 1000
) ORDER BY activity_id""")),
    // ---- DAM detection engines (C4-C6, J3, J4+W3) ----
    Row("dam_severity", (s, d) => classified(s, d)
      .select(col("activity_id"), col("operation_type"), col("table_name"),
        col("role"), col("severity_ord"), col("severity_level"),
        col("is_suspicious"), col("suspicious_reasons"))
      .orderBy(col("activity_id")),
      sev("""SELECT activity_id, operation_type, table_name, role, severity_ord,
  severity_level, is_suspicious, suspicious_reasons
FROM classified ORDER BY activity_id""")),
    Row("dam_alerts", (s, d) => Detect.deriveAlerts(classified(s, d))
      .select(col("activity_id"), col("username"), col("alert_type"),
        col("severity_level"), col("alert_status"))
      .orderBy(col("activity_id")),
      sev("""SELECT activity_id, username,
  CASE WHEN contains(suspicious_reasons, 'SQL Injection') THEN 'SQL Injection'
       WHEN contains(suspicious_reasons, 'sensitive') THEN 'Data Leakage'
       WHEN contains(suspicious_reasons, 'rate limit') THEN 'DoS Attempt'
       ELSE 'Security Violation' END AS alert_type,
  severity_level, 'New' AS alert_status
FROM classified WHERE severity_ord >= 2 ORDER BY activity_id""")),
    Row("dam_compliance", (s, d) =>
      Detect.complianceFindings(Tables.activity(s, d))
        .orderBy(col("activity_id"), col("standard")),
      act(s"""SELECT activity_id, username, standard, finding, status FROM (
  ${complianceFindingsSql("activity")}
) ORDER BY activity_id, standard""")),
    Row("dam_compliance_summary", (s, d) =>
      Detect.complianceFindings(Tables.activity(s, d))
        .groupBy(col("standard"), col("status"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("username")).as("distinct_users"))
        .orderBy(col("standard"), col("status")),
      act(s"""SELECT standard, status, count(*) AS n,
  count(DISTINCT username) AS distinct_users
FROM (
  ${complianceFindingsSql("activity")}
) GROUP BY 1, 2 ORDER BY 1, 2""")),
    // ---- period-windowed compliance reports (app.py:489-495) ----
    Row("dam_compliance_daily", (s, d) =>
      Detect.complianceReport(Tables.activity(s, d), "daily"),
      complianceReportSql(
      "CAST(access_timestamp AS DATE) = CAST(m AS DATE)")),
    Row("dam_compliance_weekly", (s, d) =>
      Detect.complianceReport(Tables.activity(s, d), "weekly"),
      complianceReportSql(
      "access_timestamp >= m - INTERVAL 7 DAY")),
    Row("dam_compliance_monthly", (s, d) =>
      Detect.complianceReport(Tables.activity(s, d), "monthly"),
      complianceReportSql(
      "access_timestamp >= m - INTERVAL 30 DAY")),
    // the generate_report statistics envelope (app.py:497-509):
    // total_activities / non_compliant_count / standards_covered
    Row("dam_compliance_envelope", (s, d) =>
      Detect.complianceEnvelope(Tables.activity(s, d), "monthly"),
      act(s""", mx AS (SELECT max(access_timestamp) AS m FROM activity),
win AS (SELECT a.* FROM activity a, mx WHERE access_timestamp >= m - INTERVAL 30 DAY),
f AS (
  ${complianceFindingsSql("win")}
)
SELECT 'monthly' AS report_type,
  (SELECT count(*) FROM win) AS total_activities,
  (SELECT count(*) FROM f) AS non_compliant_count,
  '${Detect.ComplianceStandards.mkString(",")}' AS standards_covered""")),
    // ---- failed-login lockouts + hourly failure feed ----
    // maxAttempts/threshold tightened vs the reference defaults (5 /
    // 10) so the synthetic activity stream actually exercises them
    Row("dam_lockouts", (s, d) =>
      Detect.lockouts(Tables.activity(s, d), maxAttempts = 3)
        .select(col("username"), col("activity_id"),
          fmtTs(col("locked_at")).as("locked_at"), col("failed_attempts"),
          fmtTs(col("locked_until")).as("locked_until"))
        .orderBy(col("username"), col("activity_id")),
      act(""", w1 AS (
  SELECT username, activity_id, operation_status, access_timestamp,
    sum(CASE WHEN operation_status = 'Failed' THEN 1 ELSE 0 END) OVER
      (PARTITION BY username ORDER BY access_timestamp, activity_id
       ROWS UNBOUNDED PRECEDING) AS run_failed
  FROM activity
), w2 AS (
  SELECT *, last_value(CASE WHEN operation_status = 'Success' THEN run_failed END IGNORE NULLS) OVER
      (PARTITION BY username ORDER BY access_timestamp, activity_id
       ROWS UNBOUNDED PRECEDING) AS at_success
  FROM w1
)
SELECT username, activity_id,
  strftime(access_timestamp, '%Y-%m-%d %H:%M:%S') AS locked_at,
  CAST(run_failed - COALESCE(at_success, 0) AS BIGINT) AS failed_attempts,
  strftime(access_timestamp + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS locked_until
FROM w2
WHERE operation_status = 'Failed' AND run_failed - COALESCE(at_success, 0) = 3
ORDER BY username, activity_id""")),
    Row("dam_failed_hourly", (s, d) =>
      Detect.failedHourly(Tables.activity(s, d), threshold = 1)
        .select(col("username"),
          date_format(col("hour_bucket"), "yyyy-MM-dd HH:00").as("hour_bucket"),
          col("n_failed"))
        .orderBy(col("username"), col("hour_bucket")),
      act("""SELECT username,
  strftime(date_trunc('hour', access_timestamp), '%Y-%m-%d %H:00') AS hour_bucket,
  count(*) AS n_failed
FROM activity WHERE operation_status = 'Failed'
GROUP BY username, date_trunc('hour', access_timestamp)
HAVING count(*) > 1
ORDER BY username, hour_bucket""")),
    // ---- recent-threats feed (E2 payload, app.py:305) ----
    Row("dam_threat_feed", (s, d) => classified(s, d)
      .filter(col("is_suspicious"))
      .orderBy(col("access_timestamp").desc, col("activity_id").desc)
      .limit(10)
      .select(col("activity_id"), col("username"), col("severity_level"),
        col("suspicious_reasons"), fmtTs(col("access_timestamp")).as("access_ts"))
      .orderBy(col("activity_id")),
      sev("""SELECT activity_id, username, severity_level, suspicious_reasons,
  strftime(access_timestamp, '%Y-%m-%d %H:%M:%S') AS access_ts
FROM (
  SELECT * FROM classified WHERE is_suspicious
  ORDER BY access_timestamp DESC, activity_id DESC LIMIT 10
) ORDER BY activity_id""")),
    Row("dam_firewall", (s, d) => Detect.firewallMatch(
      Tables.activity(s, d), Detect.firewallRules(s))
      .select(col("activity_id"), col("username"), col("ip_address"),
        col("rule_id"), col("description"), col("action"), col("priority"),
        col("query_snippet"))
      .orderBy(col("activity_id")),
      act(FirewallMatchedCte +
      """
SELECT activity_id, username, ip_address, rule_id, description, action,
  priority, query_snippet
FROM fw ORDER BY activity_id""")),
    // the firewall_blocks table feed (app.py:845-848, DDL
    // app.py:1489-1497): every first-match hit is recorded, whatever
    // its action — only action='block' additionally suppresses the log
    // row (the E1 wiring in Ingest.start)
    Row("dam_firewall_blocks", (s, d) => Detect.firewallMatch(
      Tables.activity(s, d), Detect.firewallRules(s))
      .select(col("activity_id"), col("rule_id"), col("description"),
        col("username"), col("ip_address"), col("query_snippet"),
        fmtTs(col("matched_at")).as("blocked_at"))
      .orderBy(col("activity_id")),
      act(FirewallMatchedCte +
      """
SELECT activity_id, rule_id, description, username, ip_address,
  query_snippet, strftime(matched_at, '%Y-%m-%d %H:%M:%S') AS blocked_at
FROM fw ORDER BY activity_id""")),
    // the rules-listing endpoint (GET /api/v2/firewall/rules,
    // app.py:1311-1315: ORDER BY priority ASC)
    Row("dam_firewall_rules", (s, d) => Detect.firewallRules(s)
      .orderBy(col("priority"), col("rule_id")),
      (s"WITH $FirewallRulesCte\n" +
      """SELECT rule_id, pattern, description, match_type, action, priority,
  applies_to_user, applies_to_ip, is_active
FROM rules ORDER BY priority, rule_id""")),
    // the same endpoint over the PRODUCTION profile: the reference's 7
    // verbatim regex seeds (app.py:1531-1539) a fresh warehouse ships
    Row("dam_firewall_rules_reference", (s, d) =>
      Detect.firewallRules(s, "reference")
        .orderBy(col("priority"), col("rule_id")),
      (s"WITH $ReferenceRulesCte\n" +
      """SELECT rule_id, pattern, description, match_type, action, priority,
  applies_to_user, applies_to_ip, is_active
FROM rules ORDER BY priority, rule_id""")),
    // first-match over the production seeds — exercises the regex-only
    // battery (e.g. `union.*select` catches UNION ALL SELECT, which the
    // fixture's contains-rule misses)
    Row("dam_firewall_reference", (s, d) => Detect.firewallMatch(
      Tables.activity(s, d), Detect.firewallRules(s, "reference"))
      .select(col("activity_id"), col("username"), col("ip_address"),
        col("rule_id"), col("description"), col("action"), col("priority"),
        col("query_snippet"))
      .orderBy(col("activity_id")),
      act(ReferenceMatchedCte +
      """
SELECT activity_id, username, ip_address, rule_id, description, action,
  priority, query_snippet
FROM fw ORDER BY activity_id""")),
    // the blocks feed (GET /api/v2/firewall/blocks, app.py:1337-1341:
    // ORDER BY blocked_at DESC LIMIT 100)
    Row("dam_blocks_feed", (s, d) => Detect.firewallMatch(
      Tables.activity(s, d), Detect.firewallRules(s))
      .orderBy(col("matched_at").desc, col("activity_id").desc)
      .limit(100)
      .select(col("activity_id"), col("rule_id"), col("username"),
        col("ip_address"), col("query_snippet"),
        fmtTs(col("matched_at")).as("blocked_at"))
      .orderBy(col("activity_id")),
      act(FirewallMatchedCte +
      """
SELECT activity_id, rule_id, username, ip_address, query_snippet,
  strftime(matched_at, '%Y-%m-%d %H:%M:%S') AS blocked_at
FROM (
  SELECT * FROM fw ORDER BY matched_at DESC, activity_id DESC LIMIT 100
) ORDER BY activity_id""")),
    Row("dam_blacklist_hits", (s, d) => Tables.activity(s, d)
      .join(broadcast(Detect.activeBlacklist(Tables.activity(s, d),
        Detect.ipBlacklist(s)).select("ip_address")),
        Seq("ip_address"), "left_semi")
      .select(col("activity_id"), col("username"), col("ip_address"))
      .orderBy(col("activity_id")),
      act(BlacklistCtes +
      """
SELECT activity_id, username, ip_address FROM activity
WHERE ip_address IN (SELECT ip_address FROM abl) ORDER BY activity_id""")),
    // ---- enrichment / set ops / sessions (A10, J5, S4, windows) ----
    Row("dam_geo_top", (s, d) =>
      Analytics.geoTopCountries(Tables.activity(s, d)),
      act(""", geo AS (
  SELECT o AS octet,
    CASE o % 5 WHEN 0 THEN 'US' WHEN 1 THEN 'IN' WHEN 2 THEN 'DE'
               WHEN 3 THEN 'BR' ELSE 'JP' END AS country
  FROM range(50) t(o)
)
SELECT country, count(*) AS n
FROM activity a JOIN geo g
  ON CAST(string_split(a.ip_address, '.')[3] AS BIGINT) = g.octet
GROUP BY country ORDER BY n DESC, country LIMIT 10""")),
    // CIDR range-table geo enrichment: the range join runs as a
    // broadcast EQUI-join on /24 blocks (dim exploded across the
    // blocks each range spans) with the lo<=ip<=hi residual — no
    // nested loop, no fact shuffle; uncovered tail -> 'unknown'
    Row("dam_geo_range", (s, d) =>
      Analytics.geoRangeLookup(Tables.activity(s, d),
          Analytics.geoRangeDim(s), prefixBits = 24)
        .groupBy(coalesce(col("country"), lit("unknown")).as("country"))
        .agg(count(lit(1)).as("hits"),
          count_distinct(col("user_id")).as("users"))
        .orderBy(col("country")),
      // range-table enrichment: DuckDB states the range join directly
      // (its IEJoin handles BETWEEN natively); the engine's prefix
      // blocking is a physical strategy, not a semantic one
      act(s""", geod(lo_s, hi_s, country) AS (VALUES
  ${Analytics.GeoRangeSeed.map { case (lo, hi, c) =>
        s"('$lo', '$hi', '$c')" }.mkString(",\n  ")}
), g AS (
  SELECT ${ipIntSql("lo_s")} AS lo, ${ipIntSql("hi_s")} AS hi, country
  FROM geod
), a2 AS (
  SELECT user_id, ${ipIntSql("ip_address")} AS ip_int FROM activity
)
SELECT COALESCE(g.country, 'unknown') AS country,
  count(*) AS hits, count(DISTINCT user_id) AS users
FROM a2 LEFT JOIN g ON a2.ip_int BETWEEN g.lo AND g.hi
GROUP BY 1 ORDER BY 1""")),
    Row("dam_orphans", (s, d) => Analytics.orphanActivity(
      Tables.activity(s, d),
      Tables.customer(s, d).select("c_custkey"), "c_custkey"),
      act("""SELECT user_id, count(*) AS n FROM activity
WHERE user_id NOT IN (SELECT c_custkey FROM customer)
GROUP BY user_id ORDER BY user_id""")),
    Row("dam_union_feed", (s, d) => {
      // single severity pass: both feed branches derived with one
      // generator instead of unioning two copies of the classify plan
      val cls = classified(s, d)
        .join(broadcast(Detect.activeBlacklist(Tables.activity(s, d),
          Detect.ipBlacklist(s)).select(col("ip_address"),
          lit(true).as("is_black"))), Seq("ip_address"), "left")
      cls.select(col("activity_id"), explode(array_compact(array(
          when(col("severity_ord") >= 2, "alert"),
          when(coalesce(col("is_black"), lit(false)), "blacklist"))))
        .as("src"))
        .orderBy(col("activity_id"), col("src"))
    },
      sev(s"""SELECT activity_id, src FROM (
  SELECT activity_id, 'alert' AS src FROM classified WHERE severity_ord >= 2
  UNION ALL
  SELECT activity_id, 'blacklist' AS src FROM classified
  WHERE ip_address IN (SELECT ip_address FROM abl)
) ORDER BY activity_id, src""")),
    // ---- agent parse pipeline end-to-end (S1, C1-C3, P9, P10) ----
    Row("dam_agent_parse", (s, d) => {
      graft.streaming.Ingest.parseGeneralLog(Tables.generalLogFeed(s, d))
        .select(col("username"), col("operation_type"), col("table_name"),
          col("operation_status"), col("operation_details"),
          col("ip_address"), col("query_hash"),
          fmtTs(col("access_timestamp")).as("event_ts"))
        .orderBy(col("event_ts"), col("query_hash"))
    },
      {
        val skipRe = sqlRe(graft.functions.Classify.SkipPattern)
        s"""WITH ev AS (
  SELECT *, $SqlTextCaseSql AS sql_text
  FROM events
), raw AS (
  SELECT ts AS event_time,
    'user_' || user_id || '[user_' || user_id || '] @ 10.0.' || (user_id % 50) || '.99 []' AS user_host,
    CASE WHEN event_id % 7 = 0 THEN 'SET GLOBAL slow_query_log = 1'
         WHEN event_id % 5 = 0 THEN '0x' || hex(sql_text)
         ELSE sql_text END AS argument
  FROM ev
), kept AS (
  SELECT * FROM raw
  WHERE argument IS NOT NULL AND NOT regexp_matches(argument, '$skipRe')
), decoded AS (
  SELECT event_time, user_host,
    substr(CASE WHEN regexp_matches(argument, '^0x(?:[0-9a-fA-F]{2})+$$')
                THEN decode(unhex(substr(argument, 3)))
                ELSE argument END, 1, 1000) AS operation_details
  FROM kept
)
SELECT
  ${usernameSql("user_host")} AS username,
  ${opCaseSql("operation_details")} AS operation_type,
  ${tblExtractSql("operation_details")} AS table_name,
  CASE WHEN contains(lower(operation_details), 'error')
         OR contains(lower(operation_details), 'failed')
       THEN 'Failed' ELSE 'Success' END AS operation_status,
  operation_details,
  COALESCE(NULLIF(regexp_extract(user_host, '@\\s*([0-9a-fA-F:.]+)', 1), ''), '127.0.0.1') AS ip_address,
  md5(operation_details) AS query_hash,
  strftime(event_time, '%Y-%m-%d %H:%M:%S') AS event_ts
FROM decoded ORDER BY event_ts, query_hash"""
      }),
    // ---- E1 ingest pipeline END-TO-END as a checked row (round-4
    //      verdict #2): the deterministic general_log feed (same
    //      synthesis as dam_agent_parse) is written to a spool, run
    //      through the REAL streaming pipeline (Ingest.start: watermark
    //      dedup → parse → role enrichment → firewall gate → classify →
    //      logs/alerts/blocks sinks) to completion, and the three sink
    //      tables are read back as one normalized union that the oracle
    //      replays with batch SQL. One micro-batch (single spool file +
    //      AvailableNow-equivalent processAllAvailable), so the
    //      per-batch rate window and blacklist anchor equal their batch
    //      formulations. Cross-engine content only: the xxhash64
    //      activity_id is engine-internal, so the oracle dedups on the
    //      raw (event_time, user_host, argument) triple — equivalent by
    //      construction (the id is a function of the triple) — and
    //      sentinel values ('' / -1 / false) stand in for
    //      sink-inapplicable columns to keep dtypes NULL-free.
    Row("dam_stream_replay", (s, d) => streamReplayRun(s, d, batched = false),
      StreamReplayOracle),
    // the MULTI-batch variant (round-5 verdict #3): the spool splits
    // into three files consumed one per micro-batch
    // (maxFilesPerTrigger = 1, modification-time ordered), with
    // planted LATE arrivals (every 101st row from an earlier tertile
    // rides in the last batch and must be dropped by the watermark)
    // and planted CROSS-BATCH DUPLICATES (every 97th tertile-0 row
    // repeats in batch 1 and must be dropped by
    // dropDuplicatesWithinWatermark) — so cross-batch watermark
    // eviction, duplicate drops across batches, and per-batch rate
    // windows / blacklist anchors are all hash-checked against the
    // batch-parameterized oracle
    Row("dam_stream_replay_batched", (s, d) =>
      streamReplayRun(s, d, batched = true),
      StreamReplayBatchedOracle),
    // ---- E3 charts: severity histogram with integer-exact shares ----
    Row("dam_rollup", (s, d) => classified(s, d)
      .rollup(col("operation_type"), col("severity_level"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("operation_type"), lit("ALL")).as("operation_type"),
        coalesce(col("severity_level"), lit("ALL")).as("severity_level"),
        col("n"))
      .orderBy(col("operation_type"), col("severity_level")),
      sev("""SELECT COALESCE(operation_type, 'ALL') AS operation_type,
  COALESCE(severity_level, 'ALL') AS severity_level, count(*) AS n
FROM classified GROUP BY ROLLUP (operation_type, severity_level)
ORDER BY operation_type, severity_level""")),
    Row("dam_severity_histogram", (s, d) => {
      // grand total via 1-row broadcast cross-join (same idiom as the
      // TF-IDF corpus count) instead of an empty-partition window,
      // which funnels into a single task; the two branches share the
      // groupBy exchange (ReusedExchange), so classify runs once
      val counts = classified(s, d)
        .groupBy(col("severity_level")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("pct",
          expr("(n * 10000) div total").cast("double") / lit(100.0))
        .select(col("severity_level"), col("n"), col("pct"))
        .orderBy(col("severity_level"))
    },
      sev("""SELECT severity_level, count(*) AS n,
  CAST((count(*) * 10000) // (SELECT count(*) FROM classified) AS DOUBLE) / 100.0 AS pct
FROM classified GROUP BY 1 ORDER BY 1""")),
    // ---- skew-safe two-phase top-k (salting pattern) ----
    Row("dam_top_users_salted", (s, d) =>
      Analytics.topUsersSalted(Tables.activity(s, d)),
      act("""SELECT username, count(*) AS n FROM activity
GROUP BY username ORDER BY n DESC, username LIMIT 5""")),
    // ---- training-data curation (redaction, funnel, budgeting) ----
    Row("dam_redacted", (s, d) => Tables.activity(s, d)
      .select(col("activity_id"),
        TextOps.redactPii(col("operation_details")).as("redacted"),
        (TextOps.redactPii(col("operation_details")) =!=
          col("operation_details")).as("was_redacted"))
      .orderBy(col("activity_id")),
      {
        // same fold order as TextOps.redactPii; DuckDB needs the 'g'
        // flag (Java regexp_replace is global by default)
        val chain = TextOps.PiiPatterns.foldLeft("operation_details") {
          case (expr, (p, tag)) =>
            s"regexp_replace($expr, '${sqlRe(p)}', '$tag', 'g')"
        }
        act(s"""SELECT activity_id, $chain AS redacted,
  ($chain <> operation_details) AS was_redacted
FROM activity ORDER BY activity_id""")
      }),
  )
}
