package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's threat-detection rule engines (SURVEY §2.7 C4-C8)
  * as declarative Column pipelines over the activity view.
  *
  * Scale design: every rule is a per-row expression (codegen'd, no
  * shuffle); the only non-local pieces are
  *  - the blacklist semi-join (J3) — tiny dim, always broadcast;
  *  - the firewall rule match (J4) — broadcast nested-loop join
  *    against a handful of rules, then first-match-by-priority via a
  *    map-side-combinable min_by aggregate on the unique activity_id
  *    (W3): partial aggregation collapses the join output to one row
  *    per activity before any exchange, so the shuffle carries one
  *    narrow row per matched activity instead of rows × matched rules.
  *  - the rate-limit rule (C4 rule 8) — per-(user, minute) counts are
  *    pre-aggregated (the shuffle carries keys + a long, not full
  *    rows) and joined back; AQE broadcasts the count side when small.
  */
object Detect {

  /** Severity ordinal lattice (reference app.py severity levels):
    * Low=0, Medium=1, High=2, Critical=3.
    */
  val SeverityNames: Seq[String] = Seq("Low", "Medium", "High", "Critical")
  def severityName(ordinal: Column): Column =
    when(ordinal >= 3, "Critical")
      .when(ordinal === 2, "High")
      .when(ordinal === 1, "Medium")
      .otherwise("Low")

  /** Working hours window (reference app.py:76-77). */
  val WorkingHoursStart = 9
  val WorkingHoursEnd = 18

  /** Sensitive tables / columns, verbatim from reference app.py:82-83. */
  val SensitiveTables: Seq[String] =
    Seq("users", "customers", "accounts", "payments", "credit_cards")
  val SensitiveColumns: Seq[String] =
    Seq("password", "ssn", "credit_card", "bank_account", "salary")

  /** The 15-entry injection battery, (pattern, reason label) verbatim
    * from reference app.py:86-102 (SUSPICIOUS_QUERY_PATTERNS). The
    * reference breaks on the FIRST matching pattern (app.py:376-381),
    * so order is semantics: `sleep\s*\(` precedes `pg_sleep\s*\(`,
    * which makes the "PostgreSQL Sleep Attack" label unreachable —
    * preserved here exactly. All patterns are valid in both Java regex
    * and RE2/DuckDB, applied to the lower-cased statement (the
    * reference lowercases AND passes re.IGNORECASE — the flag is
    * redundant for these all-lowercase patterns).
    */
  val InjectionPatterns: Seq[(String, String)] = Seq(
    ("union.*select", "SQL Injection - UNION"),
    ("select.*from.*information_schema", "Schema Enumeration"),
    ("drop\\s+table", "DROP Table Attempt"),
    ("truncate\\s+table", "TRUNCATE Attempt"),
    ("alter\\s+table", "ALTER Table Attempt"),
    ("create\\s+user", "CREATE User Attempt"),
    ("grant\\s+.*\\s+to", "Privilege Escalation"),
    ("exec\\s+xp_cmdshell", "xp_cmdshell Attempt"),
    ("waitfor\\s+delay", "Time-based Injection"),
    ("load_file\\s*\\(", "File Read Attempt"),
    ("into\\s+outfile", "File Write Attempt"),
    ("0x[0-9a-f]{10,}", "Hex Encoding Evasion"),
    ("sleep\\s*\\(", "Time-based Attack"),
    ("benchmark\\s*\\(", "Benchmark Attack"),
    ("pg_sleep\\s*\\(", "PostgreSQL Sleep Attack"))

  /** The battery fused into ONE compiled alternation (same trick as
    * [[graft.functions.Classify.SkipPattern]]): the common no-match row
    * pays a single regexp pass instead of fifteen; only rows that hit
    * run the per-pattern label chain. Valid in both Java regex and RE2,
    * so the oracle evaluates the identical pattern.
    */
  val InjectionAlternation: String =
    InjectionPatterns.map { case (p, _) => s"(?:$p)" }.mkString("|")

  /** Static IP blacklist seed (reference ip_blacklist table,
    * sql/02_create_tables.sql:69-77; loaded with temporal validity
    * `expires_at > NOW()` at app.py:332-337): (ip, reason,
    * expires_at), the single source for both the Spark dim and the
    * DuckDB oracle VALUES (graft.rows.Prelude generates its SQL from
    * this seq, so the two can never drift). Stand-in fixture rows over the
    * synthesized IP space of [[graft.sources.Tables.activity]]; the
    * last entry is EXPIRED and must never flag ([[activeBlacklist]]
    * filters it).
    */
  val BlacklistSeed: Seq[(String, String, String)] = Seq(
    ("10.0.3.7", "known scanner", "2100-01-01 00:00:00"),
    ("10.0.11.42", "credential stuffing", "2100-01-01 00:00:00"),
    ("10.0.21.100", "tor exit", "2100-01-01 00:00:00"),
    ("10.0.33.13", "abuse report", "2100-01-01 00:00:00"),
    ("10.0.47.200", "manual block", "2100-01-01 00:00:00"),
    ("10.0.0.101", "expired probation block", "2000-01-01 00:00:00"))

  def ipBlacklist(spark: SparkSession): DataFrame = {
    import spark.implicits._
    BlacklistSeed.toDF("ip_address", "reason", "expires_at")
      .withColumn("expires_at", col("expires_at").cast("timestamp_ntz"))
  }

  /** Temporal-validity filter for the blacklist (reference app.py:334:
    * `WHERE expires_at > NOW()`): batch data has no wall clock, so the
    * anchor is the newest activity timestamp — the same max-ts
    * anchoring as [[periodFilter]], via a 1-row broadcast cross-join
    * (no driver collect). A blacklist without an `expires_at` column
    * passes through unfiltered (never-expiring entries).
    */
  def activeBlacklist(activity: DataFrame, blacklist: DataFrame): DataFrame =
    if (!blacklist.columns.contains("expires_at")) blacklist
    else {
      val tsType = activity.schema("access_timestamp").dataType
      val anchor = broadcast(
        activity.agg(max(col("access_timestamp")).as("__bl_anchor")))
      blacklist.crossJoin(anchor)
        .filter(col("expires_at").cast(tsType) > col("__bl_anchor"))
        .drop("__bl_anchor")
    }

  /** Firewall rule seed (reference firewall_rules DDL
    * app.py:1474-1488, seeds app.py:1529-1541): (rule_id, pattern,
    * description, match_type, action, priority, applies_to_user,
    * applies_to_ip, is_active) — single source for the Spark dim AND
    * the DuckDB oracle VALUES (graft.rows.Prelude generates its SQL
    * from this seq). Rules 9-13 exercise the scoping / case-parity /
    * is_active / priority-tie semantics the reference matcher honors
    * (app.py:826-841).
    */
  /** One firewall seed row: (rule_id, pattern, description, match_type,
    * action, priority, applies_to_user, applies_to_ip, is_active).
    */
  type RuleSeed = (Int, String, String, String, String, Int,
      Option[String], Option[String], Boolean)

  val FirewallRuleSeed: Seq[RuleSeed] = {
    val none: Option[String] = None
    Seq(
      (1, "union select", "SQL Injection - UNION", "contains", "block", 1, none, none, true),
      (2, "drop table", "Destructive DROP TABLE", "contains", "block", 2, none, none, true),
      (3, "into outfile", "File write via SELECT", "contains", "block", 3, none, none, true),
      (4, "xp_", "SQL Server xp_ procedure", "contains", "block", 4, none, none, true),
      (5, "sleep(", "Time-based blind injection", "contains", "block", 5, none, none, true),
      (6, "or 1=1", "Classic boolean injection", "contains", "block", 6, none, none, true),
      (7, "delete from sessions", "Session table delete", "starts_with", "alert", 7, none, none, true),
      (8, "^select \\*", "Full-row SELECT *", "regex", "alert", 8, none, none, true),
      // scoped + mixed-case pattern: beats rule 7 for user_7 only, and
      // only matches at all because contains lower-cases the PATTERN
      (9, "DELETE FROM sessions", "Scoped session-delete block", "contains", "block", 5, Some("user_7"), none, true),
      // priority tie with rule 8 → rule_id breaks the tie (app.py:826
      // ORDER BY priority ASC is insertion-stable within a priority)
      (10, "select", "Scoped select monitor", "contains", "alert", 8, Some("user_7"), none, true),
      (11, "select", "Blacklisted-IP select block", "contains", "block", 6, none, Some("10.0.11.42"), true),
      // inactive: must never fire despite matching nearly everything
      (12, "select", "Disabled legacy block", "contains", "block", 0, none, none, false),
      // upper-case regex over lower-cased text: only matches because
      // regex match is case-insensitive (re.IGNORECASE, app.py:841)
      (13, "^SELECT name", "Named-column select monitor", "regex", "alert", 9, none, none, true))
  }

  /** The reference's PRODUCTION seed set, verbatim from
    * app.py:1531-1539: 7 regex block rules at priorities 10/20,
    * rule_ids in insertion order. This is what a fresh warehouse
    * bootstrap ships ([[graft.sources.TableRegistry.initWarehouse]]);
    * the 13-rule [[FirewallRuleSeed]] fixture stays as the
    * scoping/case/tie-break semantics oracle.
    */
  val ReferenceFirewallSeed: Seq[RuleSeed] = {
    val none: Option[String] = None
    Seq(
      (1, "union.*select", "SQL Injection - UNION", "regex", "block", 10, none, none, true),
      (2, "drop\\s+table", "Destructive DROP TABLE", "regex", "block", 10, none, none, true),
      (3, "into\\s+outfile", "File Write via SELECT", "regex", "block", 10, none, none, true),
      (4, "exec\\s+xp_", "SQL Server xp_ procedure", "regex", "block", 10, none, none, true),
      (5, "sleep\\s*\\(", "Time-based Blind Injection", "regex", "block", 20, none, none, true),
      (6, "or\\s+1=1", "Classic Boolean Injection", "regex", "block", 20, none, none, true),
      (7, "'\\s*or\\s*'1'='1", "String Boolean Injection", "regex", "block", 20, none, none, true))
  }

  private def seedToDf(spark: SparkSession,
      seed: Seq[RuleSeed]): DataFrame = {
    import spark.implicits._
    seed.toDF("rule_id", "pattern", "description", "match_type", "action",
      "priority", "applies_to_user", "applies_to_ip", "is_active")
  }

  /** Firewall rule dim: `profile = "fixture"` (default — the 13-rule
    * semantics battery) or `"reference"` (the 7 reference seeds).
    */
  def firewallRules(spark: SparkSession,
                    profile: String = "fixture"): DataFrame = profile match {
    case "fixture" => seedToDf(spark, FirewallRuleSeed)
    case "reference" => seedToDf(spark, ReferenceFirewallSeed)
    case other =>
      throw new IllegalArgumentException(s"unknown seed profile: $other")
  }

  /** The reference's SEQUENTIAL severity fold (app.py:339-403),
    * flattened to one CASE. The Python loop mutates `severity` rule by
    * rule: blacklist ASSIGNS Critical; guest-write ASSIGNS High (it can
    * DOWNGRADE a blacklist Critical, app.py:357-358); sensitive-table /
    * off-hours raise only from Low; injection ASSIGNS Critical;
    * sensitive-column sets High unless already Critical; large
    * extraction / rate-limit raise only from Low (so off-hours +
    * rows>1000 stays Medium, app.py:390-391). The closed form below is
    * proven ≡ the sequential fold over all 2^8 rule combinations in
    * DetectSpec, including those two non-lattice interactions.
    */
  def severityOrdinal(r1: Column, r2: Column, r3: Column, r4: Column,
                      r5: Column, r6: Column, r7: Column, r8: Column): Column =
    when(r5 || (r1 && !r2), lit(3))
      .when(r6, lit(2))
      .when(r2, lit(2))
      .when(r3 || r4, lit(1))
      .when(r7, lit(2))
      .when(r8, lit(1))
      .otherwise(lit(0))

  /** C4 — threat detection. Takes the activity view (must carry role,
    * operation_type, table_name, operation_details, ip_address,
    * access_timestamp, rows_affected, user_id) and returns it with
    * is_suspicious / suspicious_reasons / severity_level / severity_ord.
    *
    * Faithful to reference app.py:339-411: sequential severity fold
    * ([[severityOrdinal]]), reference reason strings with interpolated
    * table/column/count values, first-matching injection label
    * (app.py:376-381 breaks on first hit), one reason PER matched
    * sensitive column (app.py:383-387), and the rate rule guarded on a
    * truthy user key (app.py:396 `if a["user_id"]` — Python
    * truthiness, so 0 / '' / NULL skip it). Rate-limit counts are
    * per-(user, minute) pre-aggregates, threshold parameterized
    * (>100 events/min in the reference).
    */
  def classify(activity: DataFrame, blacklist: DataFrame,
               rateThreshold: Int = 100,
               rateKey: String = "user_id"): DataFrame = {
    val bl = broadcast(activeBlacklist(activity, blacklist)
      .select(col("ip_address"), lit(true).as("is_blacklisted")))
    val withBl = activity.join(bl, Seq("ip_address"), "left")

    // per-(rateKey, minute) counts: pre-aggregated off the raw activity
    // (shuffles just the two keys and a long — a window over the full
    // rows would shuffle every column by (user, minute)), then joined
    // back NULL-SAFELY: the window this replaces counted null-key rows
    // as one group, so the join must too (a plain equi-join would
    // silently disable the rate rule for null keys)
    val minuteExpr = date_trunc("minute", col("access_timestamp"))
    val rates = activity
      .groupBy(col(rateKey).as("__rk"), minuteExpr.as("__rm"))
      .agg(count(lit(1)).as("events_per_minute"))

    val op = col("operation_type")
    val ql = lower(col("operation_details"))
    val writeOps = Seq("INSERT", "UPDATE", "DELETE", "DROP", "ALTER")
    val hr = hour(col("access_timestamp"))

    val r1 = coalesce(col("is_blacklisted"), lit(false))
    val r2 = col("role") === "Guest" && op.isin(writeOps: _*)
    val r3 = col("role") === "User" &&
      col("table_name").isin(SensitiveTables: _*) &&
      op.isin("SELECT", "INSERT", "UPDATE")
    val r4 = hr < WorkingHoursStart || hr >= WorkingHoursEnd
    // cheap fused-alternation gate first; the 15-pattern label chain
    // (first match = the reference's break) runs only on rows that hit
    val r5 = ql.rlike(InjectionAlternation)
    val injLabel = InjectionPatterns.foldRight(lit(null).cast("string")) {
      case ((p, label), rest) => when(ql.rlike(p), lit(label)).otherwise(rest)
    }
    val colHits = SensitiveColumns.map(c => ql.contains(c) -> c)
    val r6 = colHits.map(_._1).reduce(_ || _)
    val r7 = coalesce(col("rows_affected"), lit(0L)) > 1000L
    // truthy-key guard: NULL, 0 and '' all skip the rate rule — the
    // reference's Python-truthiness check on user_id
    val keyTruthy = col(rateKey).isNotNull &&
      col(rateKey).cast("string") =!= "0" && col(rateKey).cast("string") =!= ""
    val r8 = keyTruthy && col("events_per_minute") > rateThreshold

    val ord = severityOrdinal(r1, r2, r3, r4, r5, r6, r7, r8)
    // each rule coalesced to false: r5/r6 are NULL on a NULL
    // operation_details, and a null-propagating OR chain would emit
    // is_suspicious = NULL where the reference's `if a[...]` guards
    // leave the row plainly not-suspicious (round-4 advisor)
    val anyFired = Seq(r1, r2, r3, r4, r5, r6, r7, r8)
      .map(r => coalesce(r, lit(false))).reduce(_ || _)
    // reference reason strings in rule order (app.py:354-403); the
    // sensitive-column rule appends one reason per matched column in
    // SENSITIVE_COLUMNS order
    val reasonCols: Seq[Column] =
      Seq(
        when(r1, lit("IP address is blacklisted")),
        when(r2, lit("Guest attempting write operation")),
        when(r3, concat(lit("User accessing sensitive table: "),
          col("table_name"))),
        when(r4, lit("Access outside working hours")),
        when(r5, concat(lit("Suspicious pattern: "), injLabel))) ++
      colHits.map { case (hit, c) =>
        when(hit, lit(s"Access to sensitive column: $c")) } ++
      Seq(
        when(r7, concat(lit("Large data extraction: "),
          col("rows_affected"), lit(" rows"))),
        when(r8, concat(lit("Rate limit exceeded: "),
          col("events_per_minute"), lit(" queries/min"))))
    // non-suspicious rows keep the DDL defaults: NULL reasons, 'Low'
    // (sql/02_create_tables.sql:39-41 — the reference only UPDATEs
    // flagged rows, app.py:405-409)
    val reasons = when(anyFired, concat_ws("; ", reasonCols: _*))

    withBl
      .withColumn("__rate_key", col(rateKey))
      .withColumn("__rate_minute", minuteExpr)
      .join(rates, col("__rate_key") <=> col("__rk") &&
        col("__rate_minute") <=> col("__rm"), "left")
      .drop("__rate_key", "__rate_minute", "__rk", "__rm")
      .withColumn("severity_ord", ord.cast("long"))
      .withColumn("severity_level", severityName(ord))
      .withColumn("suspicious_reasons", reasons)
      .withColumn("is_suspicious", anyFired)
      .drop("is_blacklisted")
  }

  /** C5 — alert derivation (reference app.py:410-433): only
    * High/Critical activities raise alerts; alert_type is the first
    * CASE-SENSITIVE substring match over the joined reason string
    * (app.py:415-420). With the reference labels, "SQL Injection"
    * appears only in the UNION pattern's label — a drop-table hit maps
    * to Security Violation, not SQL Injection. And the "rate limit"
    * arm can never fire (the emitted reason reads "Rate limit
    * exceeded"), so DoS Attempt is dead code in the reference; both
    * quirks preserved verbatim.
    */
  def deriveAlerts(classified: DataFrame): DataFrame = {
    val reasons = col("suspicious_reasons")
    classified
      .filter(col("severity_ord") >= 2)
      .withColumn("alert_type",
        when(reasons.contains("SQL Injection"), "SQL Injection")
          .when(reasons.contains("sensitive"), "Data Leakage")
          .when(reasons.contains("rate limit"), "DoS Attempt")
          .otherwise("Security Violation"))
      .withColumn("alert_status", lit("New"))
  }

  /** SOX tables / PCI tables (reference app.py:479, 483). */
  val SoxTables: Seq[String] = Seq("accounts", "financial", "transactions")
  val PciTables: Seq[String] = Seq("payments", "credit_cards")

  /** The reference's static standards catalog (app.py:469-474) — HIPAA
    * is listed but has no predicate; it appears only in the report
    * envelope's standards_covered.
    */
  val ComplianceStandards: Seq[String] = Seq("GDPR", "SOX", "HIPAA", "PCI_DSS")

  /** C6 — compliance classifier, verbatim from reference
    * app.py:477-485: GDPR fires on a sensitive table touched without a
    * truthy user_id (Python falsy: NULL or 0); SOX on
    * accounts/financial/transactions UPDATE/DELETE, Compliant iff
    * rows_affected is truthy (non-null, non-zero); PCI_DSS monitors
    * every payments/credit_cards touch. Zero..two findings per row
    * (GDPR+PCI can co-fire on payments/credit_cards), exploded into a
    * findings stream. Generator-shaped (explode) per SURVEY §2.7; no
    * shuffle — explode runs inside the scan stage.
    */
  def complianceFindings(activity: DataFrame): DataFrame = {
    val tbl = col("table_name")
    val op = col("operation_type")
    val noUser = col("user_id").isNull || col("user_id").cast("string") === "0"
    val gdpr = when(tbl.isin(SensitiveTables: _*) && noUser,
      struct(lit("GDPR").as("standard"),
        lit("Personal data access without user identification").as("finding"),
        lit("Non-compliant").as("status")))
    val sox = when(tbl.isin(SoxTables: _*) && op.isin("UPDATE", "DELETE"),
      struct(lit("SOX").as("standard"),
        lit("Financial data modification").as("finding"),
        when(col("rows_affected").isNotNull && col("rows_affected") =!= 0L,
          "Compliant").otherwise("Review needed").as("status")))
    val pci = when(tbl.isin(PciTables: _*),
      struct(lit("PCI_DSS").as("standard"),
        lit("Cardholder data access detected").as("finding"),
        lit("Monitored").as("status")))
    activity
      .withColumn("f", explode(array_compact(array(gdpr, sox, pci))))
      .select(col("activity_id"), col("username"),
        col("f.standard").as("standard"), col("f.finding").as("finding"),
        col("f.status").as("status"))
  }

  /** The generate_report statistics envelope (reference app.py:497-509):
    * one row per report with total_activities, non_compliant_count —
    * the reference counts ALL findings under that name, Monitored and
    * Compliant included — and the static standards catalog (HIPAA
    * included despite having no predicate). Two 1-row aggregates
    * cross-joined; no data leaves the executors until the final
    * 1×1 exchange.
    */
  def complianceEnvelope(activity: DataFrame, period: String): DataFrame = {
    val win = periodFilter(activity, period)
    val totals = win.agg(count(lit(1)).as("total_activities"))
    val findings = complianceFindings(win)
      .agg(count(lit(1)).as("non_compliant_count"))
    totals.crossJoin(findings)
      .select(lit(period).as("report_type"), col("total_activities"),
        col("non_compliant_count"),
        lit(ComplianceStandards.mkString(",")).as("standards_covered"))
  }

  /** Anchored period filter for report windows (reference
    * app.py:489-495; cron cadences app.py:878-882): "daily" keeps the
    * calendar day of the newest activity (the CURDATE analog — batch
    * data has no wall clock), "weekly"/"monthly" keep the trailing
    * 7/30 days from the max timestamp. The anchor is a 1-row broadcast
    * cross-join (no driver collect), so the filter still pushes into
    * the scan stage and prunes date partitions where present.
    */
  def periodFilter(activity: DataFrame, period: String): DataFrame = {
    val anchor = broadcast(
      activity.agg(max(col("access_timestamp")).as("__anchor")))
    val keep = period match {
      case "daily" =>
        to_date(col("access_timestamp")) === to_date(col("__anchor"))
      case "weekly" =>
        col("access_timestamp") >= col("__anchor") - expr("INTERVAL 7 DAYS")
      case "monthly" =>
        col("access_timestamp") >= col("__anchor") - expr("INTERVAL 30 DAYS")
      case other =>
        throw new IllegalArgumentException(s"unknown report period: $other")
    }
    activity.crossJoin(anchor).filter(keep).drop("__anchor")
  }

  /** Period-windowed compliance report (reference generate_report,
    * app.py:489-509): findings over the daily/weekly/monthly window,
    * summarized per standard/status — the statistics block the
    * scheduled reporter emails and renders to PDF.
    */
  def complianceReport(activity: DataFrame, period: String): DataFrame =
    complianceFindings(periodFilter(activity, period))
      .groupBy(col("standard"), col("status"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("username")).as("distinct_users"))
      .orderBy(col("standard"), col("status"))

  /** Failed-login lockout analytics (reference app.py:80-81
    * MAX_LOGIN_ATTEMPTS=5 / LOCKOUT_DURATION=30 min; authenticate
    * app.py:205-221 resets failed_attempts on success and refuses
    * logins while locked_until is in the future). Batch analog over
    * the activity stream: per user, the consecutive-failure counter
    * since the last success; the row where it reaches `maxAttempts`
    * emits a lockout with locked_until = ts + lockoutMinutes.
    *
    * Plan shape: both running windows share one (username) partition
    * and ordering, so there is exactly ONE shuffle (keyed by user —
    * key-parallel at any scale) and the two WindowExecs pipeline with
    * no second exchange. The counter is running-failed-count minus its
    * value at the most recent success (gaps-and-islands without a
    * second partition key).
    */
  def lockouts(activity: DataFrame, maxAttempts: Int = 5,
               lockoutMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("username"))
      .orderBy(col("access_timestamp"), col("activity_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runFailed =
      sum(when(col("operation_status") === "Failed", 1L).otherwise(0L))
        .over(byUser)
    activity
      .select(col("username"), col("activity_id"), col("operation_status"),
        col("access_timestamp"))
      .withColumn("__run_failed", runFailed)
      .withColumn("__at_success",
        last(when(col("operation_status") === "Success", col("__run_failed")),
          ignoreNulls = true).over(byUser))
      .withColumn("failed_attempts",
        col("__run_failed") - coalesce(col("__at_success"), lit(0L)))
      .filter(col("operation_status") === "Failed" &&
        col("failed_attempts") === maxAttempts)
      .select(col("username"), col("activity_id"),
        col("access_timestamp").as("locked_at"), col("failed_attempts"),
        (col("access_timestamp") + expr(s"INTERVAL $lockoutMinutes MINUTES"))
          .as("locked_until"))
  }

  /** The RATE_LIMIT.max_failed_per_hour feed (reference app.py:107):
    * users whose failed-operation count within an hour bucket exceeds
    * the threshold. Plain hash aggregate — partial combine map-side,
    * the shuffle carries (user, hour, long).
    */
  def failedHourly(activity: DataFrame, threshold: Int = 10): DataFrame =
    activity.filter(col("operation_status") === "Failed")
      .groupBy(col("username"),
        date_trunc("hour", col("access_timestamp")).as("hour_bucket"))
      .agg(count(lit(1)).as("n_failed"))
      .filter(col("n_failed") > threshold)
      .orderBy(col("username"), col("hour_bucket"))

  /** One-off interactive check (POST /api/v2/firewall/check,
    * app.py:1305-1308 → QueryFirewall.check): the same matcher over a
    * single statement, driver-side. Returns the first-match
    * (rule_id, action, description) or None when nothing fires.
    */
  def firewallCheck(spark: SparkSession, query: String, username: String,
                    ip: String, rules: DataFrame): Option[(Int, String, String)] = {
    import spark.implicits._
    val one = Seq((1L, username, query, ip))
      .toDF("activity_id", "username", "operation_details", "ip_address")
      .withColumn("access_timestamp", current_timestamp())
    firewallMatch(one, rules)
      .select(col("rule_id"), col("action"), col("description"))
      .as[(Int, String, String)].collect().headOption
  }

  /** Rule-count ceiling for the literal-folded [[firewallMatch]]: the
    * rule dim is a bounded in-memory catalog by contract (the
    * reference holds it in process memory behind a 60 s TTL,
    * app.py:819-827; the streaming path COLLECTS its snapshot per
    * micro-batch already), and the fold emits one WHEN arm per rule —
    * past the cap the expression tree would bloat codegen, so the
    * matcher falls back to the join form instead.
    */
  private[graft] val FirewallLiteralMaxRules = 256

  /** J4 + W3 — firewall matcher (reference app.py:823-850): every
    * activity matched against the ACTIVE rules (`is_active=1`,
    * app.py:826), honoring per-rule `applies_to_user` /
    * `applies_to_ip` guards (empty string = unscoped, matching the
    * reference's falsy check, app.py:833-835). Matching is
    * case-insensitive on BOTH sides: the text is lower-cased and so is
    * the pattern for contains/starts_with (`pat.lower()`,
    * app.py:838-840); regex match carries re.IGNORECASE (app.py:841).
    * First match wins in (priority, rule_id) order — the reference
    * iterates `ORDER BY priority ASC` over rows inserted in rule_id
    * order, so ties within a priority resolve to the lowest rule_id.
    *
    * Round-14 shape: the active rules are a bounded driver-side
    * catalog, so the matcher COLLECTS them in (priority, rule_id)
    * order and folds one first-match CASE
    * expression over the activity scan — scan-local, zero shuffle,
    * zero join, and every regex pattern is a LITERAL (compiled once
    * per task). The former broadcast nested-loop join evaluated
    * `regexp_like(txt, pattern_column)` with a NON-foldable pattern —
    * a `Pattern.compile` per (row, rule) evaluation — then paid a
    * min_by aggregate exchange to undo the join's multi-match fanout;
    * per-trigger ingest cost, guide §1.2 step 2. Semantics unchanged:
    * one row per activity whose first (priority, rule_id)-ordered
    * active rule matches, same columns (oracle-locked by the
    * dam_firewall* rows). Falls back to [[firewallMatchJoin]] past
    * [[FirewallLiteralMaxRules]].
    */
  def firewallMatch(activity: DataFrame, rules: DataFrame): DataFrame = {
    val active = rules.filter(col("is_active"))
      .select(col("rule_id"), col("pattern"), col("match_type"),
        col("applies_to_user"), col("applies_to_ip"),
        col("description"), col("action"), col("priority"))
      .limit(FirewallLiteralMaxRules + 1)
      .collect()
    if (active.length > FirewallLiteralMaxRules)
      return firewallMatchJoin(activity, rules)
    val ordered = active.sortBy(r =>
      (r.getAs[Int]("priority"), r.getAs[Int]("rule_id")))
    val txt = lower(col("operation_details"))
    def rulePred(r: org.apache.spark.sql.Row): Column = {
      def scoped(field: String, against: Column): Option[Column] =
        Option(r.getAs[String](field)).filter(_.nonEmpty)
          .map(v => against === lit(v))
      val scope = Seq(scoped("applies_to_user", col("username")),
        scoped("applies_to_ip", col("ip_address"))).flatten
      val pat = r.getAs[String]("pattern")
      val m = r.getAs[String]("match_type") match {
        case "contains" => txt.contains(lit(pat.toLowerCase))
        case "starts_with" => txt.startsWith(lit(pat.toLowerCase))
        case "regex" => txt.rlike("(?i)" + pat)
        case _ => lit(false) // unknown match_type matches nothing (as before)
      }
      (scope :+ m).reduce(_ && _)
    }
    val noHit = lit(null).cast(
      "struct<rule_id:int,description:string,action:string,priority:int>")
    val hit = ordered.foldRight(noHit: Column) { (r, rest) =>
      when(rulePred(r), struct(
        lit(r.getAs[Int]("rule_id")).as("rule_id"),
        lit(r.getAs[String]("description")).as("description"),
        lit(r.getAs[String]("action")).as("action"),
        lit(r.getAs[Int]("priority")).as("priority"))).otherwise(rest)
    }
    activity
      .select(col("activity_id"), col("username"), col("ip_address"),
        substring(col("operation_details"), 1, 500).as("query_snippet"),
        col("access_timestamp").as("matched_at"), hit.as("__m"))
      .filter(col("__m").isNotNull)
      .select(col("activity_id"), col("username"), col("ip_address"),
        col("__m.rule_id").as("rule_id"),
        col("__m.description").as("description"),
        col("__m.action").as("action"), col("__m.priority").as("priority"),
        col("query_snippet"), col("matched_at"))
  }

  /** The join formulation of [[firewallMatch]] — the fallback for an
    * unbounded rule dim, and the equivalence spec's reference
    * implementation (broadcast nested-loop match + first-match-by-
    * (priority, rule_id) min_by aggregate).
    */
  private[graft] def firewallMatchJoin(activity: DataFrame,
                                       rules: DataFrame): DataFrame = {
    val txt = lower(col("operation_details"))
    // regexp only ever sees a valid pattern: non-regex rules substitute
    // the never-matching 'a^' (vectorized engines may evaluate the
    // regexp branch even when match_type guards it — same guard in the
    // DuckDB oracle)
    val safePat = when(col("match_type") === "regex",
      concat(lit("(?i)"), col("pattern"))).otherwise(lit("a^"))
    val scopeOk =
      (nullif(col("applies_to_user"), lit("")).isNull ||
        col("applies_to_user") === col("username")) &&
      (nullif(col("applies_to_ip"), lit("")).isNull ||
        col("applies_to_ip") === col("ip_address"))
    val matchPred = scopeOk && (
      (col("match_type") === "contains" && txt.contains(lower(col("pattern")))) ||
      (col("match_type") === "starts_with" && txt.startsWith(lower(col("pattern")))) ||
      (col("match_type") === "regex" && regexp_like(txt, safePat)))
    val hits = activity.join(broadcast(rules.filter(col("is_active"))),
      matchPred, "inner")
    // first match by (priority, rule_id) as a min_by aggregate: partial
    // aggregation collapses to one row per activity map-side
    // (activity_id is unique, so the post-shuffle side is already
    // minimal); a window would instead shuffle the entire join output
    hits
      .groupBy(col("activity_id"))
      .agg(min_by(
        struct(col("username"), col("ip_address"), col("rule_id"),
          col("description"), col("action"), col("priority"),
          substring(col("operation_details"), 1, 500).as("query_snippet"),
          col("access_timestamp").as("matched_at")),
        struct(col("priority"), col("rule_id"))).as("__m"))
      .select(col("activity_id"), col("__m.username").as("username"),
        col("__m.ip_address").as("ip_address"), col("__m.rule_id").as("rule_id"),
        col("__m.description").as("description"),
        col("__m.action").as("action"), col("__m.priority").as("priority"),
        col("__m.query_snippet").as("query_snippet"),
        col("__m.matched_at").as("matched_at"))
  }
}
