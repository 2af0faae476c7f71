package graft.rows

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Detect

/** Oracle preludes shared by the row families: the DuckDB replica of
  * Tables.activity and of the Detect engines (severity, blacklist and
  * firewall CTEs), the exact-decimal vector arithmetic, k-means assignment
  * and clustering CTEs that the doc and emb oracles share, and the
  * Spark-side timestamp formatter. Nothing here refers to a family object,
  * so the families can read these vals while they initialize. */
object Prelude {

  // ---------------------------------------------------------------- //
  // Shared oracle prelude: the DuckDB replica of Tables.activity     //
  // (events → activity_logs-shaped view). Must stay in lockstep with //
  // Tables.sqlTextFromEvent / Tables.activity / Classify.*           //
  // ---------------------------------------------------------------- //

  private[rows] val tableNamePatterns = Seq("from", "into", "update", "table", "join")
    .map(kw => s"(?i)\\b$kw\\s+([a-zA-Z_][a-zA-Z0-9_]*)")

  private[rows] def sqlRe(p: String): String = p.replace("'", "''")

  /** DuckDB replica of Classify.operationType over column `c`. */
  private[rows] def opCaseSql(c: String): String = {
    val prefixes = Seq("SELECT" -> "SELECT", "INSERT" -> "INSERT",
      "UPDATE" -> "UPDATE", "DELETE" -> "DELETE", "CREATE" -> "CREATE",
      "DROP" -> "DROP", "ALTER" -> "ALTER", "TRUNCATE" -> "TRUNCATE",
      "GRANT" -> "GRANT", "REVOKE" -> "REVOKE", "CALL" -> "PROCEDURE",
      "EXEC" -> "PROCEDURE")
    prefixes.map { case (p, label) =>
      s"WHEN upper(ltrim($c)) LIKE '$p%' THEN '$label'"
    }.mkString("CASE ", "\n         ", " ELSE 'OTHER' END")
  }

  /** DuckDB replica of Classify.tableNameOf over column `c`. */
  private[rows] def tblExtractSql(c: String): String = tableNamePatterns
    .map(p => s"NULLIF(regexp_extract($c, '${sqlRe(p)}', 1), '')")
    .mkString("COALESCE(", ", ", ", 'unknown')")

  /** DuckDB replica of Classify.usernameOf over column `c`. */
  private[rows] def usernameSql(c: String): String =
    s"""COALESCE(NULLIF(trim(regexp_extract($c, '^([^\\[]+)\\[', 1)), ''),
      NULLIF(trim(regexp_extract($c, '^([^@\\[]+)@', 1)), ''), 'SYSTEM')"""

  /** DuckDB replica of Tables.sqlTextFromEvent — the deterministic
    * event→statement synthesis incl. the % 199 attack/compliance
    * fixture battery. Shared by ActivityPrelude and dam_agent_parse.
    */
  private[rows] val SqlTextCaseSql: String = """CASE
    WHEN event_id % 199 = 0 THEN 'TRUNCATE TABLE audit_log'
    WHEN event_id % 199 = 1 THEN 'ALTER TABLE schema_migrations ADD COLUMN patched INT'
    WHEN event_id % 199 = 2 THEN 'CREATE USER intruder IDENTIFIED BY ''p4ss'''
    WHEN event_id % 199 = 3 THEN 'GRANT ALL PRIVILEGES ON secrets TO intruder'
    WHEN event_id % 199 = 4 THEN 'SELECT id FROM sessions WHERE 1=1; WAITFOR DELAY ''0:0:5'''
    WHEN event_id % 199 = 5 THEN 'SELECT 0x4445414442454546303132 AS payload'
    WHEN event_id % 199 = 6 THEN 'SELECT table_name FROM information_schema.tables'
    WHEN event_id % 199 = 7 THEN 'SELECT pg_sleep(5)'
    WHEN event_id % 199 = 8 THEN 'SELECT benchmark(500000, md5(''x''))'
    WHEN event_id % 199 = 9 THEN 'SELECT bank_account, salary FROM employees WHERE emp_id = ' || event_id
    WHEN event_id % 199 = 10 THEN 'SELECT credit_card FROM payments WHERE order_id = ' || event_id
    WHEN event_id % 199 = 11 THEN 'SELECT ssn FROM customers WHERE customer_id = ' || event_id
    WHEN event_id % 199 = 12 THEN 'DROP TABLE temp_sessions'
    WHEN event_id % 199 = 13 THEN 'EXEC xp_cmdshell ''dir'''
    WHEN event_id % 199 = 14 THEN 'SELECT * FROM orders INTO OUTFILE ''/tmp/exfil.csv'''
    WHEN event_id % 199 = 15 THEN 'UPDATE transactions SET status = ''void'' WHERE tx_id = ' || event_id
    WHEN event_id % 199 = 16 THEN 'DELETE FROM financial WHERE fiscal_year = 1999'
    WHEN event_type = 'click' THEN 'SELECT * FROM products WHERE id = ' || event_id
    WHEN event_type = 'view' THEN 'SELECT name, price FROM products WHERE id = ' || event_id
    WHEN event_type = 'signup' THEN 'INSERT INTO users (name, email) VALUES (''u' || user_id || ''', ''u' || user_id || '@example.com'')'
    WHEN event_type = 'purchase' AND value > 190 THEN 'SELECT * FROM accounts WHERE 1=1 UNION SELECT password FROM users'
    WHEN event_type = 'purchase' THEN 'UPDATE accounts SET balance = balance - 1 WHERE user_id = ' || user_id
    ELSE 'DELETE FROM sessions WHERE token = ''' || md5(props) || '''' END"""

  private[rows] val ActivityPrelude: String = {
    val tblExtract = tblExtractSql("sql_text")
    s"""WITH ev AS (
  SELECT *, $SqlTextCaseSql AS sql_text
  FROM events
), activity AS (
  SELECT
    event_id AS activity_id,
    user_id,
    'user_' || user_id AS username,
    CASE WHEN user_id % 7 = 0 THEN 'Admin'
         WHEN user_id % 3 = 0 THEN 'Guest'
         ELSE 'User' END AS role,
    ${opCaseSql("sql_text")} AS operation_type,
    $tblExtract AS table_name,
    CASE WHEN event_type = 'error' THEN 'Failed' ELSE 'Success' END AS operation_status,
    sql_text AS operation_details,
    '10.0.' || (user_id % 50) || '.' || (event_id % 250) AS ip_address,
    ts AS access_timestamp,
    CAST(floor(value) AS BIGINT) AS rows_affected,
    md5(sql_text) AS query_hash
  FROM ev
)"""
  }

  private[rows] def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"

  /** Blacklist dim + temporal-validity filter (Detect.ipBlacklist /
    * Detect.activeBlacklist), generated from the same seed seq as the
    * Spark fixture. `abl` holds the ACTIVE entries (expires_at anchored
    * to the newest activity timestamp, app.py:334).
    */
  /** `src` = the activity-shaped relation the expiry filter anchors on
    * (Detect.activeBlacklist anchors on the frame classify receives —
    * `activity` for the batch oracles, the admitted micro-batch for
    * the stream replay).
    */
  /** `batchCol`: when set, the blacklist expiry anchor is the max
    * timestamp of the row's OWN micro-batch (the streaming engine
    * anchors Detect.activeBlacklist per foreachBatch frame), not the
    * global max — `banchor` carries one anchor per batch for the
    * severity CTE to join.
    */
  private[rows] def blacklistCtesOver(src: String,
                                batchCol: Option[String] = None): String = {
    val rows = Detect.BlacklistSeed.map { case (ip, _, exp) =>
      s"(${sqlQuote(ip)}, TIMESTAMP '$exp')"
    }.mkString(",\n  ")
    val anchor = batchCol match {
      case Some(bc) =>
        s""", banchor AS (
  SELECT $bc AS __bb, max(access_timestamp) AS mx FROM $src GROUP BY $bc
)"""
      case None =>
        s""", abl AS (
  SELECT ip_address FROM bl
  WHERE expires_at > (SELECT max(access_timestamp) FROM $src)
)"""
    }
    s""", bl(ip_address, expires_at) AS (VALUES
  $rows
)$anchor"""
  }

  private[rows] val BlacklistCtes: String = blacklistCtesOver("activity")

  /** Firewall rule dim + the reference match/scope/first-match
    * semantics (Detect.firewallMatch), generated from the seed seqs in
    * Detect so the two sides cannot drift. `fw` holds the first-match
    * row per activity in (priority, rule_id) order.
    */
  private[rows] def rulesCteOf(seed: Seq[Detect.RuleSeed]): String = {
    val rows = seed.map {
      case (id, pat, desc, mt, action, pri, u, ip, active) =>
        def opt(v: Option[String]) =
          v.map(sqlQuote).getOrElse("CAST(NULL AS VARCHAR)")
        s"($id, ${sqlQuote(pat)}, ${sqlQuote(desc)}, ${sqlQuote(mt)}, " +
          s"${sqlQuote(action)}, $pri, ${opt(u)}, ${opt(ip)}, $active)"
    }.mkString(",\n  ")
    s"""rules(rule_id, pattern, description, match_type, action, priority, applies_to_user, applies_to_ip, is_active) AS (VALUES
  $rows
)"""
  }

  private[rows] val FirewallRulesCte: String = rulesCteOf(Detect.FirewallRuleSeed)

  private[rows] val ReferenceRulesCte: String =
    rulesCteOf(Detect.ReferenceFirewallSeed)

  /** `src`/`idCol`: the activity-shaped relation and its per-row key
    * (the stream replay has no cross-engine activity_id — xxhash64 is
    * engine-internal — so it partitions first-match on a synthesized
    * row id instead).
    */
  private[rows] def matchedCteOf(rulesCte: String, src: String = "activity",
                           idCol: String = "activity_id"): String = {
    s""", $rulesCte, fw AS (
  SELECT activity_id, username, ip_address, rule_id, description, action,
    priority, substr(operation_details, 1, 500) AS query_snippet,
    access_timestamp AS matched_at
  FROM (
    SELECT a.$idCol AS activity_id, a.username, a.ip_address, a.operation_details,
      a.access_timestamp, r.rule_id, r.description, r.action, r.priority,
      row_number() OVER (PARTITION BY a.$idCol
        ORDER BY r.priority, r.rule_id) AS rn
    FROM $src a JOIN rules r ON r.is_active
      AND (NULLIF(r.applies_to_user, '') IS NULL OR r.applies_to_user = a.username)
      AND (NULLIF(r.applies_to_ip, '') IS NULL OR r.applies_to_ip = a.ip_address)
      AND (
        (r.match_type = 'contains' AND contains(lower(a.operation_details), lower(r.pattern))) OR
        (r.match_type = 'starts_with' AND starts_with(lower(a.operation_details), lower(r.pattern))) OR
        (r.match_type = 'regex' AND regexp_matches(lower(a.operation_details),
          CASE WHEN r.match_type = 'regex' THEN r.pattern ELSE 'a^' END, 'i')))
  ) WHERE rn = 1
)"""
  }

  private[rows] val FirewallMatchedCte: String = matchedCteOf(FirewallRulesCte)

  private[rows] val ReferenceMatchedCte: String = matchedCteOf(ReferenceRulesCte)

  /** Severity-rule CTE shared by dam_severity / dam_alerts oracles.
    * Mirrors Detect.classify exactly: the fused injection alternation
    * gate + first-matching pattern label (generated from the same
    * InjectionPatterns seq, so the two sides cannot drift), one reason
    * per matched sensitive column, the truthy-user_id rate guard, the
    * expiry-filtered blacklist, and the flattened sequential severity
    * fold (Detect.severityOrdinal — proven ≡ app.py:339-403's loop in
    * DetectSpec). Non-suspicious rows carry NULL reasons (DDL default).
    */
  /** `src` = the activity-shaped input relation; `rateKey` = the
    * rate-limit window/truthiness key (user_id for the batch view;
    * username for the ingest pipeline — Ingest.start rate-keys on
    * username so unknown users don't pool into one NULL bucket).
    */
  private[rows] def severityCtesOver(src: String, rateKey: String,
                               batchCol: Option[String] = None): String = {
    val inj = s"regexp_matches(ql, '${sqlRe(Detect.InjectionAlternation)}')"
    val injLabel = Detect.InjectionPatterns.map { case (p, l) =>
      s"WHEN regexp_matches(ql, '${sqlRe(p)}') THEN '${l.replace("'", "''")}'"
    }.mkString("CASE ", "\n      ", " END")
    val sensHit = Detect.SensitiveColumns
      .map(c => s"contains(ql, '$c')").mkString("(", " OR ", ")")
    val sensReasons = Detect.SensitiveColumns.map(c =>
      s"CASE WHEN contains(ql, '$c') THEN 'Access to sensitive column: $c' END")
      .mkString(",\n      ")
    val sensTables = Detect.SensitiveTables.map(t => s"'$t'").mkString(", ")
    // per-batch parameterization (multi-batch stream replay): the rate
    // window partitions by (batch, key, minute) — a minute straddling a
    // batch boundary counts each side separately, exactly what the
    // per-micro-batch formulation computes — and the blacklist anchor
    // joins the row's own batch
    val ratePart = batchCol.map(bc => s"$bc, ").getOrElse("") +
      s"$rateKey, date_trunc('minute', access_timestamp)"
    val enFrom = batchCol match {
      case Some(bc) => s"FROM $src a JOIN banchor ba ON ba.__bb = a.$bc"
      case None => s"FROM $src a"
    }
    val r1Sql = batchCol match {
      case Some(_) =>
        "EXISTS (SELECT 1 FROM bl WHERE bl.ip_address = a.ip_address AND bl.expires_at > ba.mx)"
      case None => "(ip_address IN (SELECT ip_address FROM abl))"
    }
    s"""${blacklistCtesOver(src, batchCol)}, en AS (
  SELECT a.*, lower(operation_details) AS ql,
    count(*) OVER (PARTITION BY $ratePart) AS events_per_minute,
    $r1Sql AS r1,
    (role = 'Guest' AND operation_type IN ('INSERT','UPDATE','DELETE','DROP','ALTER')) AS r2,
    (role = 'User' AND table_name IN ($sensTables) AND operation_type IN ('SELECT','INSERT','UPDATE')) AS r3,
    (hour(access_timestamp) < ${Detect.WorkingHoursStart} OR hour(access_timestamp) >= ${Detect.WorkingHoursEnd}) AS r4,
    (COALESCE(rows_affected, 0) > 1000) AS r7
  $enFrom
), en2 AS (
  SELECT *, $inj AS r5,
    $sensHit AS r6,
    ($rateKey IS NOT NULL AND CAST($rateKey AS VARCHAR) <> '0'
      AND CAST($rateKey AS VARCHAR) <> ''
      AND events_per_minute > 100) AS r8,
    $injLabel AS inj_label
  FROM en
), sev AS (
  SELECT *,
    CASE WHEN r5 OR (r1 AND NOT r2) THEN 3
         WHEN r6 THEN 2
         WHEN r2 THEN 2
         WHEN r3 OR r4 THEN 1
         WHEN r7 THEN 2
         WHEN r8 THEN 1
         ELSE 0 END AS ord,
    (COALESCE(r1, false) OR COALESCE(r2, false) OR COALESCE(r3, false)
      OR COALESCE(r4, false) OR COALESCE(r5, false) OR COALESCE(r6, false)
      OR COALESCE(r7, false) OR COALESCE(r8, false)) AS fired
  FROM en2
), classified AS (
  SELECT *, CAST(ord AS BIGINT) AS severity_ord,
    CASE WHEN ord >= 3 THEN 'Critical' WHEN ord = 2 THEN 'High'
         WHEN ord = 1 THEN 'Medium' ELSE 'Low' END AS severity_level,
    fired AS is_suspicious,
    CASE WHEN fired THEN concat_ws('; ',
      CASE WHEN r1 THEN 'IP address is blacklisted' END,
      CASE WHEN r2 THEN 'Guest attempting write operation' END,
      CASE WHEN r3 THEN 'User accessing sensitive table: ' || table_name END,
      CASE WHEN r4 THEN 'Access outside working hours' END,
      CASE WHEN r5 THEN 'Suspicious pattern: ' || inj_label END,
      $sensReasons,
      CASE WHEN r7 THEN 'Large data extraction: ' || rows_affected || ' rows' END,
      CASE WHEN r8 THEN 'Rate limit exceeded: ' || events_per_minute || ' queries/min' END)
    END AS suspicious_reasons
  FROM sev
)"""
  }

  private[rows] val SeverityCte: String = severityCtesOver("activity", "user_id")

  private[rows] def act(sql: String): String = ActivityPrelude + "\n" + sql

  private[rows] def sev(sql: String): String = ActivityPrelude + SeverityCte + "\n" + sql

  // ---------------------------------------------------------------- //
  // ANN oracle building blocks: the LSH hyperplanes are fixed         //
  // hash-derived constants, so DuckDB replays bucket assignment from  //
  // the same literals; dot/norm use the decimal-exact product-sum     //
  // pattern proven by emb_knn_brute. Projections replicate the Spark  //
  // side's sequential double fold via list_reduce.                    //
  // ---------------------------------------------------------------- //

  /** Exact-decimal dot product of two DuckDB list expressions. */
  private[rows] def dotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
      s -> CAST(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE)"""

  private[rows] def normSql(e: String): String =
    s"""sqrt(CAST(list_sum(list_transform($e,
      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE))"""

  /** Squared L2 between a list expr and a centroid list expr — the
    * same sequential double fold as Similarity.sqDistTo.
    */
  private[rows] def sqDistSql(v: String, c: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($v, $c),
      s -> (CAST(s[1] AS DOUBLE) - s[2]) * (CAST(s[1] AS DOUBLE) - s[2]))), (a, b) -> a + b)"""

  /** DuckDB replay of Similarity.trainCentroids + ivfTopK: k-means is
    * fully deterministic (init = the nlist lowest vec_ids, fixed Lloyd
    * iterations, decimal-exact means), so the oracle re-trains the
    * same centroids with unrolled iteration CTEs and replays the
    * nprobe search — nothing about IVF stays engine-specific.
    */
  /** The deterministic-k-means IVF replay up to the probe-scored CTE
    * `scored(query_id, vec_id, cos_sim)`; `nn(vec_id, embedding,
    * norm)` is also exposed for consumers needing the exact norms
    * (the recall oracle's brute-force side).
    */
  /** Deterministic-k-means replay CTEs over corpus source `src`
    * (a table or a prior CTE with (vec_id, embedding)): centroid
    * chain c0..c`iters` + final nearest-centroid assignment
    * `af(vec_id, cid)` — the shared Lloyd replay of the IVF and
    * SemDeDup oracles (Similarity.trainCentroids is fully
    * deterministic: init = the nlist lowest vec_ids, fixed
    * iterations, decimal-exact means, (dist, cid) tie-break).
    */
  private[rows] def kmeansAssignCtes(src: String, nlist: Int, iters: Int,
                               dim: Int, suffix: String = "",
                               nlistCaseSql: Option[String] = None,
                               trainSrc: Option[String] = None): String = {
    // nlistCaseSql: a CASE-over-count rung expression replacing the
    // fixed nlist — the DATA-DEPENDENT k replay (semDedup auto
    // sizing): both engines derive k from the same corpus count, so
    // rung selection cannot diverge; a corpus above the enumerated
    // rung ceiling selects NULL → c0 empties → the row fails LOUDLY
    // (the OracleGeometryRungs stance).
    // trainSrc: the SAMPLED-TRAINING replay (writeIvfIndexSampled) —
    // the Lloyd chain (init + iteration assignments/means) runs over
    // the training frame while the final `af` assignment covers the
    // full `src`, exactly the engine's train-on-sample/assign-all
    // split.
    val tsrc = trainSrc.getOrElse(src)
    val init = nlistCaseSql match {
      case Some(kase) =>
        s"""rung$suffix AS (
  -- the data-dependent rung reads the FULL corpus count (the cell
  -- bound governs what gets pruned), even when training is sampled
  SELECT $kase AS k FROM (SELECT count(*) AS n FROM $src)
), c0$suffix AS (
  SELECT cid, cent FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
    FROM $tsrc
  ), rung$suffix WHERE cid < rung$suffix.k
)"""
      case None =>
        s"""c0$suffix AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM (SELECT vec_id, embedding FROM $tsrc ORDER BY vec_id LIMIT $nlist)
)"""
    }
    val iterCtes = (0 until iters).map { i =>
      s"""a$i$suffix AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${sqDistSql("e.embedding", "c.cent")}, c.cid) AS rn
    FROM $tsrc e CROSS JOIN c$i$suffix c
  ) WHERE rn = 1
), m$i$suffix AS (
  SELECT a.cid, t.i AS pos,
    CAST(sum(CAST(CAST(e.embedding[t.i + 1] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
      / count(*) AS m
  FROM $tsrc e JOIN a$i$suffix a USING (vec_id) CROSS JOIN range($dim) t(i)
  GROUP BY a.cid, t.i
), c${i + 1}$suffix AS (
  SELECT c.cid, COALESCE(n.cent, c.cent) AS cent
  FROM c$i$suffix c LEFT JOIN (
    SELECT cid, list(m ORDER BY pos) AS cent FROM m$i$suffix GROUP BY cid
  ) n USING (cid)
)"""
    }.mkString(",\n")
    val af =
      s"""af$suffix AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${sqDistSql("e.embedding", "c.cent")}, c.cid) AS rn
    FROM $src e CROSS JOIN c$iters$suffix c
  ) WHERE rn = 1
)"""
    s"$init,\n$iterCtes,\n$af"
  }

  /** Connected components over a (doc_a, doc_b) pair relation — the
    * DuckDB replica of Dedup.clusterMembership, as UNROLLED min-label
    * propagation + pointer jumping (`rounds` rounds — the same
    * algorithm the Spark side iterates). A full-reachability recursive
    * CTE is exact but quadratic in component size (a 3.5k-doc template
    * component at sf0.1 costs ~10^10 join tuples — measured ~28 min);
    * each unrolled round here is linear in edges, and `rounds` = 9
    * covers diameters far beyond any observed similarity cluster.
    * Exactness is guarded, not assumed: the final round must equal the
    * previous one (fixpoint ⟹ labels constant per component ⟹ the
    * component min), else the guard emits ZERO rows and the parity
    * gate fails loudly rather than passing an unconverged labeling.
    * Ends with `ccm(id, comp)` — the converged membership CTE.
    */
  private[rows] def clusterCtesSql(pairSel: String,
                             rounds: Int = 9): String = {
    // every CTE is MATERIALIZED: DuckDB inlines CTEs by default, so an
    // un-materialized ccedges would re-expand the whole pair pipeline
    // (including the parquet scan) once per reference across the
    // unrolled rounds
    val sb = new StringBuilder
    sb.append(s""", fpx AS MATERIALIZED (
  $pairSel
), ccedges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM fpx
  UNION ALL
  SELECT doc_b, doc_a FROM fpx
), j0 AS MATERIALIZED (
  SELECT src AS id, least(src, min(dst)) AS comp FROM ccedges GROUP BY src
)""")
    for (k <- 1 to rounds) {
      sb.append(s""", p$k AS MATERIALIZED (
  SELECT l.id, least(l.comp, coalesce(m.mn, l.comp)) AS comp
  FROM j${k - 1} l LEFT JOIN (
    SELECT e.dst AS id, min(l2.comp) AS mn
    FROM ccedges e JOIN j${k - 1} l2 ON l2.id = e.src
    GROUP BY e.dst) m USING (id)
), j$k AS MATERIALIZED (
  SELECT l.id, least(l.comp, coalesce(c.comp, l.comp)) AS comp
  FROM p$k l LEFT JOIN p$k c ON c.id = l.comp
)""")
    }
    sb.append(s""", ccm AS (
  SELECT id, comp FROM j$rounds
  WHERE NOT EXISTS (
    SELECT 1 FROM j${rounds - 1} a JOIN j$rounds b USING (id)
    WHERE a.comp <> b.comp)
), ccconv AS (
  SELECT 1 AS ok WHERE NOT EXISTS (
    SELECT 1 FROM j${rounds - 1} a JOIN j$rounds b USING (id)
    WHERE a.comp <> b.comp)
)""")
    sb.toString
  }

  private[rows] val fmtTs = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss")

}
