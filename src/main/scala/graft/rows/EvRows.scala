package graft.rows

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Analytics, Layout}
import Prelude._

/** The event-table rows (`ev_*`): windows, sessions, sketches, snapshots,
  * SCD-2 and the as-of joins over raw events. */
object EvRows {

  /** Latest-event-per-user snapshot compaction: packed-struct max
    * AGGREGATE (map-side partial, no window) keyed on (ts, event_id) —
    * unique, so ≡ the oracle's row_number(ts DESC, event_id DESC).
    */
  private def eventSnapshot(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("last_event_id"),
        date_format(col("m.ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("m.event_type").as("last_type"),
        round(col("m.value"), 4).as("last_value"))

  /** Full-recompute SCD-2 replay (Analytics.scd2): shared by the
    * batch row and the incremental-merge row — the merge leg's oracle
    * is the full recompute itself.
    */
  private val Scd2FullSql: String =
    """WITH o AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), ch AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
  strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
    '%Y-%m-%d %H:%M:%S') AS valid_to,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
    AS BIGINT) AS version
FROM ch ORDER BY user_id, version"""

  /** Oracle face of [[eventSnapshot]] over an events predicate. */
  private def snapshotSql(pred: String): String =
    s"""SELECT user_id, event_id AS last_event_id,
    strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
    event_type AS last_type, round(value, 4) AS last_value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE $pred)
  WHERE rn = 1"""

  /** The Count-Min contract row behind `ev_cms_counts`: one
    * distributive pass builds the sketch; the checked surface is the
    * CMS CONTRACT — est ≥ true (one-sided) and est ≤ true + 2·⌈ε·N⌉.
    * The doubled slack is deliberate (round-6 advice): the upper bound
    * holds per point query only with confidence δ = 0.999, so the
    * single-ε flag could flip spuriously on an unlucky new scale
    * factor with no code bug; 2ε keeps the gate failing only on real
    * breakage (seed drift, merge bugs) while remaining far below any
    * use of the estimate.
    *
    * Bounded-enum contract, EXECUTABLE (round-6 verdict #5): reading
    * per-key estimates off the driver-held sketch is only sane for a
    * bounded dim, so the domain fetch is LIMIT maxEnum+1 and the query
    * fails fast past the cap instead of collecting an unbounded domain
    * to the driver. (The same discipline bounds `Dedup.bloomNovel`'s
    * `expectedItems`: the serialized sketch is driver-held and
    * broadcast, sized for the NEW batch — never the corpus.)
    */
  private[graft] def cmsCounts(ev: DataFrame, maxEnum: Int = 64): DataFrame = {
    val head = ev.agg(
      count_min_sketch(col("event_type"), lit(0.0005d), lit(0.999d),
        lit(42)).as("cms"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(head.getAs[Array[Byte]]("cms"))
    val slack = 2L * math.ceil(0.0005d * head.getAs[Long]("n")).toLong
    val types = boundedEnumDomain(ev, maxEnum)
    val estMap = map(types.flatMap(t =>
      Seq(lit(t), lit(cms.estimateCount(t)))): _*)
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_count"))
      .select(col("event_type"), col("exact_count"),
        (element_at(estMap, col("event_type")) >= col("exact_count"))
          .as("one_sided"),
        (element_at(estMap, col("event_type")) <=
          col("exact_count") + lit(slack)).as("within_eps"))
      .orderBy(col("event_type"))
  }

  /** Sorted bounded grouping domain for driver-held estimate maps:
    * LIMIT maxEnum+1 fetch, fail-fast past the cap or on a null key —
    * the executable bounded-enum contract shared by [[cmsCounts]] and
    * [[cmsMergeContract]].
    */
  private def boundedEnumDomain(ev: DataFrame, maxEnum: Int): Seq[String] = {
    val types = ev.select(col("event_type")).distinct()
      .limit(maxEnum + 1).collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
    // a null group would read a MISSING map key downstream and
    // silently null the contract flags instead of failing them
    require(!types.contains(null),
      "cmsCounts: null event_type — the bounded-enum contract needs a " +
        "non-null grouping column")
    require(types.length <= maxEnum,
      s"cmsCounts: grouping domain exceeds the bounded-enum contract " +
        s"(> $maxEnum distinct values) — driver-held estimate maps are " +
        "for bounded dims only")
    types.toIndexedSeq.sorted
  }

  /** The MERGEABLE-CMS contract row (`ev_cms_merge` — the CMS analog
    * of `ev_reach_merge` on the same daily-pipeline story): the
    * corpus/batch split is sketched in ONE pass (two conditional
    * aggregates; the sketch skips the nulls the `when` leaves on the
    * other part's rows), the halves merge driver-side via
    * [[graft.operators.Analytics.mergeCms]], and an INDEPENDENTLY
    * built full-stream sketch is the yardstick. The merge contract is
    * the strongest of the sketch family: CMS counters add
    * element-wise at seed-determined hashes, so every per-key merged
    * estimate must be BIT-IDENTICAL to the full recompute's (not
    * merely within bounds) — on top of [[cmsCounts]]'s one-sided and
    * 2ε flags, now checked on the MERGED estimate.
    */
  private[graft] def cmsMergeContract(ev: DataFrame,
                                      maxEnum: Int = 64): DataFrame = {
    val eps = 0.0005d
    val parts = ev.agg(
      count_min_sketch(when(col("event_id") % 5 =!= 0, col("event_type")),
        lit(eps), lit(0.999d), lit(42)).as("cms_corpus"),
      count_min_sketch(when(col("event_id") % 5 === 0, col("event_type")),
        lit(eps), lit(0.999d), lit(42)).as("cms_batch"),
      count(lit(1)).as("n")).head()
    val merged = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      Analytics.mergeCms(
        parts.getAs[Array[Byte]]("cms_corpus"),
        parts.getAs[Array[Byte]]("cms_batch")))
    val full = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      Analytics.cmsSketch(ev).head().getAs[Array[Byte]]("cms"))
    val slack = 2L * math.ceil(eps * parts.getAs[Long]("n")).toLong
    val types = boundedEnumDomain(ev, maxEnum)
    val mergedMap = map(types.flatMap(t =>
      Seq(lit(t), lit(merged.estimateCount(t)))): _*)
    val fullMap = map(types.flatMap(t =>
      Seq(lit(t), lit(full.estimateCount(t)))): _*)
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_count"))
      .select(col("event_type"), col("exact_count"),
        (element_at(mergedMap, col("event_type")) ===
          element_at(fullMap, col("event_type"))).as("merge_equals_full"),
        (element_at(mergedMap, col("event_type")) >= col("exact_count"))
          .as("one_sided"),
        (element_at(mergedMap, col("event_type")) <=
          col("exact_count") + lit(slack)).as("within_eps"))
      .orderBy(col("event_type"))
  }

  val rows: Seq[Row] = Seq(
    Row("ev_sessions", (s, d) => Analytics.sessionize(Tables.events(s, d)),
      """WITH x AS (
  SELECT user_id, event_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), y AS (
  SELECT user_id, ts,
    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session, event_id
  FROM x
), z AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM y
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  count(*) AS n_events,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts
FROM z GROUP BY 1, 2 ORDER BY user_id, session_id"""),
    // the native session_window aggregation in batch mode — the same
    // expression sessionizes the live stream (IngestSpec); gap rule
    // identical to ev_sessions, end = last event + gap
    Row("ev_session_windows", (s, d) =>
      graft.streaming.Ingest.sessionWindows(Tables.events(s, d))
        .select(col("user_id"),
          date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
          date_format(col("end_ts"), "yyyy-MM-dd HH:mm:ss").as("end_ts"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_ts")),
      // Ingest.sessionWindows in batch mode: the ev_sessions gap rule
      // (new session iff ts strictly exceeds prev + gap — touching
      // intervals merge), end reported as last event + gap
      """WITH x AS (
  SELECT user_id, event_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), y AS (
  SELECT user_id, ts,
    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session, event_id
  FROM x
), z AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM y
)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS end_ts,
  count(*) AS n_events
FROM z GROUP BY user_id, session_id ORDER BY user_id, start_ts"""),
    // Ingest.streamDedup's batch face over a simulated at-least-once
    // feed (every 10th event redelivered verbatim); the streaming face
    // (dropDuplicatesWithinWatermark, cross-micro-batch) is spec-driven
    Row("ev_stream_dedup", (s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.Ingest.streamDedup(
          ev.unionAll(ev.filter(col("event_id") % 10 === 0)))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy(col("event_id"))
    },
      // streamDedup's batch face: exact-copy redeliveries collapse to
      // the original feed (DISTINCT replays dropDuplicates because the
      // duplicated rows are verbatim copies)
      """WITH feed AS (
  SELECT event_id, ts, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, ts, user_id, event_type, value FROM events
  WHERE event_id % 10 = 0
), d AS (SELECT DISTINCT event_id, ts, user_id, event_type, value FROM feed)
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, user_id,
  event_type, round(value, 4) AS value
FROM d ORDER BY event_id"""),
    // Ingest.intervalJoin in batch mode — the same expression is the
    // watermark-bounded stream-stream join (spec-driven); purchases
    // attributed to same-user clicks in the trailing 30 minutes
    Row("ev_stream_join", (s, d) =>
      graft.streaming.Ingest.intervalJoin(Tables.events(s, d))
        .select(col("purchase_id"), col("user_id"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("purchase_ts"),
          col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("click_ts"),
          round(col("value"), 4).as("value"))
        .orderBy(col("purchase_id"), col("click_id")),
      """SELECT p.event_id AS purchase_id, p.user_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
  c.event_id AS click_id,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
  round(p.value, 4) AS value
FROM events p JOIN events c ON c.user_id = p.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
ORDER BY purchase_id, click_id"""),
    // Z-order layout key (Layout.zkey): Morton-interleaved (user_id,
    // epoch-second) buckets — the clustering key writeZOrdered sorts
    // files by. The row checks the full 32-bit key algebra per event
    // (grouped to 256 coarse cells so the output stays bounded); the
    // file-skipping payoff itself is LayoutSpec's measured audit.
    Row("ev_zorder", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("tsec"))
      val b = ev.agg(min("user_id").as("umn"), max("user_id").as("umx"),
        min("tsec").as("tmn"), max("tsec").as("tmx"))
      ev.crossJoin(broadcast(b))
        .withColumn("zkey", Layout.zkey(
          col("user_id"), col("umn"), col("umx"),
          col("tsec"), col("tmn"), col("tmx")))
        .groupBy(shiftright(col("zkey"), 24).as("zcell"))
        .agg(count(lit(1)).as("n"), min("zkey").as("key_min"),
          max("zkey").as("key_max"))
        .orderBy(col("zcell"))
    },
      // Morton key replay: identical IEEE double bucket scaling, then
      // the 4 magic spreading steps per dimension as chained CTEs
      """WITH b AS (
  SELECT min(user_id) AS umn, max(user_id) AS umx,
    CAST(floor(epoch(min(ts))) AS BIGINT) AS tmn,
    CAST(floor(epoch(max(ts))) AS BIGINT) AS tmx
  FROM events
), k0 AS (
  SELECT event_id,
    CASE WHEN umx <= umn THEN 0
         ELSE CAST(floor((user_id - umn) * 65535.0 / (umx - umn)) AS BIGINT)
    END AS ub,
    CASE WHEN tmx <= tmn THEN 0
         ELSE CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) - tmn) * 65535.0
                         / (tmx - tmn)) AS BIGINT)
    END AS tb
  FROM events, b
), k1 AS (
  SELECT event_id, ((ub | (ub << 8)) & 16711935) AS u,
    ((tb | (tb << 8)) & 16711935) AS t FROM k0
), k2 AS (
  SELECT event_id, ((u | (u << 4)) & 252645135) AS u,
    ((t | (t << 4)) & 252645135) AS t FROM k1
), k3 AS (
  SELECT event_id, ((u | (u << 2)) & 858993459) AS u,
    ((t | (t << 2)) & 858993459) AS t FROM k2
), k4 AS (
  SELECT event_id, ((u | (u << 1)) & 1431655765) AS u,
    ((t | (t << 1)) & 1431655765) AS t FROM k3
), z AS (
  SELECT event_id, (u | (t << 1)) AS zkey FROM k4
)
SELECT zkey >> 24 AS zcell, count(*) AS n,
  min(zkey) AS key_min, max(zkey) AS key_max
FROM z GROUP BY zcell ORDER BY zcell"""),
    // CDC snapshot maintenance: latest-event-per-user snapshot kept
    // incrementally — compact the delta, MERGE it into the base
    // snapshot (Mutations.mergeUpsert, one anti-join). The spec
    // asserts the merged snapshot ≡ full recompute; the oracle states
    // the incremental form itself.
    Row("ev_snapshot_merge", (s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-20").cast("timestamp_ntz")
      graft.sources.Mutations.mergeUpsert(
          eventSnapshot(ev.filter(col("ts") < cut)),
          eventSnapshot(ev.filter(col("ts") >= cut)), Seq("user_id"))
        .orderBy(col("user_id"))
    },
      s"""WITH base AS (
  ${snapshotSql("ts < TIMESTAMP '2024-01-20'")}
), delta AS (
  ${snapshotSql("ts >= TIMESTAMP '2024-01-20'")}
)
SELECT user_id, last_event_id, last_ts, last_type, last_value FROM (
  SELECT * FROM base WHERE user_id NOT IN (SELECT user_id FROM delta)
  UNION ALL SELECT * FROM delta
) ORDER BY user_id"""),
    // op-coded CDC apply: the delta batch carries upserts AND deletes
    // (users whose latest event is an 'error' are retired) — lakehouse
    // MERGE semantics in one anti-join (Mutations.applyCdc)
    Row("ev_cdc_apply", (s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-20").cast("timestamp_ntz")
      val changes = eventSnapshot(ev.filter(col("ts") >= cut))
        .withColumn("op",
          when(col("last_type") === "error", "D").otherwise("U"))
      graft.sources.Mutations.applyCdc(
          eventSnapshot(ev.filter(col("ts") < cut)), changes,
          Seq("user_id"), "op")
        .orderBy(col("user_id"))
    },
      // op-coded CDC: every change key leaves the base; non-deletes
      // union back
      s"""WITH base AS (
  ${snapshotSql("ts < TIMESTAMP '2024-01-20'")}
), delta AS (
  ${snapshotSql("ts >= TIMESTAMP '2024-01-20'")}
)
SELECT user_id, last_event_id, last_ts, last_type, last_value FROM (
  SELECT * FROM base WHERE user_id NOT IN (SELECT user_id FROM delta)
  UNION ALL SELECT * FROM delta WHERE last_type <> 'error'
) ORDER BY user_id"""),
    Row("ev_funnel", (s, d) =>
      Analytics.funnel(Tables.events(s, d), "signup", "purchase"),
      """WITH f AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN ts END) AS first_from,
    max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_to
  FROM events GROUP BY user_id
)
SELECT count(CASE WHEN first_from IS NOT NULL THEN 1 END) AS entered,
  count(CASE WHEN first_from IS NOT NULL AND last_to > first_from THEN 1 END) AS converted,
  CAST(count(CASE WHEN first_from IS NOT NULL AND last_to > first_from THEN 1 END) * 10000 AS DOUBLE)
    / greatest(count(CASE WHEN first_from IS NOT NULL THEN 1 END), 1) AS conv_bp
FROM f"""),
    Row("ev_retention", (s, d) =>
      Analytics.retentionCohorts(Tables.events(s, d)),
      """WITH fs AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
  CAST((floor(epoch(date_trunc('week', e.ts))) - floor(epoch(cohort_week))) // 604800 AS BIGINT) AS week_offset,
  count(DISTINCT e.user_id) AS active_users
FROM events e JOIN fs USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2"""),
    // SCD-2 dimension build: per-user validity intervals of the
    // tracked attribute — one user-keyed shuffle, three shared-window
    // passes (the effective-dated shape the as-of join consumes)
    Row("ev_scd2", (s, d) => Analytics.scd2(Tables.events(s, d)),
      // SCD-2: change rows survive, lead() closes each interval
      Scd2FullSql),
    // incremental SCD-2 maintenance: scd2 runs on the BATCH only and
    // merges into the persisted dim (continuations fold into the open
    // interval, versions renumber) — the ORACLE is the full recompute,
    // so incremental ≡ full is hash-proven, not just spec'd
    Row("ev_scd2_merge", (s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-20").cast("timestamp_ntz")
      Analytics.scd2Merge(Analytics.scd2(ev.filter(col("ts") < cut)),
        ev.filter(col("ts") >= cut))
    },
      Scd2FullSql),
    Row("ev_percentiles", (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type")),
      """SELECT event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99,
  count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type"""),
    Row("ev_user_reach", (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type")),
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
  count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type"""),
    // approx sketch (HLL++): the raw estimate is engine-specific, so
    // the checkable surface is the CONTRACT — the estimate must land
    // within 3×rsd of the exact count (HLL standard error = rsd;
    // typical observed error ≪ rsd). The oracle replays the exact
    // counts with within_bound ≡ TRUE: an estimate drifting past the
    // bound flips the flag and fails the hash gate.
    // mergeable reach state: corpus + batch sketches unioned vs the
    // single-pass sketch of the whole feed — the merge must be
    // LOSSLESS (estimate equality, not just epsilon agreement) and
    // the estimate must stay within the HLL bound of the exact count
    Row("ev_reach_merge", (s, d) => {
      val ev = Tables.events(s, d)
      val corpus = ev.filter(col("event_id") % 5 =!= 0)
      val batch = ev.filter(col("event_id") % 5 === 0)
      val merged = Analytics.reachEstimates(Analytics.mergeReach(
          Analytics.reachSketches(corpus), Analytics.reachSketches(batch)))
        .withColumnRenamed("est_users", "merged_est")
      val full = Analytics.reachEstimates(Analytics.reachSketches(ev))
        .withColumnRenamed("est_users", "full_est")
      ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
        .join(merged, Seq("event_type"))
        .join(full, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (col("merged_est") === col("full_est")).as("merge_equals_full"),
          (abs(col("merged_est") - col("exact_users")).cast("double") /
            greatest(col("exact_users").cast("double"), lit(1.0)) <= 0.05)
            .as("within_bound"))
        .orderBy(col("event_type"))
    },
      // sketch contract row (like ev_user_reach_approx / ev_cms_counts):
      // the oracle replays the exact counts and asserts the engine-side
      // contract flags are TRUE — a lossy merge or an out-of-bound
      // estimate flips a flag and fails the hash gate
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
  true AS merge_equals_full, true AS within_bound
FROM events GROUP BY event_type ORDER BY event_type"""),
    Row("ev_user_reach_approx", (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") /
          greatest(col("exact_users").cast("double"), lit(1.0)) <= 0.15)
          .as("within_bound"))
      .orderBy(col("event_type")),
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
  TRUE AS within_bound
FROM events GROUP BY event_type ORDER BY event_type"""),
    // quantile-sketch contract row (the third sketch family beside
    // HLL and CMS): approx_percentile's bound is on RANK, not value —
    // the estimate's rank among the group's values must land within
    // n/accuracy (+1 slack for ties and the ceil) of the target rank.
    // Checked with one extra broadcast join + count pass; the oracle
    // replays exact group counts with the flag ≡ TRUE.
    Row("ev_pctile_sketch", (s, d) => {
      val acc = 1000
      val p = 0.9
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val est = ev.groupBy(col("event_type"))
        .agg(expr(s"approx_percentile(value, $p, $acc)").as("est"))
      ev.join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("est"), 1L).otherwise(0L))
            .as("rank_le"),
          sum(when(col("value") < col("est"), 1L).otherwise(0L))
            .as("rank_lt"))
        .select(col("event_type"), col("n"),
          ((col("rank_le") >= ceil(col("n") * lit(p)) -
              (col("n") / lit(acc)).cast("long") - lit(1)) &&
            (col("rank_lt") <= ceil(col("n") * lit(p)) +
              (col("n") / lit(acc)).cast("long") + lit(1)))
            .as("within_rank_bound"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  TRUE AS within_rank_bound
FROM events GROUP BY event_type ORDER BY event_type"""),
    // Count-Min frequency sketch (Cormode & Muthukrishnan 2005), the
    // point-query dual of ev_user_reach_approx's HLL — see [[cmsCounts]] for
    // the contract (one-sided + 2ε slack) and the executable
    // bounded-enum guard; the oracle replays exact counts with both
    // flags ≡ TRUE.
    Row("ev_cms_counts", (s, d) => cmsCounts(Tables.events(s, d)),
      // the CMS contract row: the oracle states the exact counts and
      // that both sketch guarantees (one-sided overestimate, ε·N slack)
      // hold — an estimate drifting past either flips a flag and fails
      // the hash gate
      """SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count,
  TRUE AS one_sided, TRUE AS within_eps
FROM events GROUP BY event_type ORDER BY event_type"""),
    // mergeable-CMS contract: persisted-sketch state folded batch-wise
    // must answer per-key frequencies BIT-IDENTICALLY to a full
    // recompute (see cmsMergeContract)
    Row("ev_cms_merge", (s, d) => cmsMergeContract(Tables.events(s, d)),
      // mergeable-CMS contract: exact counts + the three engine flags
      // all TRUE — a lossy merge (merged ≠ full recompute, per-key and
      // bit-exact), a lost one-sided guarantee, or a blown ε bound each
      // flips a flag and fails the hash gate
      """SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count,
  TRUE AS merge_equals_full, TRUE AS one_sided, TRUE AS within_eps
FROM events GROUP BY event_type ORDER BY event_type"""),
    // ---- as-of (point-in-time) join ----
    Row("ev_asof_order", (s, d) => {
      import graft.operators.AsOf
      AsOf.asofJoin(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        "user_id", "ts",
        Tables.orders(s, d), "o_custkey", "o_orderdate", "o_orderkey",
        Seq("o_orderkey", "o_orderdate", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("__asof.o_orderkey").as("last_orderkey"),
          fmtTs(col("__asof.o_orderdate")).as("last_orderdate"),
          col("__asof.o_totalprice").as("last_totalprice"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, last_orderkey,
  strftime(last_orderdate, '%Y-%m-%d %H:%M:%S') AS last_orderdate,
  last_totalprice
FROM (
  SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
    o.o_orderdate AS last_orderdate, o.o_totalprice AS last_totalprice,
    row_number() OVER (PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
) WHERE rn = 1 ORDER BY event_id"""),
    // forward as-of with a 30-day tolerance: the next order AT OR
    // AFTER each event — the backward algorithm on reversed time,
    // still one shuffle (second window over the same union)
    Row("ev_asof_forward", (s, d) => {
      import graft.operators.AsOf
      AsOf.asofJoinDirected(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        "user_id", "ts",
        Tables.orders(s, d), "o_custkey", "o_orderdate", "o_orderkey",
        Seq("o_orderkey", "o_totalprice"),
        direction = "forward", toleranceSec = Some(30L * 86400L))
        .select(col("event_id"), col("user_id"),
          col("__asof.o_orderkey").as("next_orderkey"),
          fmtTs(col("__asof_ts")).as("next_orderdate"),
          col("__asof.o_totalprice").as("next_totalprice"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, next_orderkey,
  strftime(next_orderdate, '%Y-%m-%d %H:%M:%S') AS next_orderdate,
  next_totalprice
FROM (
  SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey,
    o.o_orderdate AS next_orderdate, o.o_totalprice AS next_totalprice,
    row_number() OVER (PARTITION BY e.event_id
      ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
    AND date_diff('microsecond', e.ts, o.o_orderdate) <= 2592000000000
) WHERE rn = 1 ORDER BY event_id"""),
    // nearest as-of (tie -> backward): whichever order is closer in
    // time on either side of the event
    Row("ev_asof_nearest", (s, d) => {
      import graft.operators.AsOf
      AsOf.asofJoinDirected(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        "user_id", "ts",
        Tables.orders(s, d), "o_custkey", "o_orderdate", "o_orderkey",
        Seq("o_orderkey"),
        direction = "nearest")
        .select(col("event_id"), col("user_id"),
          col("__asof.o_orderkey").as("near_orderkey"),
          fmtTs(col("__asof_ts")).as("near_orderdate"))
        .orderBy(col("event_id"))
    },
      // nearest as-of: the closer of the backward/forward candidates,
      // ties to backward — stated as the two rn=1 candidates joined back
      """WITH b AS (
  SELECT event_id, bk, bts FROM (
    SELECT e.event_id, o.o_orderkey AS bk, o.o_orderdate AS bts,
      row_number() OVER (PARTITION BY e.event_id
        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
  ) WHERE rn = 1
), f AS (
  SELECT event_id, fk, fts FROM (
    SELECT e.event_id, o.o_orderkey AS fk, o.o_orderdate AS fts,
      row_number() OVER (PARTITION BY e.event_id
        ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
    FROM events e JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
  ) WHERE rn = 1
)
SELECT e.event_id, e.user_id,
  CASE WHEN f.fk IS NULL THEN b.bk
       WHEN b.bk IS NOT NULL
         AND date_diff('microsecond', b.bts, e.ts)
           <= date_diff('microsecond', e.ts, f.fts) THEN b.bk
       ELSE f.fk END AS near_orderkey,
  strftime(
    CASE WHEN f.fk IS NULL THEN b.bts
         WHEN b.bk IS NOT NULL
           AND date_diff('microsecond', b.bts, e.ts)
             <= date_diff('microsecond', e.ts, f.fts) THEN b.bts
         ELSE f.fts END,
    '%Y-%m-%d %H:%M:%S') AS near_orderdate
FROM events e
LEFT JOIN b ON b.event_id = e.event_id
LEFT JOIN f ON f.event_id = e.event_id
ORDER BY e.event_id"""),
  )
}
