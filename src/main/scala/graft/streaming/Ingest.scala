package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.functions.Classify
import graft.operators.{Detect, MicroBatches}

/** The E1 ingest pipeline (SURVEY §3) as Structured Streaming:
  * general_log-shaped rows → lenient hex decode → skip filter →
  * classify (operation / table / username / status / hash) →
  * role enrichment → severity lattice → append to the logs table,
  * High/Critical subset to the alerts table.
  *
  * Scale design:
  *  - All per-row classification is Column expressions inside the
  *    scan stage of each micro-batch — no state, no shuffle.
  *  - The enrichment joins (users, blacklist, firewall rules) are
  *    stream-static broadcast joins. The firewall rule dim is
  *    re-resolved from the warehouse per micro-batch when
  *    `IngestConfig.rulesDir` is set, reproducing the reference's
  *    60 s rule-cache TTL (app.py:819-827) at micro-batch cadence —
  *    an in-memory fixture frame (the `rules` argument) stays static.
  *  - Detection runs inside foreachBatch, where the micro-batch is a
  *    plain DataFrame, so the batch severity pipeline (incl. its
  *    per-minute window) is reused verbatim. Cross-batch rate
  *    accounting is handled exactly by [[rateLimitFlags]]
  *    (flatMapGroupsWithState) rather than the per-batch window.
  *  - Output is date-partitioned parquet — at 100 TB the logs table
  *    prunes by event date, matching the reference's timestamp index.
  *  - Watermark 0 seconds + dropDuplicates mirrors the agent's
  *    strictly-monotone cursor semantics (late events dropped,
  *    dam_agent.py:199-201); the watermark delay is configurable to
  *    trade that fidelity for real late-data tolerance.
  */
object Ingest {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run this session's streaming state on the RocksDB state store
    * (SURVEY §4). The default HDFS-backed provider keeps every
    * version of every key ON THE EXECUTOR HEAP — at 100 TB / hundreds
    * of millions of stream keys (watermark dedup ids, per-user rate /
    * lockout / last-IP state) executor memory is the first thing that
    * dies. RocksDB keeps state off-heap on local disk with the same
    * exactness, and changelog checkpointing uploads per-batch deltas
    * instead of full SST snapshots, so checkpoint cost tracks batch
    * CHANGE volume, not total state size.
    *
    * Called by every stream-starting entry point in this object; an
    * EXPLICIT non-default provider already set on the session (e.g. a
    * custom store) is respected and left alone. The provider is
    * per-query, captured at `.start()` — callers composing the
    * stateful flag datasets ([[rateLimitFlags]], [[lockoutFlags]],
    * [[ipSwitchFlags]]) into their own queries should call this
    * before starting them, as IngestSpec does.
    */
  def withRocksDbState(spark: SparkSession): SparkSession = {
    val current = spark.conf.get(ProviderKey, HdfsProvider)
    if (current == HdfsProvider) {
      spark.conf.set(ProviderKey, RocksDbProvider)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    }
    spark
  }

  final case class IngestConfig(
      logsDir: String,
      alertsDir: String,
      checkpointDir: String,
      rateThreshold: Int = 100,
      watermarkDelay: String = "0 seconds",
      triggerMs: Long = 3000L,
      // when set, every firewall first-match is persisted there in the
      // firewall_blocks shape (reference app.py:845-848); block-action
      // hits are excluded from the logs/alerts sinks either way
      blocksDir: Option[String] = None,
      // when set, the firewall rule dim is RE-READ from this warehouse
      // directory at the start of every micro-batch, so FirewallAdmin
      // changes take effect mid-stream — the micro-batch cadence plays
      // the role of the reference's 60 s rule-cache TTL
      // (app.py:819-827). Takes precedence over the static `rules`
      // argument of [[start]].
      rulesDir: Option[String] = None,
      // how many CONSECUTIVE micro-batches may gate on a stale
      // rule snapshot when rulesDir turns unreadable before the
      // stream fails — bounds rule staleness to
      // maxRuleFallbackBatches × trigger interval (the reference's
      // cache is bounded at 60 s the same way)
      maxRuleFallbackBatches: Int = 3,
      // when set (with a postFactory passed to [[start]]), every
      // micro-batch's High/Critical alerts fan out to the ACTIVE
      // webhooks registered under this warehouse root — on the
      // EXECUTORS ([[graft.sources.Webhooks.fireAllDistributed]]),
      // the reference's fire-on-alert-creation behavior
      // (app.py:914-917) at micro-batch cadence. At-least-once: a
      // crash replay re-fires the replayed batch's alerts, the
      // standard contract for side-effecting sinks
      webhooksRoot: Option[String] = None)

  /** Raw general_log rows → activity_logs-shaped frame. Pure column
    * pipeline; works identically on batch and streaming frames
    * (reference dam_agent.py:46-242).
    */
  def parseGeneralLog(raw: DataFrame): DataFrame = {
    val sql = Classify.lenientHexDecode(col("argument"))
    raw
      .filter(Classify.keepQuery(col("argument")))
      .withColumn("operation_details", substring(sql, 1, 1000))
      .select(
        // deterministic surrogate id: content-addressed (AUTO_INCREMENT
        // has no distributed equivalent; SURVEY §1.3). CONTRACT: dedup
        // assumes at most one identical statement per (event_time,
        // user_host) tick — two genuinely distinct deliveries with
        // byte-identical text in the same timestamp collapse to one
        // (the general_log's µs timestamps make that collision a
        // same-connection replay in practice; a per-delivery offset
        // would restore AUTO_INCREMENT multiplicity but break
        // replay-idempotence, which the pipeline values more)
        xxhash64(col("event_time"), col("user_host"), col("argument"))
          .as("activity_id"),
        Classify.usernameOf(col("user_host")).as("username"),
        Classify.operationType(col("operation_details")).as("operation_type"),
        Classify.tableNameOf(col("operation_details")).as("table_name"),
        Classify.statusOf(col("operation_details")).as("operation_status"),
        col("operation_details"),
        coalesce(
          nullif(regexp_extract(col("user_host"), "@\\s*([0-9a-fA-F:.]+)", 1),
            lit("")),
          lit("127.0.0.1")).as("ip_address"),
        col("event_time").cast("timestamp").as("access_timestamp"),
        Classify.queryHash(col("operation_details")).as("query_hash"))
  }

  /** S4 per-row error isolation: split raw rows into (valid, rejects)
    * instead of silently dropping malformed input (reference
    * app.py:1193-1206 catches per-row errors in bulk ingest). A row is
    * rejected when it cannot produce a well-formed activity: missing
    * event time or empty/system-filtered statement text.
    */
  def parseWithRejects(raw: DataFrame): (DataFrame, DataFrame) = {
    val reasons = array_compact(array(
      when(col("event_time").isNull, "missing event_time"),
      when(col("argument").isNull || trim(col("argument")) === "",
        "empty statement"),
      when(col("argument").isNotNull &&
        !Classify.keepQuery(col("argument")), "system query filtered")))
    val tagged = raw.withColumn("reject_reasons", reasons)
    val valid = parseGeneralLog(
      tagged.filter(size(col("reject_reasons")) === 0)
        .drop("reject_reasons"))
    val rejects = tagged.filter(size(col("reject_reasons")) > 0)
      .select(col("event_time"), col("user_host"), col("argument"),
        array_join(col("reject_reasons"), "; ").as("reject_reason"))
    (valid, rejects)
  }

  /** Companion rejects stream: persists the malformed/filtered rows
    * from the same raw source (with reasons) so per-row error
    * isolation is an operational property of the deployment, not just
    * a helper. Runs as its own query with its own checkpoint.
    * NOTE: the sink is ingest_batch-partitioned (replay idempotence);
    * a rejects directory written by a pre-partitioned (flat append)
    * layout must be migrated or pointed elsewhere before upgrading —
    * parquet cannot read a mixed flat/partitioned structure.
    */
  def startRejects(source: DataFrame, rejectsDir: String,
                   checkpointDir: String,
                   triggerMs: Long = 3000L): StreamingQuery = {
    withRocksDbState(source.sparkSession)
    parseWithRejects(source)._2.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same replay idempotence as the main sinks: overwrite only
        // this batch's partition on a post-crash replay
        MicroBatches.writeBatch(batch, rejectsDir, "ingest_batch", batchId)
        ()
      }
      .start()
  }

  /** Start the ingest stream. `source` is a streaming DataFrame with
    * the general_log schema (event_time, user_host, argument); `users`
    * is the static user dim (username, role); `rules` a fixed
    * in-memory firewall rule dim (defaults to
    * [[Detect.firewallRules]]) — superseded by `cfg.rulesDir`, which
    * re-reads the warehouse rules table every micro-batch.
    *
    * Firewall semantics follow the reference agent-ingest endpoint
    * (app.py:1170-1181): every parsed statement is checked first; any
    * first-match hit is recorded in the firewall_blocks sink (whatever
    * its action, app.py:843-848), and a hit whose action is 'block'
    * never reaches the logs or detection — the statement is rejected
    * before insert.
    */
  /** Run independent sink commits concurrently (guide §2.6): each
    * micro-batch sink job is fixed-cost-bound (job scheduling + file
    * commit over cached input), so overlapping them hides all but the
    * slowest commit. Every task is awaited BEFORE the first failure
    * propagates — cleanup (unpersist, temp-dir deletion) must never
    * race a still-running write.
    */
  private def runConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        val futs = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = t()
          })
        }
        val errs = futs.flatMap(f => scala.util.Try(f.get()).failed.toOption)
        errs.headOption.foreach {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
          case e => throw e
        }
      } finally { pool.shutdown(); () }
    }

  def start(spark: SparkSession, source: DataFrame, users: DataFrame,
            cfg: IngestConfig,
            rules: Option[DataFrame] = None,
            postFactory: Option[() => (String, String) => Unit] = None): StreamingQuery = {
    withRocksDbState(spark)
    val staticRules = rules.getOrElse(Detect.firewallRules(spark))
    // the users dim joins into EVERY micro-batch; pin it once at
    // stream start so each trigger's broadcast builds from local
    // blocks instead of re-running the dim's lineage (round-14: the
    // replay fixture derives users from an events-table distinct —
    // one full dim recompute per batch ACTION before this)
    val usersPinned = users.localCheckpoint(true)
    // cfg.rulesDir: re-resolve the dim per micro-batch with a FRESH
    // read (a captured DataFrame pins its file listing at creation, so
    // a swap-rewrite by FirewallAdmin would dangle); recoverSwap first
    // in case an admin mutation crashed mid-swap. The snapshot is
    // COLLECTED (the rule dim is a handful of rows — the reference
    // holds it in process memory behind a 60 s TTL, app.py:819-827) so
    // a concurrent swap-rewrite mid-batch cannot dangle the file
    // listing, and a swap racing the read itself degrades to one retry
    // and then to the previous batch's rule set instead of killing the
    // stream (round-4 advisor).
    // Degrading forever on a stale snapshot would make permanent
    // breakage (bad permissions, deleted dir) indistinguishable from a
    // transient swap race, so each fallback logs the snapshot's age and
    // after maxRuleFallbackBatches consecutive fallbacks the stream
    // fails instead — the reference's 60 s TTL cache likewise re-reads
    // and surfaces failures rather than pinning old rules silently.
    var lastGoodRules: Option[DataFrame] = None
    var lastGoodBatchId: Long = -1L
    var consecutiveFallbacks: Int = 0
    def rulesFor(batchSession: SparkSession, batchId: Long): DataFrame =
      cfg.rulesDir match {
        case Some(dir) =>
          def snapshot(): DataFrame = {
            graft.sources.Mutations.recoverSwap(batchSession, dir)
            val df = batchSession.read.parquet(dir)
            batchSession.createDataFrame(
              java.util.Arrays.asList(df.collect(): _*), df.schema)
          }
          val fresh =
            try Some(snapshot())
            catch { case scala.util.control.NonFatal(_) =>
              try Some(snapshot())
              catch { case scala.util.control.NonFatal(_) => None }
            }
          fresh match {
            case Some(df) =>
              lastGoodRules = Some(df); lastGoodBatchId = batchId
              consecutiveFallbacks = 0
              df
            case None =>
              consecutiveFallbacks += 1
              if (consecutiveFallbacks > cfg.maxRuleFallbackBatches)
                throw new IllegalStateException(
                  s"firewall rules unreadable at $dir for " +
                    s"$consecutiveFallbacks consecutive batches (last good " +
                    s"snapshot: batch $lastGoodBatchId) — failing the " +
                    "stream rather than gating on an unboundedly stale " +
                    "rule set")
              lastGoodRules match {
                case Some(df) =>
                  log.warn(s"firewall rules unreadable at $dir " +
                    s"(fallback $consecutiveFallbacks/" +
                    s"${cfg.maxRuleFallbackBatches}); gating batch " +
                    s"$batchId with the snapshot from batch " +
                    s"$lastGoodBatchId")
                  df
                case None =>
                  // no prior snapshot to degrade to: fail the batch
                  // loudly rather than silently gating with the DEFAULT
                  // rule set — substituting fixture rules for the
                  // configured warehouse rules would be fail-open for a
                  // security gate
                  throw new IllegalStateException(
                    s"firewall rules unreadable at $dir and no prior " +
                      "snapshot exists — refusing to gate with default " +
                      "rules")
              }
          }
        case None => staticRules
      }
    // dropDuplicatesWithinWatermark (not plain dropDuplicates): the
    // dedup state for an activity_id is evicted once the watermark
    // passes it — plain dropDuplicates on a non-event-time key would
    // grow state forever on a long-running stream
    val parsed = parseGeneralLog(source)
      .withWatermark("access_timestamp", cfg.watermarkDelay)
      .dropDuplicatesWithinWatermark("activity_id")
    parsed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // Pin the micro-batch EAGERLY before anything probes it:
        // RocksDB state stores are exclusively owned per partition, and
        // a foreachBatch body that runs several actions — or isEmpty's
        // limit-1 probe, which ABANDONS partially-consumed iterators —
        // would re-execute the watermark-dedup state scan and strand
        // the instance lock (CANNOT_LOAD_STATE_STORE). One full eager
        // pass consumes and releases every state partition exactly
        // once; everything downstream reads the checkpointed blocks.
        val batch = batch0.localCheckpoint(true)
        try {
        // no-data micro-batches (Spark runs them to advance the
        // watermark and evict state) gate nothing: skip the rules
        // read, the sink writes AND the staleness budget — otherwise
        // watermark-advance batches would burn fallback budget, and
        // rule staleness would be bounded in wall-clock ticks instead
        // of gated data
        if (batch.isEmpty) () else {
        // the enriched micro-batch is consumed by THREE lineages (the
        // firewall match, the block anti-join, and classify's rate
        // branch reading the admitted frame twice) — without a pin each
        // re-reads and re-parses the source batch
        val enriched = batch
          .join(broadcast(usersPinned.select(col("username"),
            col("role"), col("user_id"))), Seq("username"), "left")
          .withColumn("role", coalesce(col("role"), lit("Guest")))
          .withColumn("rows_affected", lit(null).cast("long"))
          .persist()
        // E1 firewall gate (app.py:1177-1179): match against the active
        // rules BEFORE detection; hits are few, so the frame is pinned
        // for the sink write + the block anti-join
        val fw = Detect.firewallMatch(enriched,
          rulesFor(batch.sparkSession, batchId)).persist()
        val admitted = enriched.join(
          fw.filter(col("action") === "block").select(col("activity_id")),
          Seq("activity_id"), "left_anti")
        // rate windows key on username (always present) — user_id is
        // null for any name outside the users dim, and a null key
        // would pool every unknown user into one rate bucket
        val classified = Detect.classify(admitted,
          Detect.ipBlacklist(batch.sparkSession), cfg.rateThreshold,
          rateKey = "username")
          .withColumn("event_date", to_date(col("access_timestamp")))
        classified.persist()
        // ONE action fills every shared cache before the sink commits:
        // computing `classified` materializes enriched and fw on the
        // way (the block anti-join probes fw through its persist), so
        // the three sink writes below are pure cached-read + commit —
        // which is what makes running them CONCURRENTLY safe and
        // worthwhile (guide §2.6): each is fixed-cost-bound at
        // micro-batch volume, and overlap hides all but the slowest
        // commit. The fill costs no extra work — it is exactly the
        // compute the first sink write used to pay serially.
        classified.write.format("noop").mode("overwrite").save()
        // sink file sizing (guide §6): a micro-batch is KB–MB scale,
        // so each sink writes ONE output file per batch instead of one
        // per shuffle partition (the logs sink's event_date
        // partitioning multiplied that into dates × partitions files
        // per trigger — commit and re-listing cost, never data).
        // Effectively-once via per-batch idempotence: every sink
        // carries the micro-batch id as a partition and dynamically
        // OVERWRITES only that partition (MicroBatches.writeBatch)
        try {
          // firewall_blocks record shape (app.py:845-848): rule_id,
          // username, ip, 500-char snippet, blocked_at; same per-batch
          // dynamic-overwrite idempotence as the main sinks
          val writeBlocks = cfg.blocksDir.map { bd => () =>
            MicroBatches.writeBatch(fw.select(col("rule_id"),
              col("username"), col("ip_address"), col("query_snippet"),
              col("matched_at").as("blocked_at")).coalesce(1),
              bd, "ingest_batch", batchId)
          }
          val writeLogs = () =>
            MicroBatches.writeBatch(classified.coalesce(1), cfg.logsDir,
              "ingest_batch", batchId, "event_date")
          val writeAlerts = () =>
            MicroBatches.writeBatch(Detect.deriveAlerts(classified)
              .select(col("activity_id"), col("alert_type"),
                col("severity_level").as("severity"),
                col("suspicious_reasons").as("description"),
                col("alert_status").as("status"),
                col("access_timestamp").as("created_at")).coalesce(1),
              cfg.alertsDir, "ingest_batch", batchId)
          runConcurrently(writeBlocks.toSeq ++ Seq(writeLogs, writeAlerts))
          // webhook fan-out for this batch's High/Critical alerts,
          // on the executors (round-7 verdict #7); after the alert
          // sink commit is AWAITED above, so a delivery never
          // precedes its persisted alert
          for (root <- cfg.webhooksRoot; pf <- postFactory) {
            graft.sources.Webhooks.fireAllDistributed(
              batch.sparkSession, root, classified, pf)
            ()
          }
        } finally {
          classified.unpersist(); fw.unpersist(); enriched.unpersist(); ()
        }
        }
        } finally { batch.unpersist(); () }
        ()
      }
      .start()
  }

  /** Streaming sessionization — the watermark-closed form of
    * [[graft.operators.Analytics.sessionize]]: gap-based sessions per
    * user over an event-time column `ts`, emitted once the watermark
    * passes a session's close (last event + gap). Uses Spark's native
    * `session_window` aggregation rather than hand-rolled fMGWS
    * state: Catalyst manages merge/expiry in the state store (RocksDB
    * via [[withRocksDbState]]), partial aggregation applies, and the
    * same expression works in batch mode (the oracle-backed
    * `ev_session_windows` row). Boundary contract (spec-locked): an
    * event at exactly `last + gap` EXTENDS the window — touching
    * intervals merge — which is the SAME gap rule as the batch
    * `sessionize` (new session only on strict `>`); the one
    * difference is that `end_ts` here is last event + gap, the
    * session-window convention, not the last event itself.
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
                     watermarkDelay: String = "10 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"),
        col("n_events"))

  /** Streaming exact dedup at ingest — the at-least-once delivery
    * guard every large-scale feed needs in front of the dedup/curation
    * stack (a redelivered micro-batch must not double-count events,
    * and re-running exact dedup over the whole corpus per batch is the
    * anti-pattern the incremental `*Novel` legs exist to avoid).
    *
    * Streaming face: Spark's native `dropDuplicatesWithinWatermark` —
    * state holds one entry per key only until the event-time watermark
    * passes `first-seen + delay`, so state size tracks the DELIVERY
    * REDUNDANCY WINDOW (seconds–minutes of keys), not corpus history.
    * That is the contract an at-least-once transport actually needs:
    * redeliveries arrive close to the original, so a bounded horizon
    * dedups them all while unbounded key retention (plain streaming
    * `dropDuplicates`) would grow state forever. On RocksDB via
    * [[withRocksDbState]] like every other stateful operator here.
    *
    * Batch face: Spark rejects `dropDuplicatesWithinWatermark` on
    * batch frames outright (UnsupportedOperationChecker), so the batch
    * branch is plain `dropDuplicates(keys)` — the semantics the
    * streaming form converges to when every redelivery lands inside
    * the watermark (the oracle-backed `ev_stream_dedup` row feeds
    * exact-copy redeliveries, where the two faces agree row-for-row;
    * the spec drives the cross-micro-batch streaming form).
    */
  def streamDedup(events: DataFrame, keys: Seq[String] = Seq("event_id"),
                  watermarkDelay: String = "10 seconds"): DataFrame = {
    val wm = events.withWatermark("ts", watermarkDelay)
    if (events.isStreaming)
      wm.dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
    else wm.dropDuplicates(keys)
  }

  /** Stream-stream interval join — attribute each `targetType` event
    * (default: purchase) to the same user's `attrType` events
    * (default: click) in the trailing `windowMinutes`. The one join
    * shape Structured Streaming can run UNBOUNDED with bounded state:
    * both sides carry event-time watermarks and the join predicate
    * bounds their time skew, so Catalyst derives a state watermark per
    * side and evicts buffered rows as event time advances — state
    * tracks the interval width × arrival rate, never stream history.
    *
    * The SAME expression runs in batch (watermarks are no-ops there),
    * which is the oracle-backed `ev_stream_join` row: a plain
    * equi+range join DuckDB replays directly. At 100 TB the batch form
    * is a shuffle-partitioned range join on `user_id`; the streaming
    * form is the state-bounded continuous version of it.
    *
    * Returns one row per (attributed click, purchase) pair.
    */
  def intervalJoin(events: DataFrame, attrType: String = "click",
                   targetType: String = "purchase",
                   windowMinutes: Int = 30,
                   watermarkDelay: String = "10 seconds"): DataFrame = {
    val clicks = events
      .filter(col("event_type") === attrType)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events
      .filter(col("event_type") === targetType)
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") -
            expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"), col("value"))
  }

  // ------------------------------------------------------------------
  // Exact stateful operators (cross-batch semantics the reference kept
  // in process memory; SURVEY §2.8)
  // ------------------------------------------------------------------

  final case class RateEvent(user_id: Long, ts_ms: Long)
  final case class RateFlag(user_id: Long, ts_ms: Long, count_in_window: Int,
      over_limit: Boolean)
  final case class RateState(times: List[Long])

  /** A8 exact — per-event trailing-window rate counts via
    * flatMapGroupsWithState (reference app.py:105-108, 396-403:
    * in-memory sliding window of the last 60 s per user). State per
    * user is the event-time list inside the trailing window — bounded
    * by the threshold because the list is pruned per event.
    */
  def rateLimitFlags(events: Dataset[RateEvent], windowMs: Long = 60000L,
                     threshold: Int = 100): Dataset[RateFlag] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[RateEvent], state: GroupState[RateState]) =>
          var times = state.getOption.map(_.times).getOrElse(Nil)
          val out = evs.toSeq.sortBy(_.ts_ms).map { e =>
            times = (e.ts_ms :: times).filter(_ > e.ts_ms - windowMs)
            RateFlag(userId, e.ts_ms, times.length, times.length > threshold)
          }
          state.update(RateState(times))
          out.iterator
      }
  }

  final case class AuthEvent(username: String, ts_ms: Long, failed: Boolean)
  final case class LockoutFlag(username: String, ts_ms: Long,
      failed_attempts: Int, locked_until_ms: Long)

  /** Exact cross-batch lockout detection — the streaming face of
    * [[graft.operators.Detect.lockouts]] (the reference keeps this
    * state in users.failed_attempts/locked_until, app.py:205-226).
    * State per user is ONE int (the consecutive-failure streak):
    * a success resets it, and the failure that reaches `maxAttempts`
    * emits a lockout with locked_until = ts + lockoutMs. Bounded
    * state, append-mode output.
    */
  def lockoutFlags(events: Dataset[AuthEvent], maxAttempts: Int = 5,
                   lockoutMs: Long = 30L * 60 * 1000): Dataset[LockoutFlag] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.username)
      .flatMapGroupsWithState[Int, LockoutFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: String, evs: Iterator[AuthEvent], state: GroupState[Int]) =>
          var streak = state.getOption.getOrElse(0)
          val out = evs.toSeq.sortBy(_.ts_ms).flatMap { e =>
            if (e.failed) {
              streak += 1
              if (streak == maxAttempts)
                Some(LockoutFlag(user, e.ts_ms, streak, e.ts_ms + lockoutMs))
              else None
            } else { streak = 0; None }
          }
          state.update(streak)
          out.iterator
      }
  }

  final case class LoginEvent(username: String, ts_ms: Long, ip: String)
  final case class IpSwitch(username: String, ts_ms: Long, ip: String,
      prev_ip: String, gap_ms: Long)
  final case class LastIp(ip: String, ts_ms: Long)

  /** W2 exact — cross-batch "impossible travel": per user, flag an
    * event whose IP differs from the previous one within an hour
    * (reference app.py:546-552). State is one (ip, ts) per user.
    */
  def ipSwitchFlags(events: Dataset[LoginEvent],
                    maxGapMs: Long = 3600000L): Dataset[IpSwitch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.username)
      .flatMapGroupsWithState[LastIp, IpSwitch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: String, evs: Iterator[LoginEvent], state: GroupState[LastIp]) =>
          var last = state.getOption
          val out = evs.toSeq.sortBy(_.ts_ms).flatMap { e =>
            val flag = last match {
              case Some(LastIp(ip, ts)) if ip != e.ip && e.ts_ms - ts <= maxGapMs =>
                Some(IpSwitch(user, e.ts_ms, e.ip, ip, e.ts_ms - ts))
              case _ => None
            }
            last = Some(LastIp(e.ip, e.ts_ms))
            flag
          }
          last.foreach(l => state.update(l))
          out.iterator
      }
  }
}
