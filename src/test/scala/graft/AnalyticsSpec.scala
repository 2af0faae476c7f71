package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.rows.EvRows

/** A1-A9 / W1-W2 analytics unit tests (SURVEY §2.4-§2.5). */
class AnalyticsSpec extends SparkSpecBase {

  test("SparkEntry.entry: the smoke query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bench load gate: contaminated runs never replace a cleaner artifact") {
    // round-6 verdict #1: the end-of-round failure mode (a load-7.26
    // re-bench overwriting the clean min-of-5 record) must be
    // structurally impossible — dirty may replace only dirtier
    val max = Double.MaxValue
    assert(Bench.shouldWriteArtifact(0.4, 1.0, max), "clean, no prior")
    assert(Bench.shouldWriteArtifact(0.4, 1.0, 0.2),
      "a clean run always writes, even over a cleaner prior")
    assert(!Bench.shouldWriteArtifact(7.26, 1.0, 0.45),
      "the r6 failure mode: dirty run must not clobber the clean record")
    assert(Bench.shouldWriteArtifact(7.26, 1.0, 9.0),
      "a dirty run may replace an even dirtier artifact")
    assert(Bench.shouldWriteArtifact(7.26, 1.0, max),
      "a dirty run may fill an empty record")
    assert(Bench.shouldWriteArtifact(-1.0, 1.0, max),
      "unreadable load (non-Linux host) may fill an ABSENT artifact")
    assert(!Bench.shouldWriteArtifact(-1.0, 1.0, 0.5),
      "unreadable load never replaces a readable capture")
    // the parse must survive the REAL artifact shape — the field is
    // followed by a comma, which a buggy numeric class can swallow
    // (the round-7 regression: toDouble threw, prior collapsed to
    // MaxValue, and a contaminated run overwrote a cleaner one)
    val line = """{"metric":"total","value":1.0,"load_avg_start":0.66,"load_avg_end":9.99,"n":1}"""
    assert(Bench.parsePriorLoad(line) == 0.66)
    assert(Bench.parsePriorLoad("{}") == Double.MaxValue)
    assert(Bench.parsePriorLoad("""{"load_avg_start":garbage}""") == Double.MaxValue)
    assert(!Bench.shouldWriteArtifact(1.94, 1.0, Bench.parsePriorLoad(line)),
      "the exact round-7 scenario must be refused")
  }

  test("bench calibration row: the fixed CPU job actually runs (a failing expression would silently record -1 and void drift adjudication)") {
    // round-12 regression guard: the first calib expression summed
    // 64M hashed longs and ARITHMETIC_OVERFLOWed under ANSI — the
    // catch-all turned that into a silent -1 in the artifact
    val c = Bench.calibSec(spark, runs = 1)
    assert(c > 0, s"calibration job must complete, got $c")
  }

  test("bench short line: fits the driver's tail window, failures first") {
    // round-8 advice #1: the driver keeps only the last ~2000 chars of
    // sbt output, and the full 152-query record outgrew it — the r8
    // driver artifact holds a mid-line fragment (parsed:null). The
    // stdout line must therefore pack under the budget, keep every -1
    // failure row, prefer the slowest rows, and declare what it elided.
    val results = (1 to 200).map(i => (f"q$i%03d", i * 0.01)) :+ ("q_broken", -1.0)
    val meta = """"sf":"/x","runs_per_query":5,"agg":"min","load_avg_start":0.5,"load_avg_end":0.6,"load_gate":"pass","load_gate_max":1.0,"cold_classify_build_sec":1.000,"warm":"w","n_queries":201"""
    val line = Bench.packShortLine(results, meta, "201.000", 1600)
    assert(line.length <= 1600, s"line must fit the budget, was ${line.length}")
    assert(line.contains("\"q_broken\":-1"), "failed rows are never elided")
    assert(line.contains("\"q200\":2.000"), "slowest row survives packing")
    assert(!line.contains("\"q001\":"), "fastest rows are the ones elided")
    assert(line.contains("\"queries_elided\":"), "elision is declared")
    assert(line.contains("\"queries_full\":\"BENCH_LOCAL.json\""))
    assert(line.startsWith("{") && line.endsWith("}"))
    // a tiny budget still yields a parseable envelope (zero query rows)
    val tiny = Bench.packShortLine(results, meta, "201.000", 170 + meta.length)
    assert(tiny.contains("\"queries\":{}") &&
      tiny.contains(s"\"queries_elided\":${results.size}"))
  }

  test("bench short line: driver tail-window emulation — last line parses") {
    // round-9 verdict #1: the driver keeps the last ~2000 chars of the
    // sbt output and parses the LAST LINE as JSON. r9's record was
    // complete but sbt's "[success] Total time" epilogue followed it →
    // parsed:null. The fix (Bench prints the packed line after
    // spark.stop; build.sbt suppresses the epilogue and relays forked
    // stdout bare) makes the packed line the true final line. Emulate
    // the driver here: noisy preceding output, 2000-char window, last
    // line must be the COMPLETE record.
    val results = (1 to 200).map(i => (f"q$i%03d", i * 0.01))
    val meta = """"sf":"/x","runs_per_query":5,"agg":"min","load_avg_start":0.5,"load_avg_end":0.6,"load_gate":"pass","load_gate_max":1.0,"cold_classify_build_sec":1.000,"warm":"w","n_queries":200"""
    val shortLine = Bench.packShortLine(results, meta, "200.000", 1600)
    val noise = (1 to 50).map(i =>
      s"26/08/15 12:00:$i WARN SomeSparkClass: noisy line $i").mkString("\n")
    val stdout = noise + "\n" + shortLine + "\n"
    val window = stdout.takeRight(2000)
    val last = window.split("\n").filter(_.nonEmpty).last
    assert(last == shortLine,
      "the packed record must survive the 2000-char window whole")
    assert(last.startsWith("{") && last.endsWith("}"))
    // structural JSON sanity the driver's parse needs: balanced braces
    // and quotes outside of any truncation
    assert(last.count(_ == '{') == last.count(_ == '}'))
    assert(last.count(_ == '"') % 2 == 0)
  }

  test("bench wait-for-idle: blocks until load clears the gate, bounded") {
    // round-7 verdict #2: the bench must WAIT for idle (bounded poll),
    // not merely refuse a hot capture afterwards. Injected load/sleep
    // make the loop deterministic.
    def run(loads: Seq[Double], maxWait: Int): (Double, Long) = {
      val it = loads.iterator
      var slept = 0L
      val last = Bench.waitForIdle(1.0, maxWait, pollSec = 10,
        load = () => it.next(), sleep = ms => slept += ms)
      (last, slept)
    }
    // already idle: no sleep, returns immediately
    assert(run(Seq(0.4), 600) == ((0.4, 0L)))
    // drops below the gate on the third poll
    assert(run(Seq(8.0, 3.5, 0.9), 600) == ((0.9, 20000L)))
    // never idles: gives up after maxWaitSec and returns the hot load
    val (l, s) = run(Seq.fill(100)(5.0), 30)
    assert(l == 5.0 && s == 30000L)
    // unreadable /proc/loadavg: no spin, returns the sentinel
    assert(run(Seq(-1.0), 600) == ((-1.0, 0L)))
  }

  test("cmsCounts fails fast on an over-cardinality domain instead of collecting it") {
    // the bounded-enum contract is executable (round-6 verdict #5):
    // a high-cardinality grouping column must trip the guard — the
    // LIMIT maxEnum+1 fetch means the driver never holds more than
    // maxEnum+1 domain values even on the failure path
    import spark.implicits._
    val wide = (0 until 500)
      .map(i => (s"type_$i", 1.0)).toDF("event_type", "value")
    val e = intercept[IllegalArgumentException] {
      EvRows.cmsCounts(wide, maxEnum = 64)
    }
    assert(e.getMessage.contains("bounded-enum"))
    // a bounded domain still passes both contract flags
    val narrow = (0 until 200)
      .map(i => (s"type_${i % 5}", 1.0)).toDF("event_type", "value")
    val rows = EvRows.cmsCounts(narrow, maxEnum = 64).collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getAs[Boolean]("one_sided") &&
      r.getAs[Boolean]("within_eps")))
  }

  test("geoRangeLookup: exact boundaries, unmatched fall-through, no fan-out on disjoint ranges") {
    import spark.implicits._
    import graft.operators.Analytics
    val ranges = Seq(
      ("10.0.0.0", "10.0.9.127", "US"),
      ("10.0.9.128", "10.0.19.255", "DE"))
      .toDF("lo_ip", "hi_ip", "country")
      .select(Analytics.ipToLong($"lo_ip").as("lo"),
        Analytics.ipToLong($"hi_ip").as("hi"), $"country")
    // boundary probes: last IP of US, first of DE, one past DE's end
    val logs = Seq(
      (1L, "10.0.9.127"), (2L, "10.0.9.128"),
      (3L, "10.0.20.0"), (4L, "10.0.0.0"))
      .toDF("user_id", "ip_address")
    val got = Analytics.geoRangeLookup(logs, ranges, prefixBits = 24)
      .select($"user_id", $"country").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got == Map(1L -> "US", 2L -> "DE", 3L -> null, 4L -> "US"))
    // disjoint ranges: every log row appears exactly once (the
    // fan-out contract a production GeoLite dim relies on)
    assert(Analytics.geoRangeLookup(logs, ranges, prefixBits = 24)
      .count() == 4L)
    // the /16 default also works when ranges straddle block interiors
    val wide = Analytics.geoRangeLookup(logs, ranges, prefixBits = 16)
      .select($"user_id", $"country").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(wide == got)
  }

  test("mergeCms: element-wise merge is bit-identical to sketching the union") {
    import spark.implicits._
    import graft.operators.Analytics
    // skewed keys + a batch-only key: the merged sketch must answer
    // every per-key estimate exactly as a union resketch would, and
    // at this cardinality CMS is exact, so estimates == true counts
    val corpus = (0 until 300)
      .map(i => (i.toLong * 5 + 1, s"k${i % 3}")).toDF("event_id", "event_type")
    val batch = (0 until 90)
      .map(i => (i.toLong * 5, s"k${i % 4}")).toDF("event_id", "event_type")
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      Analytics.cmsSketch(df).head().getAs[Array[Byte]]("cms")
    val merged = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(Analytics.mergeCms(sketchOf(corpus), sketchOf(batch)))
    val full = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(sketchOf(corpus.unionByName(batch)))
    val truth = corpus.unionByName(batch).groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    truth.keys.foreach { k =>
      assert(merged.estimateCount(k) == full.estimateCount(k),
        s"merge not lossless at $k")
      assert(merged.estimateCount(k) == truth(k),
        s"not exact at small cardinality for $k")
    }
    // the batch-only key k3 is visible through the merged state
    assert(merged.estimateCount("k3") > 0L)
    // the contract row composes the same pieces end-to-end
    val contract = EvRows.cmsMergeContract(corpus.unionByName(batch))
      .collect()
    assert(contract.length == 4)
    assert(contract.forall(r => r.getAs[Boolean]("merge_equals_full") &&
      r.getAs[Boolean]("one_sided") && r.getAs[Boolean]("within_eps")))
  }
  import spark.implicits._

  private def mkActivity(rows: Seq[(Long, Long, String, String, String, String, Long)]): DataFrame =
    rows.toDF("activity_id", "user_id", "username", "operation_type",
        "operation_status", "ts_s", "rows_affected")
      .withColumn("access_timestamp", to_timestamp(col("ts_s")))
      .withColumn("table_name", lit("t"))
      .withColumn("ip_address", concat(lit("ip"), col("activity_id") % 3))
      .drop("ts_s")

  private val base = Seq(
    (1L, 1L, "u1", "SELECT", "Success", "2024-01-10 10:00:00", 1L),
    (2L, 1L, "u1", "SELECT", "Failed", "2024-01-10 10:10:00", 2L),
    (3L, 1L, "u1", "INSERT", "Success", "2024-01-10 11:00:00", 3L),
    (4L, 2L, "u2", "DELETE", "Failed", "2024-01-10 11:30:00", 4L),
    (5L, 2L, "u2", "SELECT", "Success", "2024-01-11 10:00:00", 5L))

  test("A1+A2 stats: one-pass conditional aggregates") {
    val r = Analytics.stats(mkActivity(base)).collect()(0)
    assert(r.getAs[Long]("total_activities") == 5L)
    assert(r.getAs[Long]("failed_activities") == 2L)
    assert(r.getAs[Long]("select_count") == 3L)
    assert(r.getAs[Long]("distinct_users") == 2L)
    assert(r.getAs[Long]("total_rows_affected") == 15L)
  }

  test("A4 top users: count desc, username tiebreak") {
    val got = Analytics.topUsers(mkActivity(base), 2)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("u1", 3L), ("u2", 2L)))
  }

  test("A5 timeline buckets by hour with failed counts") {
    val got = Analytics.timelineHourly(mkActivity(base))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("2024-01-10 10:00", 2L, 1L, 3L),
      ("2024-01-10 11:00", 2L, 1L, 7L),
      ("2024-01-11 10:00", 1L, 0L, 5L)))
  }

  test("A7 baseline: avg and population stddev of hourly counts") {
    // u1 hourly counts: [2,1] → avg 1.5, stddev_pop 0.5
    val fixed = Analytics.userBaseline(mkActivity(base))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(fixed(1L) == ((1.5, 0.5, 2L)))
    assert(fixed(2L) == ((1.0, 0.0, 2L)))
  }

  test("W2 ip switches: consecutive differing IPs within 1 hour") {
    val rows = Seq(
      (1L, 1L, "u1", "SELECT", "Success", "2024-01-10 10:00:00", 0L), // ip1
      (2L, 1L, "u1", "SELECT", "Success", "2024-01-10 10:20:00", 0L), // ip2 → switch, 1200s
      (3L, 1L, "u1", "SELECT", "Success", "2024-01-10 12:00:00", 0L), // ip0, > 1h gap → no flag
      (4L, 2L, "u2", "SELECT", "Success", "2024-01-10 10:00:00", 0L), // ip1
      (5L, 2L, "u2", "SELECT", "Success", "2024-01-10 10:30:00", 0L)) // ip2 → switch
    val got = Analytics.ipSwitches(mkActivity(rows))
      .select($"activity_id", $"gap_seconds").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 1200L), (5L, 1800L)))
  }

  test("A8 rate per minute flags over-threshold minutes") {
    val rows = (1L to 7L).map(i =>
      (i, 1L, "u1", "SELECT", "Success", "2024-01-10 10:00:30", 0L))
    val got = Analytics.ratePerMinute(mkActivity(rows), threshold = 5)
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, "2024-01-10 10:00", 7L, true)))
  }

  test("P4+W1 latest with status filter, newest first") {
    val got = Analytics.latest(mkActivity(base), 1, status = Some("Failed"))
      .select($"activity_id").as[Long].collect().toSeq
    assert(got == Seq(4L))
  }

  test("mergeable reach sketches: union is lossless vs single-pass, exact at small cardinality") {
    // overlapping user sets split across "corpus" and "batch" — the
    // merged estimate must EQUAL the single-pass sketch of the union,
    // and at coupon-mode cardinalities the estimate is exact
    def ev(rows: Seq[(Long, String)]) =
      rows.toDF("user_id", "event_type")
    val corpus = ev((1L to 40L).map(u => (u, "click")) ++
      (1L to 10L).map(u => (u, "view")))
    val batch = ev((30L to 60L).map(u => (u, "click")) ++ // overlap 30-40
      (5L to 25L).map(u => (u, "view")))
    val merged = Analytics.reachEstimates(Analytics.mergeReach(
        Analytics.reachSketches(corpus), Analytics.reachSketches(batch)))
      .as[(String, Long)].collect().toMap
    val full = Analytics.reachEstimates(
        Analytics.reachSketches(corpus.unionByName(batch)))
      .as[(String, Long)].collect().toMap
    assert(merged == full, s"merge must be lossless: $merged vs $full")
    assert(merged("click") == 60L && merged("view") == 25L,
      s"coupon-mode estimates are exact, got $merged")
    // a group present only in the batch still surfaces after merge
    val only = ev(Seq((1L, "purchase")))
    val m2 = Analytics.reachEstimates(Analytics.mergeReach(
        Analytics.reachSketches(corpus), Analytics.reachSketches(only)))
      .as[(String, Long)].collect().toMap
    assert(m2("purchase") == 1L)
  }

  test("scd2: intervals tile per user, one open interval, attribute changes at every boundary") {
    val ev = graft.sources.Tables.events(spark, sf("sf0.001"))
    val rows = Analytics.scd2(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._5)
      // versions are contiguous from 1
      assert(sorted.map(_._5).toSeq == (1L to rs.length.toLong), s"user $u")
      // exactly the LAST interval is open; each valid_to chains to the
      // next valid_from, and the attribute changes across the boundary
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $u: ${a._4} != ${b._3}")
          assert(a._2 != b._2, s"user $u: no change at version ${b._5}")
        case _ =>
      }
      assert(sorted.last._4.isEmpty && sorted.init.forall(_._4.nonEmpty))
    }
    // all three window passes share one user-keyed hash partitioning
    val plan = Analytics.scd2(ev).queryExecution.executedPlan.toString
    val hashExchanges = "hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 user-keyed exchange:\n$plan")
  }

  test("scd2Merge edge cases: continuation folds, change closes, new user appends, all-continuation batch") {
    import spark.implicits._
    def evFrame(rows: Seq[(Long, Long, String)]) = rows
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L)
        .cast("timestamp_ntz"))
    // base: u1 a→b (open b), u2 only a (open a)
    val base = evFrame(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 2L, "a")))
    // delta: u1 continues b then switches to c; u2 only continues;
    // u3 is brand new
    val delta = evFrame(Seq((10L, 1L, "b"), (11L, 1L, "c"),
      (12L, 2L, "a"), (13L, 3L, "x")))
    val merged = Analytics.scd2Merge(Analytics.scd2(base), delta)
    val full = Analytics.scd2(base.unionByName(delta))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "incremental must equal full recompute")
    val m = merged.collect().map(r => (r.getLong(0), r.getLong(4)) ->
      (r.getString(1), Option(r.getString(3)))).toMap
    // u1: b's interval closed at the c change; c open at version 3
    assert(m((1L, 2L))._1 == "b" && m((1L, 2L))._2.nonEmpty)
    assert(m((1L, 3L)) == ("c", None))
    // u2: single interval still open (all-continuation batch)
    assert(m((2L, 1L)) == ("a", None))
    // u3: new user appended at version 1, open
    assert(m((3L, 1L)) == ("x", None))
  }
}
