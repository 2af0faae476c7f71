package graft

import org.apache.spark.sql.functions._
import graft.operators.{MicroBatches, Sampling}

/** Deterministic hash-threshold sampling tests. */
class SamplingSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val rows = (0L until 10000L).map(i => (i, s"s${i % 4}"))
    .toDF("doc_id", "source")

  test("splits are disjoint, exhaustive, and near the requested fractions") {
    val split = Sampling.withSplit(rows, "doc_id", valFrac = 0.05,
      testFrac = 0.05)
    val counts = split.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 10000L)
    assert(counts.keySet == Set("train", "val", "test"))
    // 10k keys, p=0.05 → ~500 ± a generous 5σ (~±77)
    assert(math.abs(counts("val") - 500L) < 80, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 500L) < 80, s"test=${counts("test")}")
  }

  test("withSplit rejects fractions that would empty the train split") {
    intercept[IllegalArgumentException](
      Sampling.withSplit(rows, "doc_id", valFrac = 0.6, testFrac = 0.6))
    intercept[IllegalArgumentException](Sampling.thresholdFor(1.5))
    assert(Sampling.thresholdFor(1.0) == Sampling.HashDomain)
    assert(Sampling.thresholdFor(0.0) == 0L)
  }

  test("sampling is reproducible and partitioning-invariant") {
    val a = Sampling.sampleByHash(rows, "doc_id", 0.2)
      .select($"doc_id").as[Long].collect().toSet
    val b = Sampling.sampleByHash(rows.repartition(13), "doc_id", 0.2)
      .select($"doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
    // a doc's membership is stable as the corpus grows: the sample of a
    // subset is exactly the sample restricted to it (rand() lacks this)
    val sub = Sampling.sampleByHash(rows.filter($"doc_id" < 5000), "doc_id", 0.2)
      .select($"doc_id").as[Long].collect().toSet
    assert(sub == a.filter(_ < 5000L))
    // different seeds draw different samples
    val seeded = Sampling.sampleByHash(rows, "doc_id", 0.2, seed = 7)
      .select($"doc_id").as[Long].collect().toSet
    assert(seeded != a)
  }

  test("stratified rates: full stratum kept, unlisted dropped, rate honored") {
    val got = Sampling.stratifiedSample(rows, "source", "doc_id",
      Map("s0" -> 1.0, "s1" -> 0.3))
    val bySrc = got.groupBy($"source").count().as[(String, Long)]
      .collect().toMap
    assert(bySrc("s0") == 2500L) // rate 1.0 keeps every row
    assert(!bySrc.contains("s2") && !bySrc.contains("s3"))
    assert(math.abs(bySrc("s1") - 750L) < 120, s"s1=${bySrc("s1")}")
    // the kept s1 subset is the threshold set, not an arbitrary sample
    val s1 = got.filter($"source" === "s1").select($"doc_id").as[Long]
      .collect().toSet
    val thr = Sampling.thresholdFor(0.3)
    val expected = rows.filter($"source" === "s1")
      .filter(Sampling.sampleHash($"doc_id") < thr)
      .select($"doc_id").as[Long].collect().toSet
    assert(s1 == expected)
  }

  test("budgetSample: inclusive cumulative cut per shard stream, unlisted sources dropped") {
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // one shard (shards = 1) so the quota applies to the whole source
    val docs = Seq(
      (0L, words(4), "a"),  // cum 4  <= 10: keep
      (1L, words(5), "a"),  // cum 9  <= 10: keep
      (2L, words(3), "a"),  // cum 12 > 10: drop
      (3L, words(1), "a"),  // before=12 still > quota: drop (no refill)
      (4L, words(9), "b"),  // unlisted source: dropped entirely
      (5L, words(2), "c")   // cum 2 <= 6: keep
    ).toDF("doc_id", "text", "source")
    val got = Sampling.budgetSample(docs,
      Map("a" -> 10L, "c" -> 6L), shards = 1)
      .select($"doc_id", $"source", $"n_tokens")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((0L, "a", 4L), (1L, "a", 5L), (5L, "c", 2L)))
    // sharded: doc_id parity splits source a into two streams of quota 5
    val sharded = Sampling.budgetSample(docs, Map("a" -> 10L), shards = 2)
      .select($"doc_id").as[Long].collect().toSeq
    // stream a%0: docs 0 (4 <= 5 keep), 2 (4+3 > 5 drop)
    // stream a%1: docs 1 (5 <= 5 keep), 3 (5+1 > 5 drop)
    assert(sharded == Seq(0L, 1L))
    // indivisible budget fails fast rather than silently flooring
    intercept[IllegalArgumentException] {
      Sampling.budgetSample(docs, Map("a" -> 11L), shards = 2)
    }
  }

  test("temperatureSample: small sources up-weighted, cap at 1, bounded-enum guard") {
    import org.apache.spark.sql.functions._
    // skewed corpus: A 400 docs, B 100, C 2 (tiny → rate capped at 1)
    val tdocs = ((0 until 400).map(i => (i.toLong, "srcA")) ++
      (1000 until 1100).map(i => (i.toLong, "srcB")) ++
      Seq((2000L, "srcC"), (2001L, "srcC")))
      .toDF("doc_id", "source").withColumn("text", lit("t"))
    val kept = Sampling.temperatureSample(tdocs, budgetDocs = 200L)
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    // alpha = 1/2: p_A = 200*20/(20+10+sqrt(2))/400 ≈ 0.318,
    // p_B ≈ 0.636 — the small source keeps a ~2x higher fraction
    val rateA = kept("srcA").toDouble / 400
    val rateB = kept("srcB").toDouble / 100
    assert(rateB > rateA * 1.5, s"rates: A=$rateA B=$rateB")
    // capped source keeps everything (p > 1 -> threshold = 2^60)
    assert(kept("srcC") == 2L)
    // deterministic and layout-stable: a repartitioned run selects
    // the identical rows
    val ids1 = Sampling.temperatureSample(tdocs, 200L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.temperatureSample(tdocs.repartition(7), 200L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2, "hash-threshold sampling must be layout-stable")
    // bounded-enum guard fails fast on a wide source domain
    val wide = (0 until 200).map(i => (i.toLong, s"s$i"))
      .toDF("doc_id", "source")
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureSample(wide, 10L, maxSources = 64)
    }
    assert(e.getMessage.contains("bounded-enum"))
  }

  test("quantileCalibrate: exact discrete per-source quantile, ties at the threshold kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // srcA scores 1..5 at q=2/5: cum(2)=2 ≥ ⌈2⌉ → thr=2, keep 4 docs;
    // srcB has mass AT the quantile value: scores (1,1,1,5) at q=2/5
    // → cum(1)=3·5 ≥ 4·2 → thr=1, EVERYTHING kept (discrete quantile
    // never splits a tie group)
    val docs = (
      (1 to 5).map(i => (i.toLong, "w " * i, "srcA")) ++
        Seq((10L, "w", "srcB"), (11L, "w", "srcB"), (12L, "w", "srcB"),
          (13L, "w " * 5, "srcB"))
    ).toDF("doc_id", "text", "source")
    val got = Sampling.quantileCalibrate(docs,
        graft.operators.TextOps.tokenCount(col("text")), qNum = 2, qDen = 5)
      .as[(Long, String, Long, Long, Boolean)].collect().toSeq
    val exp = Seq(
      (1L, "srcA", 1L, 2L, false), (2L, "srcA", 2L, 2L, true),
      (3L, "srcA", 3L, 2L, true), (4L, "srcA", 4L, 2L, true),
      (5L, "srcA", 5L, 2L, true),
      (10L, "srcB", 1L, 1L, true), (11L, "srcB", 1L, 1L, true),
      (12L, "srcB", 1L, 1L, true), (13L, "srcB", 5L, 1L, true))
    assert(got == exp, s"got $got")
    // q=0 keeps everything; q=1 keeps only the top tie group
    val q0 = Sampling.quantileCalibrate(docs,
      graft.operators.TextOps.tokenCount(col("text")), 0, 1)
    assert(q0.filter(!col("keep")).count() == 0L)
    val q1 = Sampling.quantileCalibrate(docs,
        graft.operators.TextOps.tokenCount(col("text")), 1, 1)
      .filter(col("keep")).select($"doc_id").as[Long].collect().toSet
    assert(q1 == Set(5L, 13L), s"got $q1")
  }

  test("stratifiedK: exactly k per stratum, hash-minimal picks, growth-stable in the reservoir sense") {
    val docs = (1L to 40L)
      .map(i => (i, if (i <= 30L) "big" else "small"))
      .toDF("doc_id", "source")
    val got = Sampling.stratifiedK(docs, "source", "doc_id", k = 5)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.count(_._1 == "big") == 5)
    assert(got.count(_._1 == "small") == 5)
    // picks ARE the k smallest seeded hashes per stratum, ranked in
    // hash order with ties to the smaller key — brute-force replay
    val hv = docs.select($"source", $"doc_id",
        Sampling.sampleHash(col("doc_id")).as("h"))
      .as[(String, Long, Long)].collect().toSeq
    val exp = hv.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
        .map { case (r, i) => (src, (i + 1).toLong, r._2) }
    }.toSet
    assert(got.toSet == exp, s"got $got")
    // deterministic across runs
    assert(Sampling.stratifiedK(docs, "source", "doc_id", 5)
      .as[(String, Long, Long)].collect().toSeq == got)
    // k beyond the stratum returns the whole stratum, never pads
    assert(Sampling.stratifiedK(docs.filter($"source" === "small"),
      "source", "doc_id", 99).count() == 10L)
    // growth stability: new docs can only DISPLACE picks (hash below
    // the incumbent k-th), never reshuffle survivors
    val grown = docs.union(
      Seq((100L, "big"), (101L, "big")).toDF("doc_id", "source"))
    val g2 = Sampling.stratifiedK(grown, "source", "doc_id", 5)
      .filter($"source" === "big").select($"doc_id").as[Long]
      .collect().toSet
    val g1 = got.filter(_._1 == "big").map(_._3).toSet
    assert((g2 -- g1).forall(_ >= 100L), s"non-new entrants: ${g2 -- g1}")
  }

  test("epochMix: floor copies for all, fractional epoch by hash pick, unlisted and zero-weight sources drop") {
    val docs = (0L until 2000L).map(i => (i, s"s${i % 5}"))
      .toDF("doc_id", "source")
    val recipe = Map("s0" -> 2.5, "s1" -> 0.25, "s3" -> 1.0, "s4" -> 0.0)
    val got = Sampling.epochMix(docs, recipe)
      .as[(String, Long, Long)].collect().toSeq
    val bySrc = got.groupBy(_._1)
    // unlisted (s2) and zero-weight (s4) sources are absent
    assert(!bySrc.contains("s2") && !bySrc.contains("s4"),
      s"sources present: ${bySrc.keySet}")
    // s3 at exactly 1.0: each doc exactly once, at epoch 0
    val s3 = bySrc("s3")
    assert(s3.size == 400 && s3.forall(_._3 == 0L))
    // s0 at 2.5: every doc at epochs 0 and 1; the epoch-2 subset is
    // EXACTLY the seed-1 hash picks under threshold(0.5)
    val s0 = bySrc("s0").groupBy(_._2)
    assert(s0.size == 400 &&
      s0.values.forall(rs => rs.map(_._3).toSet.subsetOf(Set(0L, 1L, 2L))
        && rs.map(_._3).toSet.contains(0L) && rs.map(_._3).toSet.contains(1L)))
    val extra = bySrc("s0").filter(_._3 == 2L).map(_._2).toSet
    val expectedExtra = docs.filter($"source" === "s0")
      .filter(Sampling.sampleHash(col("doc_id"), seed = 1) <
        Sampling.thresholdFor(0.5))
      .select($"doc_id").as[Long].collect().toSet
    assert(extra == expectedExtra,
      s"fractional pick diverged: ${extra.size} vs ${expectedExtra.size}")
    assert(extra.size > 140 && extra.size < 260,
      s"~half of 400 expected, got ${extra.size}")
    // s1 at 0.25: a ~quarter subset, each picked doc once at epoch 0
    val s1 = bySrc("s1")
    assert(s1.forall(_._3 == 0L) && s1.size > 60 && s1.size < 140,
      s"~100 of 400 expected, got ${s1.size}")
    // growth stability: adding docs never changes existing copies
    val grown = Sampling.epochMix(
      docs.union((9000L until 9100L).map(i => (i, "s0"))
        .toDF("doc_id", "source")), recipe)
      .as[(String, Long, Long)].collect().toSeq
      .filter(_._2 < 2000L)
    assert(grown.toSet == got.toSet, "existing copies must be stable")
  }

  test("streaming stratified sample: snapshot equals the one-shot over everything seen; replay never double-advances") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boot = (0L until 40L).map(i => (i, s"s${i % 2}"))
      .toDF("doc_id", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("stratstream").toString
    val (stateDir, outDir, ckpt) = (s"$dir/state", s"$dir/out", s"$dir/ckpt")
    Sampling.initStratifiedState(spark, stateDir, boot,
      "source", "doc_id", k = 3)
    val mem = MemoryStream[(Long, String)]
    val q1 = MicroBatches.start(mem.toDF().toDF("doc_id", "source"), ckpt,
        50L) { (b, id) =>
      Sampling.stratifiedSampleBatch(b.sparkSession, stateDir, b, id, outDir,
        "source", "doc_id", k = 3)
    }
    mem.addData((100L, "s0"), (101L, "s1"), (102L, "s2")) // s2: NEW stratum
    q1.processAllAvailable()
    mem.addData((200L until 240L).map(i => (i, s"s${i % 2}")): _*)
    q1.processAllAvailable(); q1.stop()
    def latest(): Set[(String, Long, Long)] = {
      val lastB = spark.read.parquet(outDir)
        .agg(max($"batch_id")).as[Long].head()
      spark.read.parquet(outDir).filter($"batch_id" === lastB)
        .select($"source", $"pick_rank", $"doc_id")
        .as[(String, Long, Long)].collect().toSet
    }
    val all = boot
      .union(Seq((100L, "s0"), (101L, "s1"), (102L, "s2"))
        .toDF("doc_id", "source"))
      .union((200L until 240L).map(i => (i, s"s${i % 2}"))
        .toDF("doc_id", "source"))
    val oneShot = Sampling.stratifiedK(all, "source", "doc_id", k = 3)
      .select($"source", $"pick_rank", $"doc_id")
      .as[(String, Long, Long)].collect().toSet
    assert(latest() == oneShot && oneShot.size == 7, // 3+3+1 (s2 has one doc)
      s"stream ${latest()} vs one-shot $oneShot")
    // crash replay of the last batch (rows, versions and picks
    // stable): MicroBatchReplaySpec
  }
}
