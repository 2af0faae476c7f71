package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines: train/val/test
  * splits and per-source mixture rates as HASH-THRESHOLD filters.
  *
  * Scale design: `rand()`-based sampling is neither reproducible
  * across runs nor stable under repartitioning; hash thresholding is
  * both, and it is a pure scan-local Column predicate — sampling
  * 100 TB costs one codegen'd comparison per row, zero shuffle, and a
  * re-run (or a different executor layout) selects the SAME rows.
  * The hash family is the portable 60-bit md5 one ([[Dedup.md5Seeded]])
  * so every split/sample is exactly replayable by the DuckDB oracle;
  * thresholds are exact integer literals (p·2^60 computed once,
  * driver-side), so there is no float boundary to disagree on.
  */
object Sampling {

  /** 2^60 — the size of the [[Dedup.md5Seeded]] hash domain. */
  val HashDomain: Long = 1L << 60

  /** Integer threshold selecting fraction `p` of the hash domain —
    * exact at the 2^-60 granularity; BigDecimal avoids double
    * rounding surprises at the boundary.
    */
  def thresholdFor(p: Double): Long = {
    require(p >= 0.0 && p <= 1.0, s"fraction out of range: $p")
    (BigDecimal(p.toString) * BigDecimal(HashDomain)).toLong
  }

  /** The per-row sampling key: seeded portable hash of the key column
    * rendered as a string (stable across engines and runs).
    */
  def sampleHash(key: Column, seed: Int = 0): Column =
    Dedup.md5Seeded(seed, key.cast("string"))

  /** Keep a deterministic ~`p` fraction of rows (by `keyCol`). */
  def sampleByHash(df: DataFrame, keyCol: String, p: Double,
                   seed: Int = 0): DataFrame =
    df.filter(sampleHash(col(keyCol), seed) < thresholdFor(p))

  /** Assign every row to a split by carving the hash domain:
    * `[0, t_val) → "val"`, `[t_val, t_val + t_test) → "test"`, rest →
    * "train". Splits are disjoint, exhaustive, reproducible, and
    * stable as the corpus grows (a doc's split never changes when
    * other docs are added — the property shuffle-based splits lack).
    */
  def withSplit(df: DataFrame, keyCol: String, valFrac: Double = 0.01,
                testFrac: Double = 0.01, seed: Int = 0): DataFrame = {
    require(valFrac + testFrac <= 1.0,
      s"val + test fractions exceed 1.0 ($valFrac + $testFrac) — " +
        "the train split would be silently empty")
    val h = sampleHash(col(keyCol), seed)
    val tVal = thresholdFor(valFrac)
    val tTest = tVal + thresholdFor(testFrac)
    df.withColumn("split",
      when(h < tVal, "val").when(h < tTest, "test").otherwise("train"))
  }

  /** Token-budget mixture cut: per source, keep documents in doc_id
    * order while they fit the source's token budget — the
    * deterministic way to hit mixture weights expressed in TOKEN
    * space ("this source contributes ≤ B tokens to the run") rather
    * than row space. A document is kept iff the cumulative token
    * count of its stream, itself included, stays within quota;
    * unlisted sources are dropped (mixture weight 0).
    *
    * Scale shape: the running sum is per (source, shard) stream with
    * the budget split evenly across shards — the same sharding
    * contract as [[TextOps.packSequences]]: one stream's rows fit one
    * task, streams are independent, the cut is exact per shard, and
    * only (doc_id, n_tokens) enters the shuffle — text never moves.
    * Integer arithmetic only (int64 sums, no float boundary).
    */
  def budgetSample(docs: DataFrame, budgets: Map[String, Long],
                   shards: Int = 4): DataFrame = {
    require(shards > 0, "budgetSample: shards must be positive")
    require(budgets.values.forall(b => b >= 0 && b % shards == 0),
      s"budgets must be divisible by shards=$shards so per-shard " +
        "quotas stay exact integers")
    val quota = coalesce(budgets.toSeq.sortBy(_._1).map { case (src, b) =>
      when(col("source") === src, lit(b / shards))
    } :+ lit(null).cast("long"): _*)
    val stream = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    docs
      .select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      .withColumn("quota", quota)
      .filter(col("quota").isNotNull)
      .withColumn("before",
        coalesce(sum(col("n_tokens")).over(stream), lit(0L)))
      .filter(col("before") + col("n_tokens") <= col("quota"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Per-stratum mixture sampling: each stratum value keeps its own
    * deterministic fraction (unlisted strata are dropped). The rate
    * map is a when-chain — strata are FEW by construction (sources,
    * languages), so this stays one scan-local predicate; at thousands
    * of strata a broadcast-joined rates dim would replace it.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       rates: Map[String, Double],
                       seed: Int = 0): DataFrame = {
    val h = sampleHash(col(keyCol), seed)
    val keep = rates.toSeq.sortBy(_._1).foldLeft(lit(false)) {
      case (acc, (stratum, p)) =>
        acc || (col(stratumCol) === stratum && h < thresholdFor(p))
    }
    df.filter(keep)
  }

  /** TEMPERATURE-based mixture sampling (α = 1/2 — the Pile/GPT-3
    * style "sample ∝ size^α" rebalance): per-source keep probability
    * `p_s = budgetDocs · √n_s / (Σ_j √n_j) / n_s`, capped at 1, so
    * small sources are up-weighted relative to their share and the
    * expected total is `budgetDocs`. Rows are kept by the same
    * hash-threshold discipline as every other sampler here —
    * deterministic, repartition-stable, scan-local.
    *
    * Cross-engine exactness: √ is correctly rounded by IEEE 754 (so
    * bit-identical in both engines, unlike pow), and the threshold is
    * derived with a FIXED left-to-right op sequence — the oracle
    * replays the identical expression tree (sqrt fold over sources
    * sorted by name, multiply/divide chain, floor·2^60) so the
    * integer thresholds agree bit-for-bit and no float boundary
    * exists at comparison time.
    *
    * The per-source count fetch is the bounded-enum contract (sources
    * are FEW by construction; fail fast past `maxSources`).
    */
  def temperatureSample(docs: DataFrame, budgetDocs: Long, seed: Int = 7,
                        maxSources: Int = 64): DataFrame = {
    require(budgetDocs >= 0, s"negative budget: $budgetDocs")
    val rows = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .limit(maxSources + 1).collect()
    require(rows.length <= maxSources,
      s"temperatureSample: source domain exceeds the bounded-enum " +
        s"contract (> $maxSources) — driver-held threshold maps are " +
        "for bounded dims only")
    require(rows.forall(!_.isNullAt(0)),
      "temperatureSample: null source")
    val srcs = rows.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val ssum = srcs.foldLeft(0.0) { case (a, (_, n)) =>
      a + math.sqrt(n.toDouble)
    }
    val thr = srcs.map { case (s, n) =>
      val p = budgetDocs.toDouble * math.sqrt(n.toDouble) / ssum /
        n.toDouble
      (s, math.floor(math.min(p, 1.0) * HashDomain.toDouble).toLong)
    }
    val thrCol = coalesce(thr.toSeq.map { case (s, t) =>
      when(col("source") === s, lit(t))
    } :+ lit(null).cast("long"): _*)
    docs.filter(sampleHash(col("doc_id"), seed) < thrCol)
  }

  /** Per-source quantile-calibrated keep rule — the CCNet-style
    * per-domain thresholding real pipelines run instead of one global
    * cutoff (a threshold that keeps the best 80% of one domain would
    * wipe out another; calibrating per source keeps each domain's own
    * distribution). The threshold is the exact DISCRETE q-quantile of
    * an integer score within each source — the smallest score whose
    * cumulative count reaches ⌈q·n⌉ — so docs scoring below it (the
    * bottom <q fraction by value) are cut.
    *
    * Exactness: q rides as a rational `qNum/qDen`; the rank test is
    * the cross-multiplied `cum·qDen ≥ n·qNum` — no float quantile
    * interpolation for engines to disagree on (continuous-percentile
    * interpolation differs in expression order across engines at the
    * last ulp, and a keep FLAG amplifies a 1-ulp threshold wobble
    * into a row diff).
    *
    * Scale shape: the quantile is computed on the (source, score)
    * COUNT dim, not the corpus — one map-side-combined shuffle of at
    * most |sources|·|distinct scores| rows, a per-source window over
    * that dim (bounded by score cardinality, e.g. ≤ max doc length for
    * token counts), then a KB-scale threshold dim broadcast back over
    * one corpus scan for the flags. The corpus itself never sorts and
    * never shuffles.
    */
  def quantileCalibrate(docs: DataFrame, score: Column,
                        qNum: Long, qDen: Long): DataFrame = {
    require(qDen > 0 && qNum >= 0 && qNum <= qDen,
      s"quantile fraction out of range: $qNum/$qDen")
    val w = org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("source"),
      score.cast("long").as("score"))
    val cum = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))
      .select(col("source"), col("score"),
        sum(col("c")).over(w.partitionBy(col("source"))
          .orderBy(col("score"))).as("cum"),
        sum(col("c")).over(w.partitionBy(col("source"))).as("n"))
    val thr = cum.filter(col("cum") * qDen >= col("n") * qNum)
      .groupBy(col("source")).agg(min(col("score")).as("thr"))
    scored.join(broadcast(thr), Seq("source"))
      .select(col("doc_id"), col("source"), col("score"), col("thr"),
        (col("score") >= col("thr")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Exact k-per-stratum deterministic sample — the "give me exactly
    * k docs from every source" draw (eval-set construction, per-domain
    * inspection pools, few-shot prompt banks). Rate-based sampling
    * ([[stratifiedSample]]) can only promise an EXPECTED count;
    * this picks the k rows with the smallest seeded portable hash per
    * stratum, so the count is exact (min(k, |stratum|)), the draw is
    * uniform over each stratum, reproducible across runs and engines,
    * and STABLE under corpus growth in the reservoir sense (a doc
    * already in the sample leaves only when a new doc hashes below
    * the stratum's current k-th hash).
    *
    * Scale shape: the per-stratum selection is ONE bounded-heap
    * CollectTopK aggregate — the map-side partial buffer never holds
    * more than k rows per stratum, so the shuffle carries
    * ≤ tasks·|strata|·k slim (hash, key) structs and there is no
    * window over a stratum partition (a mega-stratum costs one heap,
    * not a sort). Ties (hash collisions) break by ascending key via
    * the struct's lexicographic order.
    */
  def stratifiedK(df: DataFrame, stratumCol: String, keyCol: String,
                  k: Int, seed: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.catalyst.expressions.aggregate.TopKShim
    val item = struct(sampleHash(col(keyCol), seed).as("s0"),
      col(keyCol).as("s1"))
    df.groupBy(col(stratumCol))
      .agg(TopKShim.collectTopK(item, k, reverse = true).as("top"))
      .select(col(stratumCol), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col(stratumCol), (col("pos") + 1).cast("long").as("pick_rank"),
        col("e.s1").as(keyCol))
      .orderBy(col(stratumCol), col("pick_rank"))
  }

  /** Epoch-mix materialization — the training-recipe "source X for w
    * epochs" rule (the data-mixing table every LLaMA/GPT-style run
    * publishes): every document of a listed source appears
    * `floor(w)` times, plus once more for a deterministic ~frac(w)
    * subset picked by the portable hash — per-source token mass hits
    * w × |source| in the same hash-threshold sense as [[withSplit]],
    * with the same reproducibility and growth stability (a doc's
    * copies never change as the corpus grows). Unlisted sources drop
    * (the stratified-rates stance). One output row per (doc, epoch);
    * the downstream packer treats each copy as an independent
    * document.
    *
    * The fractional pick hashes at `seed + 1`, NOT `seed`: at the
    * same seed it would correlate with [[withSplit]]'s hash carve
    * (the extra-epoch subset would be exactly the val/test splits'
    * low-hash docs).
    *
    * Scale shape: weights are a bounded driver-side enum → per-source
    * floor + fractional threshold precompute into a broadcast dim;
    * the explode multiplies each doc by ceil(w) (a recipe constant),
    * the pick is one hash compare — scan-local throughout, zero
    * shuffles.
    */
  def epochMix(docs: DataFrame, epochs: Map[String, Double],
               keyCol: String = "doc_id", sourceCol: String = "source",
               seed: Int = 0): DataFrame = {
    require(epochs.nonEmpty, "epochMix: empty recipe")
    epochs.foreach { case (s, w) =>
      require(w >= 0.0 && w <= 64.0,
        s"epochMix: epochs for '$s' out of range [0, 64]: $w")
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = epochs.toSeq.map { case (s, w) =>
      val full = math.floor(w).toInt
      (s, full, thresholdFor(w - full))
    }.toDF(sourceCol, "__full", "__thr")
    docs.join(broadcast(dim), Seq(sourceCol))
      .select(col(sourceCol), col(keyCol),
        col("__full"), col("__thr"),
        explode(sequence(lit(0), col("__full"))).as("epoch"))
      .filter(col("epoch") < col("__full") ||
        sampleHash(col(keyCol), seed + 1) < col("__thr"))
      .select(col(sourceCol), col(keyCol), col("epoch").cast("long"))
      .orderBy(col(sourceCol), col(keyCol), col("epoch"))
  }

  /** Bootstrap the versioned picks state of
    * [[stratifiedSampleBatch]]: the initial corpus's [[stratifiedK]]
    * picks publish as version 0 (an empty corpus is a legal
    * bootstrap — the stream then builds the sample from its own
    * batches).
    */
  def initStratifiedState(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String, df: DataFrame,
                          stratumCol: String, keyCol: String, k: Int,
                          seed: Int = 0): Unit =
    VersionedState.init(spark, stateDir,
      Seq("" -> stratifiedK(df, stratumCol, keyCol, k, seed)
        .select(col(stratumCol), col(keyCol))))

  /** STREAMING exact k-per-stratum sample — one micro-batch of
    * [[stratifiedK]] at the ingest boundary
    * (`MicroBatches.start(docs, ckpt, ms)((b, id) =>
    * stratifiedSampleBatch(b.sparkSession, stateDir, b, id, outDir,
    * …))`): the updated picks land under `batch_id=<id>` and the
    * state advances through [[VersionedState.step]]. After any
    * prefix of batches, the latest snapshot EQUALS the one-shot
    * [[stratifiedK]] over everything seen so far (bootstrap ∪
    * batches), because the picks are MERGEABLE: the k smallest seeded
    * hashes of (a ∪ b) are the k smallest of (picks(a) ∪ b) — a row
    * a's own top-k displaced can never re-enter the union's top-k
    * (the hash order is global and fixed, and hashes recompute
    * deterministically from the stored keys). So the state is
    * |strata|·k slim rows, each batch costs one scan of ITSELF plus
    * that bounded frame, and the corpus is never rescanned — the
    * reservoir-sample economics with exact, reproducible,
    * cross-engine-stable picks. Rate sampling only promises an
    * EXPECTED count; this keeps eval pools and per-domain inspection
    * sets at exactly min(k, |stratum|) forever.
    */
  def stratifiedSampleBatch(spark: org.apache.spark.sql.SparkSession,
                            stateDir: String, batch: DataFrame,
                            batchId: Long, outDir: String,
                            stratumCol: String, keyCol: String, k: Int,
                            seed: Int = 0): Unit =
    VersionedState.step(spark, stateDir, batchId) { read =>
      val merged = stratifiedK(
        read("").unionByName(batch.select(col(stratumCol), col(keyCol))),
        stratumCol, keyCol, k, seed)
        .localCheckpoint(true)
      MicroBatches.writeBatch(merged, outDir, "batch_id", batchId)
      () => Seq("" -> merged.select(col(stratumCol), col(keyCol)))
    }
}
