package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline (round-6 verdict #6): the operator
  * battery composed the way a training-data pipeline actually runs
  * it, as ONE query — proving the stages compose (lineage, column
  * contracts) rather than only run solo.
  *
  * Stage chain (each stage consumes the previous stage's corpus):
  *   1. raw           — the input corpus (doc_id, text, source)
  *   2. quality       — Gopher battery gate ([[TextOps.gopherQuality]])
  *   3. line_dedup    — corpus-df boilerplate line removal
  *                      ([[TextOps.dedupLines]]); docs whose every
  *                      line was boilerplate leave the corpus
  *   4. near_dedup    — minhash+LSH clusters with the QUALITY-AWARE
  *                      survivor ([[Dedup.minhashClusters]] +
  *                      [[Dedup.bestInCluster]]): keep the best
  *                      cluster member, drop the rest
  *   5. decontam      — benchmark docs (doc_id % benchMod = 0, their
  *                      line-deduped text) probe the survivors; any
  *                      training doc sharing an 8-gram is dropped,
  *                      and the benchmark docs themselves leave the
  *                      training corpus ([[TextOps.contamination]])
  *   6. dsir_sample   — DSIR-weighted selection: keep docs whose
  *                      target-vs-raw bigram-mass ratio is at or
  *                      above the CORPUS aggregate ratio, compared
  *                      cross-multiplied in decimal(38,0)
  *                      ([[TextOps.dsirMasses]] — no float threshold,
  *                      so the rule is oracle-exact and scale-free)
  *   7. packed        — GPT-style concat-and-chunk packing
  *                      ([[TextOps.packSequences]]); the reported
  *                      n_docs is the number of context windows
  *                      STARTED across pack streams
  *
  * Output: one `(stage, n_docs, n_tokens)` row per stage — the
  * funnel a pipeline owner actually monitors.
  *
  * Scale shape: every stage keeps its solo operator's shape (scan-
  * local quality signals, hash-blocked dedups, broadcast frequency
  * dims, sharded packing); the composition adds only slim id
  * semi/anti-joins between stages. The post-line-dedup corpus is
  * localCheckpointed once — it feeds four consumers (cluster pass,
  * survivor rule, benchmark split, training split) and its lineage
  * crosses two shuffles.
  */
object Curation {

  /** Every stage's corpus, exposed so callers can materialize any
    * intermediate (a production pipeline persists stage outputs; the
    * funnel row only aggregates them). `packed` carries the final
    * corpus WITH its pack assignment — the frame a training job
    * actually reads.
    */
  final case class Stages(raw: DataFrame, quality: DataFrame,
                          lineDeduped: DataFrame, nearDeduped: DataFrame,
                          decontaminated: DataFrame, sampled: DataFrame,
                          packed: DataFrame)

  /** The curated, packed corpus — the pipeline's product: one row per
    * kept doc with (doc_id, text, source, shard, n_tokens, bin_id,
    * bin_offset).
    */
  def curate(docs: DataFrame, lineMinDf: Long = 5,
             minJaccard: Double = 0.3, benchMod: Long = 29,
             decontamN: Int = 8,
             targetSources: Seq[String] = Seq("src0", "src2", "src4"),
             budget: Long = 512, shards: Int = 4): DataFrame =
    productOf(stages(docs, lineMinDf, minJaccard, benchMod, decontamN,
      targetSources, budget, shards))

  /** The packed product of a stage chain: the sampled corpus with its
    * pack assignment. */
  private def productOf(st: Stages): DataFrame =
    st.sampled.join(
      st.packed.select(col("doc_id"), col("shard"), col("n_tokens"),
        col("bin_id"), col("bin_offset")),
      Seq("doc_id"))

  def funnel(docs: DataFrame, lineMinDf: Long = 5,
             minJaccard: Double = 0.3, benchMod: Long = 29,
             decontamN: Int = 8,
             targetSources: Seq[String] = Seq("src0", "src2", "src4"),
             budget: Long = 512, shards: Int = 4): DataFrame =
    funnelOf(stages(docs, lineMinDf, minJaccard, benchMod, decontamN,
      targetSources, budget, shards))

  private[graft] def funnelOf(st: Stages): DataFrame = {
    def stat(name: String, df: DataFrame): DataFrame =
      df.select(TextOps.tokenCount(col("text")).as("nt"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))

    val s7 = st.packed.agg(
        count_distinct(col("source"), col("shard"), col("bin_id"))
          .cast("long").as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit("7_packed").as("stage"), col("n_docs"), col("n_tokens"))

    stat("1_raw", st.raw)
      .unionByName(stat("2_quality", st.quality))
      .unionByName(stat("3_line_dedup", st.lineDeduped))
      .unionByName(stat("4_near_dedup", st.nearDeduped))
      .unionByName(stat("5_decontam", st.decontaminated))
      .unionByName(stat("6_dsir_sample", st.sampled))
      .unionByName(s7)
      .orderBy(col("stage"))
  }

  def stages(docs: DataFrame, lineMinDf: Long = 5,
             minJaccard: Double = 0.3, benchMod: Long = 29,
             decontamN: Int = 8,
             targetSources: Seq[String] = Seq("src0", "src2", "src4"),
             budget: Long = 512, shards: Int = 4): Stages = {
    val raw = rawOf(docs)
    val s2 = qualityGate(raw)
    // 3: line-level boilerplate dedup; emptied docs leave the corpus.
    // The engine-side line hashing stays the default fast family —
    // the oracle replays this stage with raw line strings.
    // s3/mem/s4/s5 each feed MULTIPLE downstream references (s4's
    // lineage repeats inside s5/s6/packed, and funnel/rejectReasons
    // reference every stage in ONE action) — LAZY localCheckpoints
    // dedupe the shared work within that action without adding eager
    // serial jobs and without a CacheManager entry (the b4/b5/b6
    // pattern the round-12 curation audit measured; eager pins were
    // measured net-negative there). Before this, filter pushdown
    // specialized each copy of the s4/s5 lineage (train's benchMod
    // filter pushed into a REPEATED minhash-CC + contamination
    // subtree), so exchange reuse never deduped them.
    val s3 = textLayer(s2, TextOps.lineDfDim(s2), lineMinDf)
      .localCheckpoint(false)
    // 4: near-dup clusters, quality-aware survivor (membership via
    // the sort-free form: the presentation sort would be discarded
    // by the losers join's shuffle)
    val mem = Dedup.minhashClustersRaw(s3, threshold = minJaccard,
      hashFn = Dedup.md5Seeded).localCheckpoint(false)
    val s4 = s3.join(losers(s3, mem), Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    // 5: decontamination — the benchmark split probes the survivors
    val bench = s3.filter(col("doc_id") % benchMod === 0)
    val train = s4.filter(col("doc_id") % benchMod =!= 0)
    val s5 = train.join(
      TextOps.contamination(train, bench, n = decontamN,
          hashFn = Dedup.md5Seeded)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    // 6: DSIR-weighted selection at the corpus aggregate ratio,
    // cross-multiplied in decimal (doc ratio tm/rm >= Σtm/Σrm ⟺
    // tm·Σrm >= rm·Σtm — exact, no float threshold)
    val keep = dsirKeep(TextOps.dsirMasses(s5,
      col("source").isin(targetSources: _*)))
    val s6 = s5.join(keep, Seq("doc_id"), "left_semi")
    // 7: packing
    val packed = TextOps.packSequences(s6, budget, shards)
    Stages(raw, s2, s3, s4, s5, s6, packed)
  }

  private def rawOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("source"))

  /** Stage 2, the Gopher quality gate. */
  private def qualityGate(raw: DataFrame): DataFrame =
    raw.join(
      TextOps.gopherQuality(raw).filter(col("gopher_pass"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Stage 3, the curated text layer: the quality layer's lines
    * deduped against `lineDim` ([[TextOps.dedupLinesWithDim]]); docs
    * whose every line was boilerplate leave. Each caller pins it as
    * its own consumers need.
    */
  private def textLayer(quality: DataFrame, lineDim: DataFrame,
                        lineMinDf: Long): DataFrame =
    quality.select(col("doc_id"), col("source"))
      .join(TextOps.dedupLinesWithDim(quality, lineDim, lineMinDf)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("text_deduped").as("text")),
        Seq("doc_id"))

  /** Stage 4's losers: every cluster member of `mem` but the
    * quality-aware survivor ([[Dedup.bestInCluster]]). */
  private def losers(docs: DataFrame, mem: DataFrame): DataFrame =
    mem.join(
        Dedup.bestInCluster(docs, mem)
          .select(col("cluster_id"), col("best_doc")),
        Seq("cluster_id"))
      .filter(col("doc_id") =!= col("best_doc"))
      .select(col("doc_id"))

  /** Per-document rejection attribution — the funnel's drill-down:
    * for every raw document, the FIRST stage that dropped it (or
    * `kept` if it survived to the sampled corpus). [[funnel]] tells a
    * pipeline owner HOW MANY docs each stage removed; this tells them
    * WHICH — the table they actually open when a source's yield drops
    * ("why did src3 lose 40% yesterday?"), and the audit trail data-
    * governance reviews ask for (why was this document excluded?).
    *
    * `5_decontam` covers both exits at that stage — benchmark-split
    * docs leaving the training corpus and training docs dropped for
    * sharing an n-gram with the benchmark — matching the stage
    * semantics the funnel reports.
    *
    * Scale shape: the stage corpora already exist (the [[stages]]
    * lineage this reuses, hot frames localCheckpointed); attribution
    * adds only id-level left joins — each stage contributes a slim
    * (doc_id, flag) frame, text never enters any of the five joins.
    * The output is one row per RAW doc: the same size as the input's
    * id column, partitioned however the raw scan was.
    */
  def rejectReasons(docs: DataFrame, lineMinDf: Long = 5,
                    minJaccard: Double = 0.3, benchMod: Long = 29,
                    decontamN: Int = 8,
                    targetSources: Seq[String] = Seq("src0", "src2", "src4"),
                    budget: Long = 512, shards: Int = 4): DataFrame = {
    val st = stages(docs, lineMinDf, minJaccard, benchMod, decontamN,
      targetSources, budget, shards)
    // Round-14 orchestration (guide §3.3 plan truncation, measured in
    // OPTIMIZATION_r14.md): force the s3→mem→s4→s5 lazy-checkpoint
    // chain with ONE cheap action BEFORE building the 6-way
    // attribution join — the single-action form planned the whole
    // self-referential stage tree (every join input a full pipeline
    // lineage) and paid ~3 s
    // of optimizer/orchestration time at sf0.1 (5.08 → 2.12 s
    // min-of-3); after the pre-materialization the attribution plan
    // sees four checkpointed RDD scans. Same frames, same output —
    // and count() here is a full-fidelity materializer: s5 is a
    // LogicalRDD-backed lazy checkpoint, so nothing can prune below
    // it (the RDD computes whole rows).
    st.decontaminated.count()
    rejectReasonsOf(st)
  }

  /** The attribution tail of [[rejectReasons]] over an existing
    * [[Stages]] lineage — split out so orchestration (what to
    * materialize before building the 6-way join plan) can be
    * measured and chosen per evidence (OPTIMIZATION_r14.md).
    */
  private[graft] def rejectReasonsOf(st: Stages): DataFrame = {
    def flag(df: DataFrame, name: String): DataFrame =
      df.select(col("doc_id"), lit(true).as(name))
    st.raw.select(col("doc_id"), col("source"))
      .join(flag(st.quality, "s2"), Seq("doc_id"), "left")
      .join(flag(st.lineDeduped, "s3"), Seq("doc_id"), "left")
      .join(flag(st.nearDeduped, "s4"), Seq("doc_id"), "left")
      .join(flag(st.decontaminated, "s5"), Seq("doc_id"), "left")
      .join(flag(st.sampled, "s6"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("s2").isNull, "2_quality")
          .when(col("s3").isNull, "3_line_dedup")
          .when(col("s4").isNull, "4_near_dedup")
          .when(col("s5").isNull, "5_decontam")
          .when(col("s6").isNull, "6_dsir_sample")
          .otherwise("kept").as("rejected_at"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // INCREMENTAL curation (round-7 verdict #6): the daily-run form of
  // the pipeline — a new batch curated against PERSISTED corpus state,
  // composing the *_novel dedup legs and the mergeable dims, so the
  // corpus is only ever SCANNED (near-dup check) or summarized
  // (KB-scale dims); nothing corpus-sized shuffles or recomputes.
  // ------------------------------------------------------------------

  /** The corpus-side state a daily run consumes — each piece is a
    * warehouse table maintained incrementally (dims by
    * [[TextOps.mergeDim]], gram sets by union-distinct, the glob by
    * summing batch masses in):
    *  - `corpusText`: the corpus's curated text layer (quality-gated,
    *    line-deduped — the stage-3 corpus); the ONE corpus-sized
    *    piece, and the cross near-dup leg only SCANS it
    *  - `lineDim`: line-df dim over the corpus quality layer
    *  - `benchGrams`: distinct decontam gram hashes of the corpus
    *    benchmark split
    *  - `dsirDim`: bigram (rc, tc) dim over the corpus text layer
    *  - `dsirGlob`: one row (st, sr) — the corpus mass aggregate under
    *    `dsirDim`, the ratio batch docs are judged against
    *
    * State derives from the TEXT layer (stage 3), not the post-dedup
    * corpus: the dims are corpus-shape statistics, and anchoring them
    * at the curated-text layer decouples state maintenance from the
    * dedup stages (no intermediate stage-5 corpus to persist).
    */
  final case class CorpusState(corpusText: DataFrame, lineDim: DataFrame,
                               benchGrams: DataFrame, dsirDim: DataFrame,
                               dsirGlob: DataFrame)

  /** Derive [[CorpusState]] from a raw corpus — what a prior full run
    * persists (the funnel's stage-1→3 chain plus KB-scale roll-ups).
    */
  def stateOf(corpus: DataFrame, lineMinDf: Long = 5, benchMod: Long = 29,
              decontamN: Int = 8,
              targetSources: Seq[String] = Seq("src0", "src2", "src4")): CorpusState = {
    val c2 = qualityGate(rawOf(corpus))
    val lineDim = TextOps.lineDfDim(c2)
    // the curated text layer feeds four consumers (cross-dedup scan,
    // bench grams, dsir dim, dsir glob) — pin it once
    val c3 = textLayer(c2, lineDim, lineMinDf).localCheckpoint(true)
    val dim = TextOps.dsirDim(c3, col("source").isin(targetSources: _*))
    val glob = massGlob(TextOps.dsirMassesWithDim(c3, dim))
    // the KB-scale state pieces stay LAZY: an eager pin per dim was
    // measured (round 12) to ADD net serial jobs —
    // each localCheckpoint costs its own AQE stage chain (stateOf
    // 10→25 jobs, +2 s warm) while the funnel's branch sharing is
    // already handled by the b4/b5/b6 persists in
    // [[incrementalStages]]. A production daily run reads these as
    // persisted warehouse tables anyway (maintenanceStep).
    CorpusState(c3, lineDim,
      TextOps.benchGrams(c3.filter(col("doc_id") % benchMod === 0),
        decontamN, Dedup.md5Seeded),
      dim, glob)
  }

  /** The incremental stage chain — every stage is the batch-side form
    * of its full-pipeline twin:
    *   2. quality      — batch-local Gopher gate (unchanged)
    *   3. line_dedup   — batch lines against the MERGED line dim
    *                     (corpus dim + the batch's own delta), so a
    *                     line crossing the df threshold only in the
    *                     union is still dropped
    *   4. near_dedup   — CORPUS SENIORITY first: batch docs with any
    *                     corpus near-dup leave ([[Dedup.minhashNovel]]
    *                     — the corpus is scanned, never shuffled);
    *                     then the surviving batch self-dedups with the
    *                     quality-aware cluster survivor, exactly like
    *                     the full pipeline within the batch
    *   5. decontam     — batch train docs probe the MERGED gram set
    *                     (corpus bench grams ∪ the batch bench
    *                     split's grams); batch bench docs leave
    *   6. dsir_sample  — batch masses under the MERGED bigram dim,
    *                     judged against the CORPUS aggregate ratio
    *                     (`state.dsirGlob`) — a batch is selected for
    *                     how it compares to the corpus it joins
    *   7. packed       — the batch's own pack streams (a daily run
    *                     ships its delivery)
    */
  def incrementalStages(batch: DataFrame, state: CorpusState,
                        lineMinDf: Long = 5, minJaccard: Double = 0.3,
                        benchMod: Long = 29, decontamN: Int = 8,
                        targetSources: Seq[String] = Seq("src0", "src2", "src4"),
                        budget: Long = 512, shards: Int = 4): Stages =
    stagesAgainst(batchText(batch, state, lineMinDf), state, minJaccard,
      benchMod, decontamN, targetSources, budget, shards)

  /** Stages 1–3 of a batch against a corpus state: the raw and
    * quality frames, the MERGED line dim (corpus ∪ the batch quality
    * layer) and the batch's text layer, pinned — the near-dup leg,
    * the funnel and the state advance all read it.
    */
  private final case class BatchText(raw: DataFrame, quality: DataFrame,
                                     lineDim: DataFrame, text: DataFrame)

  private def batchText(batch: DataFrame, state: CorpusState,
                        lineMinDf: Long): BatchText = {
    val raw = rawOf(batch)
    val b2 = qualityGate(raw)
    val mergedLine = TextOps.mergeDim(state.lineDim,
      TextOps.lineDfDim(b2), key = "h")
    BatchText(raw, b2, mergedLine,
      textLayer(b2, mergedLine, lineMinDf).localCheckpoint(true))
  }

  /** [[incrementalStages]] 4–7 over a built [[BatchText]]. */
  private def stagesAgainst(bt: BatchText, state: CorpusState,
                            minJaccard: Double, benchMod: Long,
                            decontamN: Int, targetSources: Seq[String],
                            budget: Long, shards: Int): Stages = {
    val b3 = bt.text
    // 4a: corpus seniority — the cross near-dup leg scans the corpus
    val cross = Dedup.minhashNovel(b3, state.corpusText,
      threshold = minJaccard).localCheckpoint(true)
    // 4b: intra-batch clusters among the survivors, quality survivor
    // (sort-free membership: the presentation sort would be discarded
    // by the losers join's shuffle)
    val mem = Dedup.minhashClustersRaw(cross, threshold = minJaccard,
      hashFn = Dedup.md5Seeded).localCheckpoint(true)
    // b4/b5/b6 feed MULTIPLE funnel branches (4/5/6/7); a LAZY
    // localCheckpoint dedupes the shared work within the one funnel
    // action without adding eager serial jobs (the eager-pin chain
    // is the instability amplifier this path is audited for), and —
    // unlike persist() — registers no CacheManager entry: a
    // long-running maintenance stream calling this per micro-batch
    // must not accumulate cached plans that only an explicit
    // unpersist would release (blocks here are RDD-lifecycle-owned,
    // reclaimed by the ContextCleaner like every other
    // localCheckpoint on this path)
    val b4 = cross.join(losers(cross, mem), Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    // 5: the batch bench split (from b3, pre-dedup — bench membership
    // is not forfeited by losing dedup, same as the full pipeline)
    // contributes grams and leaves training
    val bBench = b3.filter(col("doc_id") % benchMod === 0)
    val bTrain = b4.filter(col("doc_id") % benchMod =!= 0)
    val grams = state.benchGrams
      .unionByName(TextOps.benchGrams(bBench, decontamN, Dedup.md5Seeded))
      .distinct()
    val b5 = bTrain.join(
      TextOps.contaminationWithGrams(bTrain, grams, n = decontamN,
          hashFn = Dedup.md5Seeded)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    // 6: DSIR under the merged dim vs the corpus aggregate ratio
    val tgt = col("source").isin(targetSources: _*)
    val mergedDsir = TextOps.mergeDim(state.dsirDim,
      TextOps.dsirDim(b5, tgt), key = "b")
    val keep = dsirKeepAgainst(
      TextOps.dsirMassesWithDim(b5, mergedDsir), state.dsirGlob)
    val b6 = b5.join(keep, Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    val packed = TextOps.packSequences(b6, budget, shards)
    Stages(bt.raw, bt.quality, b3, b4, b5, b6, packed)
  }

  /** The curated, packed BATCH — the daily run's product. */
  def curateIncremental(batch: DataFrame, state: CorpusState,
                        lineMinDf: Long = 5, minJaccard: Double = 0.3,
                        benchMod: Long = 29, decontamN: Int = 8,
                        targetSources: Seq[String] = Seq("src0", "src2", "src4"),
                        budget: Long = 512, shards: Int = 4): DataFrame =
    productOf(incrementalStages(batch, state, lineMinDf, minJaccard,
      benchMod, decontamN, targetSources, budget, shards))

  /** The batch funnel — the monitoring row of the daily run. */
  def incrementalFunnel(batch: DataFrame, state: CorpusState,
                        lineMinDf: Long = 5, minJaccard: Double = 0.3,
                        benchMod: Long = 29, decontamN: Int = 8,
                        targetSources: Seq[String] = Seq("src0", "src2", "src4"),
                        budget: Long = 512, shards: Int = 4): DataFrame =
    funnelOf(incrementalStages(batch, state, lineMinDf, minJaccard,
      benchMod, decontamN, targetSources, budget, shards))

  /** The DSIR keep rule on per-doc masses `(doc_id, tmass, rmass)`:
    * keep a doc when its target-vs-raw mass ratio is at or above the
    * corpus aggregate ratio — `tmass/rmass >= Σtmass/Σrmass`, decided
    * by cross-multiplication so there is NO float threshold and the
    * decision is oracle-exact.
    *
    * Arithmetic contract: the comparison runs in decimal(38,0). The
    * per-doc masses arrive as decimal(38,0) (see
    * [[TextOps.dsirMasses]] — they wrap int64 around ~1e5 docs), the
    * corpus sums are decimal(38,0), and each cross-product is exact
    * while `mass · Σmass < 1e38`. Past that the failure is LOUD in
    * both arithmetic modes: under ANSI (Spark 4 default) the decimal
    * multiply raises ARITHMETIC_OVERFLOW; under non-ANSI it yields
    * null, which this operator refuses to interpret — a null product
    * raises an error instead of silently dropping the doc. The
    * matching DuckDB oracle computes the same products in
    * HUGEINT (int128, ~1.7e38), which also fails loudly on overflow,
    * so cross-engine parity holds over the entire supported domain.
    */
  private[graft] def dsirKeep(masses: DataFrame): DataFrame =
    dsirKeepAgainst(masses, massGlob(masses))

  /** The aggregate-ratio row `(st, sr)` of per-doc masses: Σtmass and
    * Σrmass in decimal(38,0). */
  private def massGlob(masses: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    masses.agg(sum(col("tmass").cast(d38)).cast(d38).as("st"),
      sum(col("rmass").cast(d38)).cast(d38).as("sr"))
  }

  /** The keep rule against an EXPLICIT aggregate-ratio row `glob(st,
    * sr)` — the incremental form, where the ratio is the persisted
    * CORPUS aggregate rather than this frame's own (a daily batch is
    * judged against the corpus it joins, not against itself). Same
    * decimal arithmetic contract as [[dsirKeep]].
    */
  private[graft] def dsirKeepAgainst(masses: DataFrame,
                                     glob: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    masses.crossJoin(broadcast(glob))
      .withColumn("lhs", col("tmass").cast(d38) * col("sr").cast(d38))
      .withColumn("rhs", col("rmass").cast(d38) * col("st").cast(d38))
      .filter(
        when(col("lhs").isNull || col("rhs").isNull,
          raise_error(lit(
            "dsirKeep: mass cross-product exceeds decimal(38,0); " +
              "corpus masses past the 1e38 supported domain")))
          .otherwise(col("lhs") >= col("rhs")))
      .select(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Persisted corpus state + STREAMING curation maintenance — the
  // daily run as a continuously running job (the curation analog of
  // Similarity.startIndexMaintenance).
  // ------------------------------------------------------------------

  private val StateParts =
    Seq("corpus_text", "line_dim", "bench_grams", "dsir_dim", "dsir_glob")

  private def partFrames(state: CorpusState): Seq[(String, DataFrame)] =
    StateParts.zip(Seq(state.corpusText, state.lineDim, state.benchGrams,
      state.dsirDim, state.dsirGlob))

  /** The state published as version `v` by batch `b`. */
  private def stateAt(spark: org.apache.spark.sql.SparkSession,
                      dir: String, v: Int, b: Long): CorpusState = {
    val Seq(text, line, bench, dsir, glob) =
      StateParts.map(VersionedState.read(spark, dir, v, b, _))
    CorpusState(text, line, bench, dsir, glob)
  }

  /** Bootstrap a state dir from a prior full run (version 0, no
    * producing batch; [[VersionedState]] holds the version ladder). */
  def writeState(state: CorpusState, dir: String): Unit = {
    VersionedState.init(state.corpusText.sparkSession, dir,
      partFrames(state))
  }

  /** The latest published state (a maintenance stream's read point). */
  def readState(spark: org.apache.spark.sql.SparkSession,
                dir: String): CorpusState = {
    val vs = VersionedState.versions(VersionedState.fsOf(spark, dir), dir)
    require(vs.nonEmpty, s"curation state: $dir has no published version")
    val (v, b) = vs.last
    stateAt(spark, dir, v, b)
  }

  /** Advance the persisted state by one admitted batch — the
    * merge-forward of every component, at state scale (the raw corpus
    * is never rescanned):
    *  - corpus_text ∪ the batch's curated-text layer (quality gate +
    *    line dedup against the MERGED line dim — stages 2-3 of
    *    [[incrementalStages]], corpus-seniority semantics: history is
    *    immutable, only the batch is re-judged)
    *  - line_dim / dsir_dim via [[TextOps.mergeDim]] (exact:
    *    dim(a ∪ b) = merge(dim(a), dim(b)))
    *  - bench_grams ∪ the batch bench split's grams
    *  - dsir_glob recomputed over the grown curated-text layer under
    *    the merged dim — ONE state-scale pass, so the aggregate ratio
    *    is exact for the corpus the next batch actually joins
    */
  def advanceState(state: CorpusState, batch: DataFrame,
                   lineMinDf: Long = 5, benchMod: Long = 29,
                   decontamN: Int = 8,
                   targetSources: Seq[String] = Seq("src0", "src2", "src4"))
      : CorpusState =
    advanceWith(state, batchText(batch, state, lineMinDf), benchMod,
      decontamN, targetSources)

  /** [[advanceState]] from a batch's built [[BatchText]] — the
    * maintenance step passes the one its stages already pinned. */
  private def advanceWith(state: CorpusState, bt: BatchText,
                          benchMod: Long, decontamN: Int,
                          targetSources: Seq[String]): CorpusState = {
    val grownText = state.corpusText.unionByName(bt.text)
      .localCheckpoint(true)
    val mergedDsir = TextOps.mergeDim(state.dsirDim,
      TextOps.dsirDim(bt.text, col("source").isin(targetSources: _*)),
      key = "b")
    CorpusState(grownText, bt.lineDim,
      state.benchGrams.unionByName(
        TextOps.benchGrams(bt.text.filter(col("doc_id") % benchMod === 0),
          decontamN, Dedup.md5Seeded)).distinct(),
      mergedDsir, massGlob(TextOps.dsirMassesWithDim(grownText, mergedDsir)))
  }

  /** Continuous curation: each micro-batch of raw documents is
    * curated against the persisted corpus state
    * ([[curateIncremental]]), its packed product written under
    * `outDir/batch-<id>`, and the state advanced one version
    * ([[advanceState]]) — the daily run as a stream.
    *
    * EFFECTIVELY-ONCE across crashes: the output write is a per-batch
    * OVERWRITE (replay rewrites the same directory), and the state
    * version carries the producing batch id in its name — a replayed
    * batch that already advanced the state detects itself and curates
    * against the PREVIOUS version (the state it originally saw),
    * skipping the second advance. Without that check, a replayed
    * batch would cross-dedup against a corpus that already contains
    * it and emit an empty (wrong) product.
    */
  def startCurationMaintenance(source: DataFrame, stateDir: String,
                               outDir: String, checkpointDir: String,
                               lineMinDf: Long = 5,
                               minJaccard: Double = 0.3,
                               benchMod: Long = 29, decontamN: Int = 8,
                               targetSources: Seq[String] =
                                 Seq("src0", "src2", "src4"),
                               budget: Long = 512, shards: Int = 4,
                               triggerMs: Long = 3000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatches.start(source, checkpointDir, triggerMs) { (batch, id) =>
      maintenanceStep(batch, id, stateDir, outDir, lineMinDf, minJaccard,
        benchMod, decontamN, targetSources, budget, shards)
    }

  /** One curation-maintenance micro-batch: curate against the replay-
    * correct state version, publish the product at `outDir/batch-<id>`
    * (overwrite — replays rewrite the same bytes), advance the state
    * unless this batch already did. Returns the published product
    * path — the composed pipeline's featurization reads the PUBLISHED
    * bytes, so a replay derives byte-identical features. Shared by
    * [[startCurationMaintenance]] and [[startCorpusMaintenance]].
    */
  private[graft] def maintenanceStep(batch: DataFrame, id: Long,
      stateDir: String, outDir: String, lineMinDf: Long,
      minJaccard: Double, benchMod: Long, decontamN: Int,
      targetSources: Seq[String], budget: Long, shards: Int): String = {
    val spark = batch.sparkSession
    val pinned = batch.localCheckpoint(true)
    val fs = VersionedState.fsOf(spark, stateDir)
    val (v, b, already) = VersionedState.resolve(fs, stateDir, id)
    val st = stateAt(spark, stateDir, v, b)
    val productPath =
      new org.apache.hadoop.fs.Path(outDir, s"batch-$id").toString
    val bt = batchText(pinned, st, lineMinDf)
    productOf(stagesAgainst(bt, st, minJaccard, benchMod, decontamN,
        targetSources, budget, shards))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(productPath)
    if (!already)
      VersionedState.publish(spark, fs, stateDir,
        partFrames(advanceWith(st, bt, benchMod, decontamN, targetSources)),
        v + 1, id)
    productPath
  }

  /** THE COMPOSED NIGHTLY JOB: curation maintenance → featurization →
    * ANN-index append as ONE streaming orchestration — the operation
    * a production corpus actually runs per ingest batch, rather than
    * three crash-stories that each hold alone:
    *
    *  1. [[maintenanceStep]] curates the batch against the persisted
    *     corpus state and advances it one version (replay-aware via
    *     the version's producing-batch id);
    *  2. the featurization seam re-reads the PUBLISHED product bytes
    *     and hash-embeds them ([[TextOps.hashEmbedVectors]] by
    *     default; pass `featurizer` to run ANY encoder behind the
    *     same contract — product frame in, (vec_id, embedding) rows
    *     out, a pure function of the product bytes so a replay
    *     re-encodes identically);
    *  3. [[Similarity.appendToIvfIndexCommitted]] appends the vectors
    *     under the batch id — staged, deterministically named,
    *     marker-committed — and `bm25Dir`, when given, rides the
    *     lexical index over the SAME product under the same batch id
    *     ([[TextOps.appendToBm25IndexCommitted]]), so the at-rest
    *     retrieval stack's two legs advance together.
    *
    * CRASH-REPLAY CONSISTENCY ACROSS BOTH STATES: every stage is
    * either replay-detecting (1: a version stamped with this batch id
    * already exists → curate against the PRIOR version and skip the
    * advance; 3: a commit marker for this batch id → no-op) or a pure
    * function of published bytes (2). Whichever prefix of {product
    * write, state advance, index append} a crash leaves behind, the
    * replay re-runs the missing suffix exactly once: curation state
    * versions and index rows/stats cannot diverge, and a re-run of a
    * FULLY committed batch touches nothing. The index must be
    * bootstrapped over the SAME featurization of the initial corpus
    * (writeIvfIndex over hashEmbedVectors of the state's curated
    * text) — the drift guard then polices encoder/corpus skew.
    *
    * `compactEvery` (0 = never): every Nth batch the job compacts
    * every index it maintains — the small-files decay is its own
    * exhaust, and compaction is now a generation advance behind an
    * atomic pointer flip ([[IndexGen]]), so it composes with live
    * serving consumers without quiescing (the reason this could not
    * be automated before round 11).
    */
  def startCorpusMaintenance(source: DataFrame, stateDir: String,
                             outDir: String, indexDir: String,
                             checkpointDir: String,
                             embedDim: Int = 64,
                             maxDriftRatio: Double = 4.0,
                             sq8Dir: Option[String] = None,
                             bqDir: Option[String] = None,
                             prefixDir: Option[String] = None,
                             prefixIvfDir: Option[String] = None,
                             bm25Dir: Option[String] = None,
                             gramDir: Option[String] = None,
                             featurizer: Option[DataFrame => DataFrame] =
                               None,
                             lineMinDf: Long = 5,
                             minJaccard: Double = 0.3,
                             benchMod: Long = 29, decontamN: Int = 8,
                             targetSources: Seq[String] =
                               Seq("src0", "src2", "src4"),
                             budget: Long = 512, shards: Int = 4,
                             compactEvery: Int = 0,
                             compactMaxRecordsPerFile: Long = 0L,
                             triggerMs: Long = 3000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatches.start(source, checkpointDir, triggerMs) { (batch, id) =>
      val spark = batch.sparkSession
      val productPath = maintenanceStep(batch, id, stateDir, outDir,
        lineMinDf, minJaccard, benchMod, decontamN, targetSources,
        budget, shards)
      val product = spark.read.parquet(productPath)
      // featurization is a pure function of the published product
      // bytes, so the frame is pinned once and feeds every index
      // leg; an external encoder rides the same (vec_id, embedding)
      // contract — replay determinism is the CALLER's obligation
      // for a custom featurizer (a nondeterministic encoder breaks
      // the replay-re-encodes-identically story the committed
      // appends rely on)
      val encode = featurizer.getOrElse((df: DataFrame) =>
        graft.operators.TextOps.hashEmbedVectors(df, embedDim))
      val feats = encode(product)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(true)
      graft.operators.Similarity.appendToIvfIndexCommitted(
        spark, indexDir, feats, id, maxDriftRatio)
      // sidecar + lexical legs ride their own committed appends
      // under the same batch id — each index dir carries its own
      // marker set, so a replay that crashed between legs re-runs
      // only the legs whose markers are missing
      sq8Dir.foreach(sd => graft.operators.Similarity
        .appendToSq8IndexCommitted(spark, sd, feats, id))
      bqDir.foreach(bd => graft.operators.Similarity
        .appendToBqIndexCommitted(spark, bd, feats, id))
      prefixDir.foreach(pd => graft.operators.Similarity
        .appendToPrefixIndexCommitted(spark, pd, feats, id))
      prefixIvfDir.foreach(pd => graft.operators.Similarity
        .appendToPrefixIvfIndexCommitted(spark, pd, feats, id,
          maxDriftRatio))
      bm25Dir.foreach(bm => graft.operators.TextOps
        .appendToBm25IndexCommitted(spark, bm, product, id))
      // the decontam gram index tracks the CURATED corpus too, so
      // tomorrow's new benchmark screens against today's product
      // without a corpus scan — same batch id, own marker set. The
      // gram hash family resolves from the INDEX META (persisted at
      // build time), so this leg hashes under whatever family the
      // index was built with — no hashFn plumbing to mismatch
      gramDir.foreach(gd => graft.operators.TextOps
        .appendToGramIndexCommitted(spark, gd, product, id))
      // IN-STREAM COMPACTION (`compactEvery` > 0, every Nth batch):
      // small-files decay is this job's own exhaust — every
      // committed append lands a file per touched partition — so
      // the job that causes it repairs it. Safe against its own
      // serving consumers BY CONSTRUCTION now: every compaction is
      // a generation advance behind an atomic pointer flip
      // ([[IndexGen]]), so a concurrently-probing stream reads the
      // prior generation intact — no quiescing, which is exactly
      // why this could not be automated before round 11. A crash
      // replay that re-runs the compaction just advances another
      // (content-identical) generation; the committed appends
      // short-circuit on their markers as always.
      // `compactMaxRecordsPerFile` (0 = single file per sublayout/
      // partition) bounds the rewrite's output files: the flat
      // sidecars (SQ8 codes, BQ bits, prefix full vectors) coalesce
      // to ONE writer task by default — fine at test scale, a
      // single-task corpus rewrite inside the stream at warehouse
      // scale. Production callers size this so each rewrite file
      // stays a healthy parquet size and the rewrite parallelizes.
      if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
        val mrpf = compactMaxRecordsPerFile
        (Seq(indexDir) ++ sq8Dir ++ bqDir ++ prefixDir ++ prefixIvfDir ++
          gramDir).foreach(IndexGen.compact(spark, _, mrpf))
        bm25Dir.foreach(graft.operators.TextOps
          .compactBm25Index(spark, _, mrpf))
      }
    }
}
