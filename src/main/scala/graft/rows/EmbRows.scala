package graft.rows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.Similarity
import Prelude._

/** The embedding rows (`emb_*`): exact and approximate nearest neighbours,
  * the IVF/PQ/SQ8/BQ/prefix index formats, semantic dedup and
  * decontamination. */
object EmbRows {

  /** Signed projection of `e` onto fixed hyperplane p (plain double
    * left fold — the same IEEE op sequence as Similarity.lshBucket's
    * aggregate()).
    */
  private def planeProjSql(p: Int, e: String): String = {
    val plane = Similarity.hyperplane(p, 64)
      .map(_.toString).mkString("[", ", ", "]")
    // COALESCE mirrors lshBucket's zero-fill for vectors shorter than
    // the plane (list_zip pads with NULL, which would otherwise poison
    // the whole fold)
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($e, $plane),
      s -> COALESCE(CAST(s[1] AS DOUBLE) * s[2], 0.0))), (a, b) -> a + b)"""
  }

  /** Sign-LSH bucket id over 8 fixed hyperplanes (Similarity.lshBucket). */
  private def lshBucketSql(e: String): String =
    (0 until 8).map { p =>
      s"(CASE WHEN ${planeProjSql(p, e)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", "\n      + ", ")")

  /** Clone-id offset of the planted near-dup corpus (declared BEFORE
    * [[PlantedNearDupCtes]] — object-init order makes a later val read
    * as 0 here).
    */
  private val PlantedIdBase = 1000000L

  /** Rungs of Similarity.GeometryLadder the oracle replays. Three
    * rungs cover corpora to 4,096 vectors — 8× headroom over sf0.1's
    * planted 480; a larger fixture selects NULL geometry, emptying the
    * blocking and failing the row LOUDLY rather than silently
    * replaying the wrong rung. Extending is mechanical: append the
    * rung and the plane VALUES rows grow to the new r · bands.
    */
  private val OracleGeometryRungs: Seq[(Long, Int, Int)] =
    Seq((256L, 6, 6), (1024L, 8, 9), (4096L, 10, 13))

  /** Shared replay of the planted near-dup corpus + the banded
    * OR-amplified blocking (plantedEmbeddings +
    * Similarity.embeddingNearDups at the corpus-size-selected
    * GeometryLadder rung): ends with `nn(vec_id, embedding, norm)`
    * and `banded(vec_a, vec_b, cos_sim)` — the verified candidate
    * pairs. The geometry is data-dependent on BOTH sides from the
    * same input (the planted corpus count), so the engines cannot
    * diverge on rung selection; the plane matrix is a VALUES table
    * joined under `idx < r · bands`, so only the selected rung's
    * projections are computed.
    */
  /** The planted near-dup embedding corpus as a DuckDB CTE — the SQL
    * twin of [[plantedEmbeddings]], shared by the banded near-dup and
    * SemDeDup oracles.
    */
  private def PlantedCorpusCte: String =
    s"""pe AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
  UNION ALL
  SELECT a.vec_id + $PlantedIdBase AS vec_id,
    list_transform(list_zip(a.embedding, b.embedding),
      s -> CAST(CAST(s[1] AS DOUBLE) + 0.25 * CAST(s[2] AS DOUBLE) AS FLOAT)) AS embedding
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 25 = 0
)"""

  /** Rungs of Similarity.semDedupNlist the oracle replays (nlist =
    * smallest power of two with n/k ≤ 64) — enumerated to 4,096
    * vectors, 8× headroom over sf0.1's planted 480; a larger corpus
    * selects NULL → empty c0 → the row fails LOUDLY rather than
    * silently replaying the wrong rung (the OracleGeometryRungs
    * stance). Extending is mechanical: append rungs.
    */
  private val SemDedupOracleRungs: Seq[(Long, Int)] =
    Seq((64L, 1), (128L, 2), (256L, 4), (512L, 8),
      (1024L, 16), (2048L, 32), (4096L, 64))

  private def semDedupNlistCaseSql: String =
    SemDedupOracleRungs
      .map { case (hi, k) => s"WHEN n <= $hi THEN $k" }
      .mkString("CASE ", " ", " ELSE NULL END")

  /** The clustered-embedding fixture as a DuckDB CTE — the SQL twin
    * of [[clusteredEmbeddings]] (same float-cast arithmetic as the
    * planted-clone CTE, so the engines agree bit-for-bit).
    */
  private def ClusteredCorpusCte: String =
    s"""ce AS MATERIALIZED (
  SELECT e.vec_id, e.label,
    list_transform(list_zip(c.embedding, e.embedding),
      s -> CAST(CAST(s[1] AS DOUBLE) + 0.25 * CAST(s[2] AS DOUBLE) AS FLOAT)) AS embedding
  FROM embeddings e JOIN embeddings c ON c.vec_id = (e.vec_id % 8) * 50
)"""

  /** DuckDB replay of [[graft.operators.Similarity.semDedup]] over the
    * planted corpus: the shared Lloyd k-means chain assigns clusters
    * (k DATA-DEPENDENT — the semDedupNlist rung derived from the same
    * corpus count on both engines), then the order-free dominance
    * prune drops every vector with cosine ≥ minCos to a smaller-id
    * vector in the same cluster.
    */
  private def semDedupOracleSql(iters: Int, dim: Int,
                                minCos: Double,
                                sampleMod: Long = 4): String =
    s"""WITH $PlantedCorpusCte,
pes AS MATERIALIZED (
  SELECT vec_id, embedding FROM pe WHERE vec_id % $sampleMod = 0
),
${kmeansAssignCtes("pe", 0, iters, dim,
        nlistCaseSql = Some(semDedupNlistCaseSql),
        trainSrc = Some("pes"))},
nn AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm FROM pe
), mm AS MATERIALIZED (
  SELECT n.vec_id, a.cid, n.embedding, n.norm
  FROM nn n JOIN af a USING (vec_id)
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM mm a JOIN mm b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm), 4)
    >= $minCos
)
SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cluster_id,
  (d.vec_id IS NULL) AS keep
FROM mm m LEFT JOIN dropped d ON d.vec_id = m.vec_id
ORDER BY m.vec_id"""

  /** The banded-signature replay over an existing CTE `pe(vec_id,
    * embedding)`: norms `nn`, rung selection `geo` (data-dependent on
    * |pe|, so the engines cannot diverge), plane matrix `pl`, and the
    * per-band sign values `bvt(vec_id, band, bv)`. Shared by the
    * all-pairs near-dup chain and the incremental emb_novel oracle.
    */
  private val BandSigCtes: String = {
    val maxPlanes = OracleGeometryRungs.map { case (_, r, b) => r * b }.max
    val planeRows = (0 until maxPlanes).map { p =>
      val w = Similarity.hyperplane(p, 64).map(_.toString)
        .mkString("[", ", ", "]")
      s"($p, $w)"
    }.mkString(",\n    ")
    def caseOver(pick: ((Long, Int, Int)) => Int): String =
      OracleGeometryRungs.map { case t @ (hi, _, _) =>
        s"WHEN n <= $hi THEN ${pick(t)}"
      }.mkString("CASE ", " ", " ELSE NULL END")
    // same sequential double fold as planeProjSql, with the plane
    // carried as a column instead of an inlined literal
    val proj =
      """list_reduce(list_prepend(0.0, list_transform(list_zip(p.embedding, pl.w),
      s -> COALESCE(CAST(s[1] AS DOUBLE) * s[2], 0.0))), (a, b) -> a + b)"""
    s"""nn AS MATERIALIZED (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm FROM pe
), geo AS (
  SELECT ${caseOver(_._2)} AS r,
         ${caseOver(_._3)} AS bands
  FROM (SELECT count(*) AS n FROM pe)
), pl(idx, w) AS (
  VALUES
    $planeRows
), bvt AS MATERIALIZED (
  SELECT p.vec_id, pl.idx // g.r AS band,
    sum(CASE WHEN $proj >= 0
             THEN CAST(1 AS BIGINT) << (pl.idx % g.r) ELSE 0 END) AS bv
  FROM pe p CROSS JOIN geo g JOIN pl ON pl.idx < g.r * g.bands
  GROUP BY p.vec_id, pl.idx // g.r
)"""
  }

  private val PlantedNearDupCtes: String =
    s"""$PlantedCorpusCte, $BandSigCtes, cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bvt x JOIN bvt y
    ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id
), banded AS (
  SELECT c.vec_a, c.vec_b,
    round(${dotSql("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm), 4) AS cos_sim
  FROM cand c
  JOIN nn ea ON ea.vec_id = c.vec_a
  JOIN nn eb ON eb.vec_id = c.vec_b
)"""

  private def ivfScoredCtes(nlist: Int, nprobe: Int, iters: Int,
                            dim: Int, queryIds: Seq[Long],
                            corpusFilter: Option[String] = None,
                            queryPred: Option[String] = None,
                            src: String = "embeddings",
                            prelude: String = "",
                            trainSrc: Option[String] = None): String = {
    val qIn = queryIds.mkString(", ")
    val cf = s"c$iters"
    val cFil = corpusFilter.map(f => s" AND $f").getOrElse("")
    // queryPred replaces the driver-side id list — the table-vs-index
    // (knnJoinIndexed) replay, where the query side is a predicate
    // over the same table rather than an enumerated list
    val qSel = queryPred.getOrElse(s"q.vec_id IN ($qIn)")
    s"""WITH $prelude${kmeansAssignCtes(src, nlist, iters, dim,
      trainSrc = trainSrc)},
nn AS (
  SELECT vec_id, label, embedding, ${normSql("embedding")} AS norm FROM $src
), qp AS (
  SELECT query_id, qe, qnorm, cid FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qe, nq.norm AS qnorm, c.cid,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY ${sqDistSql("q.embedding", "c.cent")}, c.cid) AS rn
    FROM $src q JOIN nn nq ON nq.vec_id = q.vec_id
    CROSS JOIN $cf c
    WHERE $qSel
  ) WHERE rn <= $nprobe
), scored AS (
  SELECT qp.query_id, nn.vec_id,
    round(${dotSql("nn.embedding", "qp.qe")} / (nn.norm * qp.qnorm), 4) AS cos_sim
  FROM nn JOIN af ON af.vec_id = nn.vec_id
  JOIN qp ON qp.cid = af.cid AND nn.vec_id <> qp.query_id$cFil
)"""
  }

  private def ivfOracleSql(nlist: Int, nprobe: Int, iters: Int, k: Int,
                           dim: Int, queryIds: Seq[Long],
                           corpusFilter: Option[String] = None,
                           queryPred: Option[String] = None,
                           prelude: String = "",
                           trainSrc: Option[String] = None): String =
    ivfScoredCtes(nlist, nprobe, iters, dim, queryIds, corpusFilter,
      queryPred, prelude = prelude, trainSrc = trainSrc) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= $k ORDER BY query_id, rank"""

  /** DuckDB replay of Similarity.pqTopK up to the exact-re-ranked
    * `scored(query_id, vec_id, cos_sim)`: per-subspace sliced sources
    * → the SAME deterministic-Lloyd codebooks (kmeansAssignCtes per
    * subspace, suffixed CTE names) → codes + ‖codeword‖² PQ norms →
    * ADC cosine via subspace dot products against the assigned
    * codewords → top-`cand` candidates → exact cosine re-rank.
    * Subspace sums are written as explicit left-associated `+` chains
    * to match the Spark side's ascending-j fold bit-for-bit.
    */
  private def pqScoredCtes(m: Int, ksub: Int, iters: Int, dim: Int,
                           cand: Int, queryIds: Seq[Long],
                           ivf: Option[(Int, Int, Int)] = None,
                           residual: Boolean = false): String = {
    require(!residual || ivf.isDefined, "residual coding needs the IVF chain")
    val dsub = dim / m
    // the residual chain inlined per reference re-runs the coarse and
    // subspace Lloyd chains combinatorially (DuckDB inlines CTEs), so
    // it materializes each of its CTEs once; the raw chains' SQL is
    // left as it was
    def cte(name: String): String =
      if (residual) s"$name AS MATERIALIZED (" else s"$name AS ("
    // residual mode (Similarity.ivfPqTopK(residual = true)): the PQ subspace
    // slices come from the residual frame x − c(x), so the Lloyd
    // chains train on residuals exactly as the engine does
    val pqSrc = if (residual) "resid" else "embeddings"
    val subs = (0 until m).map { j =>
      s"""${cte(s"sub$j")}
  SELECT vec_id, array_slice(embedding, ${j * dsub + 1}, ${(j + 1) * dsub}) AS embedding
  FROM $pqSrc
)"""
    }.mkString(",\n")
    val kms = (0 until m).map(j =>
      kmeansAssignCtes(s"sub$j", ksub, iters, dsub, s"_p$j")).mkString(",\n")
    // coarse quantizer (IVF-PQ): its own suffixed Lloyd chain; qp is
    // each query's nprobe nearest lists, and ADC only scans rows whose
    // coarse assignment is probed
    val coarse = ivf.map { case (nlist, _, itersIvf) =>
      kmeansAssignCtes("embeddings", nlist, itersIvf, dim, "_cq") + ",\n" +
        (if (residual)
          s"""${cte("resid")}
  SELECT e.vec_id, a.cid, list_transform(list_zip(e.embedding, c.cent),
    s -> CAST(s[1] AS DOUBLE) - s[2]) AS embedding
  FROM embeddings e JOIN af_cq a ON a.vec_id = e.vec_id
  JOIN c${itersIvf}_cq c ON c.cid = a.cid
),
"""
        else "")
    }.getOrElse("")
    val qp = ivf.map { case (_, nprobe, itersIvf) =>
      s""", ${cte("qp")}
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY ${sqDistSql("q.embedding", "c.cent")}, c.cid) AS rn
    FROM q CROSS JOIN c${itersIvf}_cq c
  ) WHERE rn <= $nprobe
)"""
    }.getOrElse("")
    val adcFrom =
      if (residual)
        // the residual enc already carries its coarse cid
        """FROM enc e JOIN qp ON qp.cid = e.cid
  JOIN q ON q.query_id = qp.query_id
  WHERE e.vec_id <> q.query_id"""
      else if (ivf.isDefined)
        """FROM enc e JOIN af_cq v ON v.vec_id = e.vec_id
  JOIN qp ON qp.cid = v.cid
  JOIN q ON q.query_id = qp.query_id
  WHERE e.vec_id <> q.query_id"""
      else "FROM enc e CROSS JOIN q WHERE e.vec_id <> q.query_id"
    val codeJoin = (0 until m).map(j =>
      s"JOIN af_p$j a$j ON a$j.vec_id = e.vec_id " +
        s"JOIN c${iters}_p$j b$j ON b$j.cid = a$j.cid").mkString("\n  ")
    // ‖x̂‖²: raw coding sums codeword norms; residual coding is
    // ‖c‖² + Σⱼ (2·c⟨j⟩·bookⱼ[codeⱼ] + ‖bookⱼ[codeⱼ]‖²), with the
    // same left-associated addition order as the engine's reduce
    val pqnorm =
      if (residual)
        dotSql("cc.cent", "cc.cent") + " + " + (0 until m).map { j =>
          val cslice =
            s"array_slice(cc.cent, ${j * dsub + 1}, ${(j + 1) * dsub})"
          s"(2 * ${dotSql(cslice, s"b$j.cent")} + ${dotSql(s"b$j.cent", s"b$j.cent")})"
        }.mkString(" + ")
      else (0 until m).map(j =>
        dotSql(s"b$j.cent", s"b$j.cent")).mkString(" + ")
    // q·x̂: residual coding adds the q·c term ahead of the subspace
    // lookups (engine: (qc +: terms).reduce(_ + _))
    val adcSum =
      (if (residual) dotSql("q.embedding", "e.ccent") + " + " else "") +
        (0 until m).map(j => dotSql(
          s"array_slice(q.embedding, ${j * dsub + 1}, ${(j + 1) * dsub})",
          s"e.cent$j")).mkString(" + ")
    val encFrom =
      if (residual) {
        val itersIvf = ivf.get._3
        s"""FROM resid e
  JOIN c${itersIvf}_cq cc ON cc.cid = e.cid
  $codeJoin"""
      } else s"""FROM embeddings e
  $codeJoin"""
    val encCols =
      (if (residual) "e.cid, cc.cent AS ccent, " else "") +
        (0 until m).map(j => s"b$j.cent AS cent$j").mkString(", ")
    val qIn = queryIds.mkString(", ")
    s"""WITH $coarse$subs,
$kms,
${cte("nn")}
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm FROM embeddings
), ${cte("enc")}
  SELECT e.vec_id, $encCols,
    sqrt($pqnorm) AS pqnorm
  $encFrom
), ${cte("q")}
  SELECT vec_id AS query_id, embedding, norm AS qnorm
  FROM nn WHERE vec_id IN ($qIn)
)$qp, ${cte("adc")}
  SELECT q.query_id, e.vec_id,
    round(($adcSum) / (e.pqnorm * q.qnorm), 4) AS cos_sim
  $adcFrom
), ${cte("pqcand")}
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
    FROM adc WHERE NOT isnan(cos_sim)
  ) WHERE rn <= $cand
), ${cte("scored")}
  SELECT c.query_id, c.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4) AS cos_sim
  FROM pqcand c JOIN nn ON nn.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
)"""
  }

  /** The shared recall@10 oracle tail over a `scored` CTE (and the
    * `nn`/`q` CTEs every *ScoredCtes chain defines): approximate
    * top-10 cut, brute-force top-10, per-query hit ratio. One
    * definition serves every recall rung (pq / sq8 / residual ivf-pq)
    * so a tie-break or isnan change cannot diverge between them.
    */
  /** The banded kNN-join recall replay over a parameterized corpus
    * body (`pe` feeds [[BandSigCtes]]' data-dependent rung): shared
    * by the uniform-noise and clustered-fixture recall rows, so ONE
    * SQL string locks both regimes.
    */
  private def knnJoinRecallOracleSql(peBody: String,
                                     prelude: String = ""): String =
    s"""WITH ${prelude}pe AS MATERIALIZED (
  $peBody
), $BandSigCtes, cand AS (
  SELECT DISTINCT x.vec_id AS query_id, y.vec_id
  FROM bvt x JOIN bvt y ON x.band = y.band AND x.bv = y.bv
  WHERE x.vec_id % 97 = 0 AND x.vec_id <> y.vec_id
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("eb.embedding", "ea.embedding")} / (eb.norm * ea.norm), 4) AS cos_sim
  FROM cand c JOIN nn ea ON ea.vec_id = c.query_id
  JOIN nn eb ON eb.vec_id = c.vec_id
), q AS (
  SELECT vec_id AS query_id, embedding, norm AS qnorm
  FROM nn WHERE vec_id % 97 = 0
)""" + recallTailSql("knnk")

  private def recallTailSql(approxCte: String): String = s"""
, $approxCte AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored WHERE NOT isnan(cos_sim)
  ) WHERE rank <= 10
), bscored AS (
  SELECT q.query_id, nn.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4) AS cos_sim
  FROM nn, q WHERE nn.vec_id <> q.query_id
), brute AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM bscored WHERE NOT isnan(cos_sim)
  ) WHERE rank <= 10
)
SELECT x.query_id,
  CAST(count(l.vec_id) AS BIGINT) AS hits,
  CAST(count(*) AS BIGINT) AS expected,
  round(CAST(count(l.vec_id) AS DOUBLE) / count(*), 4) AS recall
FROM brute x LEFT JOIN $approxCte l
  ON l.query_id = x.query_id AND l.vec_id = x.vec_id
GROUP BY x.query_id ORDER BY x.query_id"""

  /** Matryoshka truncate-then-rerank replay
    * (Similarity.prefixRerankTopK): prefix-dim candidate cut over the
    * 16-component list slices, exact full-dim re-rank of the
    * survivors — `scored` is the exact-rescored candidate set, as in
    * [[pqScoredCtes]].
    */
  /** DuckDB replay of Similarity.prefixIvfSearchIndexed: the k-means
    * CTE chain trains on the SLICED source (prefixDim-dim cells —
    * the geometry the coarse pass ranks in), each query's prefix
    * probes its nprobe nearest centroids (sqDist ties to the smaller
    * cid), the coarse prefix cosine ranks only rows whose list is
    * probed, and the exact full-dim rerank scores the top-`cand`
    * survivors — the pruning itself is replayed, not approximated by
    * an exhaustive probe.
    */
  private def prefixIvfCtes(prefixDim: Int, nlist: Int, nprobe: Int,
                            iters: Int, cand: Int,
                            queryIds: Seq[Long],
                            corpusFilter: Option[String] = None,
                            queryPred: Option[String] = None,
                            src: String = "embeddings",
                            prelude: String = ""): String = {
    val qIn = queryIds.mkString(", ")
    val p = s"[1:$prefixDim]"
    val cFil = corpusFilter.map(f => s" AND $f").getOrElse("")
    // queryPred replaces the driver-side id list — the table-vs-index
    // (prefixIvfKnnJoin) replay, where the query side is a predicate
    // over the same table rather than an enumerated list
    val qSel = queryPred.getOrElse(s"vec_id IN ($qIn)")
    s"""WITH ${prelude}pfxsrc AS (
  SELECT vec_id, embedding$p AS embedding FROM $src
),
${kmeansAssignCtes("pfxsrc", nlist, iters, prefixDim)},
nn AS (
  SELECT vec_id, label, embedding, ${normSql("embedding")} AS norm
  FROM $src
), q AS (
  SELECT vec_id AS query_id, embedding, ${normSql("embedding")} AS qnorm
  FROM $src WHERE $qSel
), qp AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY ${sqDistSql(s"q.embedding$p", "c.cent")}, c.cid) AS rn
    FROM q CROSS JOIN c$iters c
  ) WHERE rn <= $nprobe
), ps AS (
  SELECT qp.query_id, nn.vec_id,
    round(${dotSql(s"nn.embedding$p", s"q.embedding$p")} /
      (${normSql(s"nn.embedding$p")} * ${normSql(s"q.embedding$p")}), 4)
      AS cos_sim
  FROM nn JOIN af ON af.vec_id = nn.vec_id
  JOIN qp ON qp.cid = af.cid
  JOIN q ON q.query_id = qp.query_id
  WHERE nn.vec_id <> qp.query_id$cFil
), cut AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM ps WHERE NOT isnan(cos_sim)
  ) WHERE rank <= $cand
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4)
      AS cos_sim
  FROM cut c JOIN nn ON nn.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
)"""
  }

  private def prefixRerankCtes(cand: Int, queryIds: Seq[Long]): String =
    s"""WITH nn AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding, ${normSql("embedding")} AS qnorm
  FROM embeddings WHERE vec_id IN (${queryIds.mkString(", ")})
), ps AS (
  SELECT q.query_id, nn.vec_id,
    round(${dotSql("nn.embedding[1:16]", "q.embedding[1:16]")} /
      (${normSql("nn.embedding[1:16]")} * ${normSql("q.embedding[1:16]")}), 4)
      AS cos_sim
  FROM nn, q WHERE nn.vec_id <> q.query_id
), cut AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM ps WHERE NOT isnan(cos_sim)
  ) WHERE rank <= $cand
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4)
      AS cos_sim
  FROM cut c JOIN nn ON nn.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
)"""

  /** SQ8 asymmetric-search replay (Similarity.sq8TopK): per-vector
    * symmetric quantization (the emb_quant_error CTE), dequantized
    * reconstruction, approximate cosine against the reconstruction,
    * candidate cut, exact re-rank — `scored` is the exact-rescored
    * candidate set, as in [[pqScoredCtes]].
    */
  private def sq8ScoredCtes(cand: Int, queryIds: Seq[Long]): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH q8 AS (
  SELECT vec_id,
    list_reduce(list_prepend(0.0, list_transform(embedding,
      x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b)) / 127.0 AS scale,
    embedding
  FROM embeddings
), rec AS (
  SELECT vec_id,
    list_transform(embedding, x ->
      CASE WHEN scale = 0.0 THEN 0.0
           ELSE round(CAST(x AS DOUBLE) / scale, 0) * scale END) AS rvec
  FROM q8
), nn AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding, ${normSql("embedding")} AS qnorm
  FROM embeddings WHERE vec_id IN ($ids)
), ascored AS (
  SELECT q.query_id, r.vec_id,
    round(${dotSql("r.rvec", "q.embedding")} /
      (${normSql("r.rvec")} * q.qnorm), 4) AS cos_sim
  FROM rec r, q WHERE r.vec_id <> q.query_id
), sqcand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
    FROM ascored WHERE NOT isnan(cos_sim)
  ) WHERE rn <= $cand
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4) AS cos_sim
  FROM sqcand c JOIN nn ON nn.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
)"""
  }

  /** Binary-quantization search replay (Similarity.bqTopK): per-dim
    * sign bits, Hamming distance as a per-pair sign-mismatch count
    * (the semantic statement of the engine's packed-word XOR +
    * popcount — the oracle replays MEANING, not bit layout), monotone
    * angular score 1 − h/d (one IEEE division), candidate cut, exact
    * re-rank into `scored` — the [[sq8ScoredCtes]] contract.
    */
  private def bqScoredCtes(cand: Int, queryIds: Seq[Long]): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH sgn AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) > 0.0) AS sg
  FROM embeddings
), nn AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding, ${normSql("embedding")} AS qnorm
  FROM embeddings WHERE vec_id IN ($ids)
), qs AS (
  SELECT vec_id AS query_id, sg FROM sgn WHERE vec_id IN ($ids)
), ascored AS (
  SELECT qs.query_id, s.vec_id,
    1.0 - CAST(len(list_filter(range(len(s.sg)),
      i -> s.sg[i + 1] <> qs.sg[i + 1])) AS DOUBLE) /
      CAST(len(s.sg) AS DOUBLE) AS cos_sim
  FROM sgn s, qs WHERE s.vec_id <> qs.query_id
), bqcand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
    FROM ascored WHERE NOT isnan(cos_sim)
  ) WHERE rn <= $cand
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4) AS cos_sim
  FROM bqcand c JOIN nn ON nn.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
)"""
  }

  /** Planted-near-dup embedding corpus for the emb_near_dups /
    * emb_near_dup_recall fixtures: the synthetic embeddings are random
    * noise with NO true near-duplicates (max natural pair cosine
    * ≈ 0.51), so the fixture plants them — every 25th vector gets a
    * clone at id + [[PlantedIdBase]] mixed 4:1 with its successor
    * (cosine ≈ 0.97, exactly replayable: double arithmetic then one
    * float32 round, identical IEEE ops in both engines). The corpus is
    * subset to every 5th vector (+ clones) to keep the DuckDB replay
    * of the candidate stage within the parity budget; the operator
    * itself is corpus-size-agnostic.
    */
  private def plantedClones(base: DataFrame): DataFrame = {
    val nxt = base.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    base
      .filter(col("vec_id") % 25 === 0)
      .join(nxt, col("vec_id") + 1 === col("nid"))
      .select((col("vec_id") + lit(PlantedIdBase)).as("vec_id"),
        zip_with(col("embedding"), col("ne"), (x, y) =>
          (x.cast("double") + lit(0.25) * y.cast("double")).cast("float"))
          .as("embedding"))
  }

  private[graft] def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
    base.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(plantedClones(base))
  }

  /** Clustered-embedding fixture (round-12 verdict #2): the synthetic
    * embeddings are uniform noise, so every recall row priced on them
    * measures the WORST case — this derives a deterministic
    * mixture-of-tight-clusters corpus FROM the base table (the
    * planted-clone discipline, replayed exactly by the oracle):
    * vector i = center(i mod 8) + 0.25·eᵢ, centers = the base vectors
    * at vec_id ∈ {0, 50, …, 350}. Within-cluster cosines land in the
    * near-dup regime the ANN dials are designed for (≈0.94–0.97),
    * cross-cluster at the noise ceiling (≈0.5), so the clustered
    * recall rows price the dials at their DESIGN POINT beside the
    * noise worst case. Same (vec_id, label, embedding) schema as the
    * base table.
    */
  private[graft] def clusteredEmbeddings(s: SparkSession,
                                         d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
    val centers = base
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 400)
      .select((col("vec_id") / 50).cast("int").as("ck"),
        col("embedding").as("cvec"))
    base
      .select(col("vec_id"), col("label"), col("embedding"),
        (col("vec_id") % 8).cast("int").as("ck"))
      .join(broadcast(centers), Seq("ck"))
      .select(col("vec_id"), col("label"),
        zip_with(col("cvec"), col("embedding"), (c, e) =>
          (c.cast("double") + lit(0.25) * e.cast("double")).cast("float"))
          .as("embedding"))
  }

  /** Incremental-ingest embedding fixture (emb_novel): the corpus is
    * the planted base (every 5th vector); the batch is the planted
    * clones — true corpus near-dups the operator must drop — plus the
    * vec_id % 5 = 1 noise vectors, novel by construction (max natural
    * pair cosine ≈ 0.51, far under the 0.9 threshold).
    */
  private def novelEmbeddingSplit(s: SparkSession,
                                  d: String): (DataFrame, DataFrame) = {
    val base = Tables.embeddings(s, d)
    val ref = base.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    val batch = plantedClones(base).unionByName(
      base.filter(col("vec_id") % 5 === 1)
        .select(col("vec_id"), col("embedding")))
    (batch, ref)
  }

  val rows: Seq[Row] = Seq(
    // ---- similarity search ----
    Row("emb_knn_brute", (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      """WITH dotsq AS (
  SELECT e.vec_id, e.label, q.vec_id AS query_id,
    CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding),
      s -> CAST(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE) AS dp,
    sqrt(CAST(list_sum(list_transform(e.embedding,
      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE)) AS norm_e,
    sqrt(CAST(list_sum(list_transform(q.embedding,
      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE)) AS norm_q
  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)) q
  WHERE e.vec_id <> q.vec_id
), scored AS (
  SELECT query_id, vec_id, label, round(dp / (norm_e * norm_q), 4) AS cos_sim
  FROM dotsq
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
  FROM scored WHERE NOT isnan(cos_sim)
)
SELECT query_id, vec_id, label, cos_sim, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""),
    Row("emb_lsh_ann", (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      {
        s"""WITH b AS (
  SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
    ${normSql("embedding")} AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm, bucket
  FROM b WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, e.vec_id,
    round(${dotSql("e.embedding", "q.qe")} / (e.norm * q.qnorm), 4) AS cos_sim
  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank"""
      }),
    // ANN quality dial: recall@10 of the LSH result vs brute force
    Row("emb_lsh_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.lshTopK(emb, Seq(0L, 1L, 2L)),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      // recall@10 — the LSH and brute-force top-10 CTEs replayed with
      // the same scoring/ranking as their own oracles, intersected
      {
        s"""WITH b AS (
  SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
    ${normSql("embedding")} AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm, bucket
  FROM b WHERE vec_id IN (0, 1, 2)
), lsh AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM (
      SELECT q.query_id, e.vec_id,
        round(${dotSql("e.embedding", "q.qe")} / (e.norm * q.qnorm), 4) AS cos_sim
      FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    ) WHERE NOT isnan(cos_sim)
  ) WHERE rank <= 10
), brute AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM (
      SELECT q.query_id, e.vec_id,
        round(${dotSql("e.embedding", "q.qe")} / (e.norm * q.qnorm), 4) AS cos_sim
      FROM b e, q WHERE e.vec_id <> q.query_id
    ) WHERE NOT isnan(cos_sim)
  ) WHERE rank <= 10
)
SELECT x.query_id,
  CAST(count(l.vec_id) AS BIGINT) AS hits,
  CAST(count(*) AS BIGINT) AS expected,
  round(CAST(count(l.vec_id) AS DOUBLE) / count(*), 4) AS recall
FROM brute x LEFT JOIN lsh l
  ON l.query_id = x.query_id AND l.vec_id = x.vec_id
GROUP BY x.query_id ORDER BY x.query_id"""
      }),
    // cold path: per-call training (index-build cost made visible)
    Row("emb_ivf_ann", (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      ivfOracleSql(nlist = 16, nprobe = 2, iters = 3,
      k = 10, dim = 64, queryIds = Seq(0L, 1L, 2L))),
    // FILTERED vector search: metadata predicate restricts the corpus
    // side inside the pruned-list scan (a pushed parquet filter on
    // the durable layout) — one shared index serves every filter;
    // wider probes keep recall under the thinner lists
    Row("emb_ivf_filtered", (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L),
        nprobe = 4, pred = Some(col("label").isin(3, 7))),
      // filtered search: identical replay with the label predicate on
      // the corpus side of the scoring stage
      ivfOracleSql(nlist = 16, nprobe = 4, iters = 3,
      k = 10, dim = 64, queryIds = Seq(0L, 1L, 2L),
      corpusFilter = Some("nn.label IN (3, 7)"))),
    // quality dial for nprobe: recall@10 of the pruned probe vs exact
    Row("emb_ivf_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfTopK(emb, Seq(0L, 1L, 2L)),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      // recall@10 of the pruned IVF probe vs exact brute force — the
      // brute side reuses the same nn norms, so the only difference
      // under measurement is the nprobe pruning
      (ivfScoredCtes(nlist = 16, nprobe = 2, iters = 3,
      dim = 64, queryIds = Seq(0L, 1L, 2L)) + s"""
, ivfk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored WHERE NOT isnan(cos_sim)
  ) WHERE rank <= 10
), bq AS (
  SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm
  FROM nn WHERE vec_id IN (0, 1, 2)
), bscored AS (
  SELECT bq.query_id, nn.vec_id,
    round(${dotSql("nn.embedding", "bq.qe")} / (nn.norm * bq.qnorm), 4) AS cos_sim
  FROM nn, bq WHERE nn.vec_id <> bq.query_id
), brute AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM bscored WHERE NOT isnan(cos_sim)
  ) WHERE rank <= 10
)
SELECT x.query_id,
  CAST(count(l.vec_id) AS BIGINT) AS hits,
  CAST(count(*) AS BIGINT) AS expected,
  round(CAST(count(l.vec_id) AS DOUBLE) / count(*), 4) AS recall
FROM brute x LEFT JOIN ivfk l
  ON l.query_id = x.query_id AND l.vec_id = x.vec_id
GROUP BY x.query_id ORDER BY x.query_id""")),
    // what sample-training costs in recall: the same nprobe dial with
    // the quantizer trained on the vec_id % 4 sample — prices the
    // 100 TB build recipe's quality side next to its build-cost side
    Row("emb_ivf_sampled_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensureIvfSampledIndex(s,
        s"$d/embeddings.parquet", emb, sampleMod = 4)
      import s.implicits._
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.recallAtK(
        Similarity.ivfSearchIndexed(s, idx, qvecs),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      // the sampled-training quantizer's recall dial: the Lloyd chain
      // trains on the vec_id % 4 sample (trainSrc), the probe and the
      // brute side are the standard replay
      (ivfScoredCtes(nlist = 16, nprobe = 2,
      iters = 3, dim = 64, queryIds = Seq(0L, 1L, 2L),
      prelude =
        "samp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),\n",
      trainSrc = Some("samp")) + s"""
, q AS (
  SELECT vec_id AS query_id, embedding, norm AS qnorm
  FROM nn WHERE vec_id IN (0, 1, 2)
)""" + recallTailSql("ivfsk"))),
    // ...and the same sampled quantizer at the DESIGN POINT: on the
    // clustered fixture a 1-in-4 sample still sees every cluster's
    // mass, so most of the full-trained recall survives (measured
    // 0.87 vs 1.0 at sf0.1; the noise row above is the worst case)
    Row("emb_ivf_sampled_clustered_recall", (s, d) => {
      val ce = clusteredEmbeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfTopK(ce, Seq(0L, 1L, 2L),
          trainOn = Some(ce.filter(col("vec_id") % 4 === 0))),
        Similarity.bruteForceTopK(ce, Seq(0L, 1L, 2L)))
    },
      // the sampled quantizer at the design point: Lloyd trains on the
      // 1-in-4 sample OF THE CLUSTERED fixture, probe + brute over the
      // full clustered corpus
      (ivfScoredCtes(nlist = 16,
      nprobe = 2, iters = 3, dim = 64, queryIds = Seq(0L, 1L, 2L),
      src = "ce",
      prelude = s"$ClusteredCorpusCte,\n" +
        "samp AS (SELECT vec_id, embedding FROM ce WHERE vec_id % 4 = 0),\n",
      trainSrc = Some("samp")) + s"""
, q AS (
  SELECT vec_id AS query_id, embedding, norm AS qnorm
  FROM nn WHERE vec_id IN (0, 1, 2)
)""" + recallTailSql("ivfsck"))),
    // the same nprobe dial at the DESIGN POINT: clustered fixture,
    // identical dials (nlist=16, nprobe=2) — k-means carves the true
    // clusters, so the pruned probe should hold near-exact recall
    // where the noise row above pays the worst case
    Row("emb_ivf_clustered_recall", (s, d) => {
      val ce = clusteredEmbeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfTopK(ce, Seq(0L, 1L, 2L)),
        Similarity.bruteForceTopK(ce, Seq(0L, 1L, 2L)))
    },
      // the pruned IVF probe priced at the DESIGN POINT: identical
      // dials over the clustered fixture — recallTailSql over a q CTE
      // drawn from the clustered nn
      (ivfScoredCtes(nlist = 16, nprobe = 2,
      iters = 3, dim = 64, queryIds = Seq(0L, 1L, 2L), src = "ce",
      prelude = s"$ClusteredCorpusCte,\n") + s"""
, q AS (
  SELECT vec_id AS query_id, embedding, norm AS qnorm
  FROM nn WHERE vec_id IN (0, 1, 2)
)""" + recallTailSql("ivfck"))),
    // production read path: durable fingerprint-guarded index (built
    // once per source version), probed with caller-supplied query
    // vectors — here fetched from the BASE table (3 rows, pushed-down
    // id filter), never by scanning the index lists
    Row("emb_ivf_indexed", (s, d) => {
      val idx = Similarity.ensureIvfIndex(s, s"$d/embeddings.parquet",
        Tables.embeddings(s, d))
      import s.implicits._
      val qvecs = Tables.embeddings(s, d)
        .filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.ivfSearchIndexed(s, idx, qvecs)
    },
      // identical replay: the indexed path changes the physical layout
      // (durable lists + pruned probe), not the answer
      ivfOracleSql(nlist = 16, nprobe = 2, iters = 3,
      k = 10, dim = 64, queryIds = Seq(0L, 1L, 2L))),
    // the 100 TB build recipe made first-class: the coarse quantizer
    // trains on the deterministic vec_id % 4 sample (bounding Lloyd's
    // per-iteration pass), the full corpus pays only the assignment
    // scan + partitioned write; the probe is the standard pruned read
    Row("emb_ivf_sampled_indexed", (s, d) => {
      val idx = Similarity.ensureIvfSampledIndex(s,
        s"$d/embeddings.parquet", Tables.embeddings(s, d), sampleMod = 4)
      import s.implicits._
      val qvecs = Tables.embeddings(s, d)
        .filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.ivfSearchIndexed(s, idx, qvecs)
    },
      // sampled-training build (the 100 TB recipe): the Lloyd chain
      // trains on the deterministic vec_id % 4 sample, the FULL corpus
      // is assigned to those centroids — prelude CTE + trainSrc split
      // the replay exactly as writeIvfIndexSampled splits the build
      ivfOracleSql(nlist = 16, nprobe = 2,
      iters = 3, k = 10, dim = 64, queryIds = Seq(0L, 1L, 2L),
      prelude =
        "samp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),\n",
      trainSrc = Some("samp"))),
    // product-quantization ADC search (4 subspaces × 16 codewords =
    // 4-byte codes) with exact re-rank of the top-50 candidates —
    // the FAISS IVF-PQ probe path's PQ half
    Row("emb_pq_ann", (s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      // PQ-ADC search: codebooks, codes, ADC ranking, candidate cut and
      // exact re-rank all replayed (Similarity.pqTopK is deterministic
      // end-to-end, so nothing about PQ stays engine-specific)
      (pqScoredCtes(m = 4, ksub = 16, iters = 2, dim = 64,
      cand = 50, queryIds = Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // SQ8 rung of the compression ladder: int8 codes + per-vector
    // scale, approximate cosine against the dequantized corpus, exact
    // re-rank of the top candidates
    Row("emb_sq8_ann", (s, d) =>
      Similarity.sq8TopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      // SQ8 asymmetric search: quantize → reconstruct → approximate
      // cosine → candidate cut → exact re-rank, all replayed
      (sq8ScoredCtes(cand = 50,
      queryIds = Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // durable SQ8 sidecar: quantized once at write time, probe scans
    // the stored codes — must equal the one-shot emb_sq8_ann exactly
    Row("emb_sq8_indexed", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensureSq8Index(s, s"$d/embeddings.parquet", emb)
      import s.implicits._
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.sq8SearchIndexed(s, idx, emb, qvecs)
    },
      // the durable-sidecar probe replays the SAME funnel — stored
      // codes are a pure function of the vectors
      (sq8ScoredCtes(cand = 50,
      queryIds = Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // quality dial for 8-bit codes: recall@10 vs brute force (expected
    // ≫ PQ's 4-byte codes, ≤ 1.0)
    Row("emb_sq8_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.sq8TopK(emb, Seq(0L, 1L, 2L)),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      (sq8ScoredCtes(cand = 50,
      queryIds = Seq(0L, 1L, 2L)) + recallTailSql("sqk"))),
    // binary (sign-bit) quantization: 1 bit/dim packed into longs,
    // XOR+popcount Hamming scan, exact re-rank — the cheapest rung of
    // the compression ladder
    Row("emb_bq_ann", (s, d) =>
      Similarity.bqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      // binary quantization: sign bits → Hamming (sign-mismatch count)
      // → candidate cut → exact re-rank, all replayed
      (bqScoredCtes(cand = 50,
      queryIds = Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // durable bq sidecar: fingerprint-guarded build-once, probe over
    // the stored packed words, floats fetched only for the re-rank —
    // must equal the one-shot emb_bq_ann exactly
    Row("emb_bq_indexed", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensureBqIndex(s, s"$d/embeddings.parquet", emb)
      import s.implicits._
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.bqSearchIndexed(s, idx, emb, qvecs)
    },
      // the durable-sidecar probe replays the SAME funnel — stored bits
      // are a pure function of the vectors, so index and one-shot agree
      (bqScoredCtes(cand = 50,
      queryIds = Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // quality dial for 1-bit codes: recall@10 vs brute force (below
    // SQ8, in PQ's neighborhood — the rescoring stage earns its keep)
    Row("emb_bq_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.bqTopK(emb, Seq(0L, 1L, 2L)),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      (bqScoredCtes(cand = 50,
      queryIds = Seq(0L, 1L, 2L)) + recallTailSql("bqk"))),
    // the full IVF-PQ probe path: coarse quantizer restricts ADC to
    // nprobe lists, exact re-rank of the survivors
    Row("emb_ivfpq_ann", (s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L)),
      // IVF-PQ: the PQ replay with a coarse-quantizer Lloyd chain and
      // the probe restriction applied to the ADC scan
      (pqScoredCtes(m = 4, ksub = 16, iters = 2,
      dim = 64, cand = 50, queryIds = Seq(0L, 1L, 2L),
      ivf = Some((16, 4, 3))) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // the DURABLE form of the same probe: stored lists/codes/books
    // probed with caller-supplied query vectors (ADC reads codes
    // only, floats touched just for the cand survivors) — probe ≡
    // one-shot, so the emb_ivfpq_ann oracle string locks the at-rest
    // layout end-to-end; training amortized under the fingerprint
    Row("emb_ivfpq_indexed", (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensureIvfPqIndex(s, s"$d/embeddings.parquet",
        emb)
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.ivfPqSearchIndexed(s, idx, qvecs)
    },
      // the durable IVF-PQ probe is proven ≡ the one-shot, so it
      // shares the emb_ivfpq_ann oracle string verbatim (the
      // *_indexed convention)
      (pqScoredCtes(m = 4, ksub = 16, iters = 2,
      dim = 64, cand = 50, queryIds = Seq(0L, 1L, 2L),
      ivf = Some((16, 4, 3))) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // true IVFADC: PQ codes encode residuals x − c(x) (FAISS default);
    // same probe cost, strictly tighter quantization cells
    Row("emb_ivfpq_res_ann", (s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L),
        residual = true),
      // residual IVF-PQ (true IVFADC): the Lloyd chains train on the
      // residual frame, ADC carries the q·c and cross-norm terms
      (pqScoredCtes(m = 4, ksub = 16, iters = 2,
      dim = 64, cand = 50, queryIds = Seq(0L, 1L, 2L),
      ivf = Some((16, 4, 3)), residual = true) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank""")),
    // quality dial: residual coding's recall@10 vs brute force
    Row("emb_ivfpq_res_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), residual = true),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      (pqScoredCtes(m = 4, ksub = 16, iters = 2,
      dim = 64, cand = 50, queryIds = Seq(0L, 1L, 2L),
      ivf = Some((16, 4, 3)), residual = true) + recallTailSql("rpqk"))),
    // quality dial for the PQ code budget: recall@10 vs brute force
    Row("emb_pq_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.pqTopK(emb, Seq(0L, 1L, 2L)),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      (pqScoredCtes(m = 4, ksub = 16, iters = 2,
      dim = 64, cand = 50, queryIds = Seq(0L, 1L, 2L)) + recallTailSql("pqk"))),
    // matryoshka prefix ranking: cosine over the first 16 of 64 dims
    // (the truncate-then-rerank ladder's cheap first pass)
    Row("emb_prefix_ann", (s, d) =>
      Similarity.prefixTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L),
        prefixDim = 16),
      s"""WITH nn AS (
  SELECT vec_id, embedding[1:16] AS embedding,
    ${normSql("embedding[1:16]")} AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding[1:16] AS embedding,
    ${normSql("embedding[1:16]")} AS qnorm
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, nn.vec_id,
    round(${dotSql("nn.embedding", "q.embedding")} / (nn.norm * q.qnorm), 4)
      AS cos_sim
  FROM nn, q WHERE nn.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10
ORDER BY query_id, rank"""),
    // recall@10 of the 16-dim prefix ranking vs the full-dim truth —
    // the dial that says whether a prefix is servable
    Row("emb_prefix_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.prefixTopK(emb, Seq(0L, 1L, 2L), prefixDim = 16),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      // prefix recall@10: approx side scores on the 16-dim slices, the
      // shared recall tail bruteforces the full dims off the same nn/q
      (s"""WITH nn AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding, ${normSql("embedding")} AS qnorm
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, nn.vec_id,
    round(${dotSql("nn.embedding[1:16]", "q.embedding[1:16]")} /
      (${normSql("nn.embedding[1:16]")} * ${normSql("q.embedding[1:16]")}), 4)
      AS cos_sim
  FROM nn, q WHERE nn.vec_id <> q.query_id
)""" + recallTailSql("pfx"))),
    // per-label distribution drift between the base corpus and the
    // vec_id % 10 == 0 "append" slice (the monitoring row behind the
    // index drift guard's single global ratio)
    Row("emb_drift", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.embeddingDrift(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0))
    },
      // per-label drift: decimal centroid sums + decimal mean norms per
      // slice, exact-decimal centroid cosine, full outer on label
      {
        val sums = (1 to 64).map(i =>
          s"CAST(sum(CAST(CAST(embedding[$i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) / count(*)")
          .mkString(",\n    ")
        def side(name: String, pred: String) = s"""$name AS (
  SELECT label, count(*) AS n, [$sums] AS c,
    CAST(sum(CAST(${normSql("embedding")} AS DECIMAL(30,15))) AS DOUBLE)
      / count(*) AS mn
  FROM embeddings WHERE $pred GROUP BY label
)"""
        s"""WITH ${side("b", "vec_id % 10 <> 0")},
${side("t", "vec_id % 10 = 0")}
SELECT coalesce(b.label, t.label) AS label,
  CAST(coalesce(b.n, 0) AS BIGINT) AS n_base,
  CAST(coalesce(t.n, 0) AS BIGINT) AS n_batch,
  round(${dotSql("b.c", "t.c")} / (${normSql("b.c")} * ${normSql("t.c")}), 6)
    AS centroid_cos,
  round(b.mn, 6) AS mean_norm_base,
  round(t.mn, 6) AS mean_norm_batch
FROM b FULL OUTER JOIN t ON b.label = t.label ORDER BY 1"""
      }),
    // the full truncate-then-rerank funnel: 16-dim prefix cuts 50
    // candidates, full-dim exact rerank ranks the top 10
    Row("emb_prefix_rerank", (s, d) =>
      Similarity.prefixRerankTopK(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L), prefixDim = 16, cand = 50),
      (prefixRerankCtes(50, Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10
ORDER BY query_id, rank""")),
    // the DURABLE matryoshka layout: prefix stored as its own column
    // (the at-rest byte win the one-shot's scaladoc prices), probed
    // with caller-supplied query vectors — probe ≡ one-shot, so the
    // emb_prefix_rerank oracle string locks the layout end-to-end
    Row("emb_prefix_indexed", (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensurePrefixIndex(s, s"$d/embeddings.parquet",
        emb, prefixDim = 16)
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.prefixSearchIndexed(s, idx, qvecs, cand = 50)
    },
      // the durable layout probe is proven ≡ the one-shot funnel, so it
      // shares the oracle string verbatim (the *_indexed convention)
      (prefixRerankCtes(50, Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10
ORDER BY query_id, rank""")),
    // the SUB-LINEAR matryoshka serving path: centroids trained on
    // the stored prefix, coarse pass reads only nprobe of nlist
    // prefix lists (partition-pruned), full-dim rerank of the
    // survivors — the pruned probe is oracle-replayed through the
    // k-means CTE chain trained on the sliced source
    Row("emb_prefix_ivf_indexed", (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensurePrefixIvfIndex(s,
        s"$d/embeddings.parquet", emb, prefixDim = 16, nlist = 16)
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.prefixIvfSearchIndexed(s, idx, qvecs, nprobe = 4,
        cand = 50)
    },
      (prefixIvfCtes(prefixDim = 16,
      nlist = 16, nprobe = 4, iters = 3, cand = 50,
      Seq(0L, 1L, 2L)) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10
ORDER BY query_id, rank""")),
    // table-vs-index kNN JOIN over the pruned matryoshka layout:
    // every 97th vector is a query ROW (never a driver-side list),
    // prefix assignment scan-local, coarse join on the list id,
    // full-dim rerank of the cand survivors
    Row("emb_prefix_ivf_knn_join", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensurePrefixIvfIndex(s,
        s"$d/embeddings.parquet", emb, prefixDim = 16, nlist = 16)
      Similarity.prefixIvfKnnJoin(s, idx,
        emb.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id"), col("embedding")),
        k = 10, nprobe = 4, cand = 50)
    },
      // table-vs-index replay: same pruned CTE chain with the query
      // side as a predicate over the table
      (prefixIvfCtes(prefixDim = 16,
      nlist = 16, nprobe = 4, iters = 3, cand = 50, Seq(),
      queryPred = Some("(vec_id % 97) = 0")) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10
ORDER BY query_id, rank""")),
    // FILTERED search on the pruned matryoshka layout: the label
    // predicate rides the pruned coarse scan as a pushed parquet
    // filter (the layout carries the column — columnar at rest, so
    // unfiltered probes never read it), filtered rows never eat
    // candidate slots
    Row("emb_prefix_ivf_filtered", (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensurePrefixIvfIndex(s,
        s"$d/embeddings.parquet", emb, prefixDim = 16, nlist = 16,
        carryCols = Seq("label"))
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.prefixIvfSearchIndexed(s, idx, qvecs, nprobe = 4,
        cand = 50, pred = Some(col("label").isin(3, 7)))
    },
      // filtered search: identical pruned replay with the label
      // predicate on the corpus side of the coarse stage
      (prefixIvfCtes(prefixDim = 16,
      nlist = 16, nprobe = 4, iters = 3, cand = 50, Seq(0L, 1L, 2L),
      corpusFilter = Some("nn.label IN (3, 7)")) + s"""
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10
ORDER BY query_id, rank""")),
    // recall@10 of the PRUNED matryoshka funnel vs brute force — the
    // dial that prices what nprobe/nlist list pruning costs on top of
    // the truncation (compare against emb_prefix_rerank_recall, the
    // unpruned funnel's dial)
    Row("emb_prefix_ivf_recall", (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensurePrefixIvfIndex(s,
        s"$d/embeddings.parquet", emb, prefixDim = 16, nlist = 16)
      val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.recallAtK(
        Similarity.prefixIvfSearchIndexed(s, idx, qvecs, nprobe = 4,
          cand = 50),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      // recall dial of the pruned funnel: the shared recall tail over
      // the pruned-probe CTE chain (scored = its reranked survivors)
      (prefixIvfCtes(prefixDim = 16,
      nlist = 16, nprobe = 4, iters = 3, cand = 50,
      Seq(0L, 1L, 2L)) + recallTailSql("pivf"))),
    // the pruned matryoshka funnel at the DESIGN POINT: same dials
    // over the clustered fixture. The durable index is keyed under a
    // separate indexRoot — the fixture derives from the same source
    // parquet, so the fingerprint guard still rebuilds on source
    // change, but the noise corpus's index dir is never aliased
    Row("emb_prefix_ivf_clustered_recall", (s, d) => {
      import s.implicits._
      val ce = clusteredEmbeddings(s, d)
      val idx = Similarity.ensurePrefixIvfIndex(s,
        s"$d/embeddings.parquet", ce, prefixDim = 16, nlist = 16,
        indexRoot = Some(s"${s.conf.get("spark.sql.warehouse.dir")}" +
          "/graft-clustered-index"))
      val qvecs = ce.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      Similarity.recallAtK(
        Similarity.prefixIvfSearchIndexed(s, idx, qvecs, nprobe = 4,
          cand = 50),
        Similarity.bruteForceTopK(ce, Seq(0L, 1L, 2L)))
    },
      (prefixIvfCtes(prefixDim = 16,
      nlist = 16, nprobe = 4, iters = 3, cand = 50,
      Seq(0L, 1L, 2L), src = "ce",
      prelude = s"$ClusteredCorpusCte,\n") + recallTailSql("pivf"))),
    // recall of the rerank funnel vs brute force — the dial that says
    // how much candidate width buys back from the truncation
    Row("emb_prefix_rerank_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.prefixRerankTopK(emb, Seq(0L, 1L, 2L),
          prefixDim = 16, cand = 50),
        Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L)))
    },
      (prefixRerankCtes(50, Seq(0L, 1L, 2L)) + recallTailSql("rrk"))),
    // banded OR-amplified near-dup blocking over a PLANTED corpus: the
    // synthetic embeddings are random noise (max natural pair cosine
    // ≈ 0.51 — no true near-dups exist to find), so the query plants
    // deterministic clones (x + 0.25·next(x), replayed exactly by the
    // oracle) and runs the operator at a real near-dup threshold
    Row("emb_near_dups", (s, d) =>
      Similarity.embeddingNearDups(plantedEmbeddings(s, d), minCos = 0.9),
      {
        s"""WITH $PlantedNearDupCtes
SELECT vec_a, vec_b, cos_sim FROM banded
WHERE cos_sim >= 0.9 AND NOT isnan(cos_sim)
ORDER BY vec_a, vec_b"""
      }),
    // ANN as a table-vs-table JOIN (hard-negative mining / retrieval
    // shape): every 97th vector as the query TABLE, top-10 corpus
    // neighbors among banded sign-LSH candidates, neither side
    // broadcast — the form that runs when the query side is a corpus
    Row("emb_knn_join", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(emb.filter(col("vec_id") % 97 === 0), emb)
    },
      // kNN join: the banded-signature replay over the FULL corpus
      // (geometry data-dependent on its count, like the engine), query
      // side restricted to every 97th vector, exact cosine per
      // candidate, top-10 per query
      {
        s"""WITH pe AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
), $BandSigCtes, cand AS (
  SELECT DISTINCT x.vec_id AS query_id, y.vec_id
  FROM bvt x JOIN bvt y ON x.band = y.band AND x.bv = y.bv
  WHERE x.vec_id % 97 = 0 AND x.vec_id <> y.vec_id
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("eb.embedding", "ea.embedding")} / (eb.norm * ea.norm), 4) AS cos_sim
  FROM cand c JOIN nn ea ON ea.vec_id = c.query_id
  JOIN nn eb ON eb.vec_id = c.vec_id
)
SELECT query_id, vec_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored WHERE NOT isnan(cos_sim) QUALIFY rank <= 10 ORDER BY query_id, rank"""
      }),
    // quality dial for the joinful form: per-query recall@10 of the
    // banded candidate funnel vs exact brute force over the same
    // query table
    Row("emb_knn_join_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") % 97 === 0)
      import s.implicits._
      val qids = q.select(col("vec_id")).as[Long].collect().sorted.toSeq
      Similarity.recallAtK(
        Similarity.knnJoin(q, emb),
        Similarity.bruteForceTopK(emb, qids))
    },
      // recall@10 of the joinful candidate funnel vs brute force over
      // the same query table (the shared recall tail; q carries the
      // exact norms nn already computed)
      knnJoinRecallOracleSql("SELECT vec_id, embedding FROM embeddings")),
    // the same dial at the DESIGN POINT (round-12 verdict #2): the
    // clustered fixture, where band collisions concentrate inside
    // true clusters — noise row above is the worst case, this row is
    // the regime the near-dup model actually serves
    Row("emb_knn_join_clustered_recall", (s, d) => {
      val ce = clusteredEmbeddings(s, d)
      val q = ce.filter(col("vec_id") % 97 === 0)
      import s.implicits._
      val qids = q.select(col("vec_id")).as[Long].collect().sorted.toSeq
      Similarity.recallAtK(
        Similarity.knnJoin(q, ce),
        Similarity.bruteForceTopK(ce, qids))
    },
      // the same joinful-ANN recall dial priced at the DESIGN POINT —
      // the clustered fixture, where band collisions concentrate inside
      // true clusters (compare against emb_knn_join_recall's noise
      // worst case; SCALE.md carries the pair)
      knnJoinRecallOracleSql("SELECT vec_id, embedding FROM ce",
        prelude = s"$ClusteredCorpusCte, ")),
    // hot-band occupancy accounting (the pre-flight read for choosing
    // maxBandDf): bucket count, hot-bucket count and blocking mass
    // above the cap, and the worst single-bucket skew — over the same
    // planted corpus and auto-selected geometry as the near-dup rows
    Row("emb_band_stats", (s, d) =>
      Similarity.hotBandStats(plantedEmbeddings(s, d), maxBandDf = 16),
      // band-occupancy accounting over the shared banded-signature
      // replay: per-(band, bv) df, then the four accounting aggregates
      s"""WITH $PlantedCorpusCte, $BandSigCtes,
bdf AS (SELECT band, bv, count(*) AS df FROM bvt GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS buckets,
  CAST(coalesce(sum(CASE WHEN df > 16 THEN 1 ELSE 0 END), 0) AS BIGINT) AS hot_buckets,
  CAST(coalesce(sum(CASE WHEN df > 16 THEN df ELSE 0 END), 0) AS BIGINT) AS rows_in_hot_buckets,
  CAST(max(df) AS BIGINT) AS max_df
FROM bdf"""),
    // table-vs-index kNN join: every query ROW (a DataFrame side, no
    // driver-side list) assigned its nprobe nearest STORED centroids
    // scan-locally, equi-joined against the durable index's cid
    // partitions, exact cosine + bounded top-k — the production
    // retrieval join (no per-call training, recall dialed by
    // nprobe/nlist instead of band width)
    Row("emb_knn_join_indexed", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.ensureIvfIndex(s, s"$d/embeddings.parquet", emb)
      Similarity.knnJoinIndexed(s, idx,
        emb.filter(col("vec_id") % 97 === 0), k = 5, nprobe = 2)
    },
      // the table-vs-index join: same Lloyd replay, query side a
      // predicate over the table instead of an enumerated id list
      ivfOracleSql(nlist = 16, nprobe = 2,
      iters = 3, k = 5, dim = 64, queryIds = Nil,
      queryPred = Some("q.vec_id % 97 = 0"))),
    // incremental ingest, embedding leg: a new batch (planted corpus
    // clones + novel noise vectors) deduped against the corpus with
    // the corpus only scanned — bloom of the batch's band keys prunes
    // the scan, exact cosine verifies (Similarity.embeddingNovel)
    Row("emb_novel", (s, d) => {
      val (batch, ref) = novelEmbeddingSplit(s, d)
      Similarity.embeddingNovel(batch, ref, minCos = 0.9)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
      // incremental embedding ingest: replay the banded signatures over
      // batch ∪ corpus (the SAME rung the engine selects from the union
      // count), restrict candidates to cross pairs, verify exact cosine,
      // and anti-join the losers — the batch formulation of emb_novel
      {
        val cos = s"""round(${dotSql("a.embedding", "x.embedding")} / (a.norm * x.norm), 4)"""
        s"""WITH refc AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
), batchc AS MATERIALIZED (
  SELECT a.vec_id + $PlantedIdBase AS vec_id,
    list_transform(list_zip(a.embedding, b.embedding),
      s -> CAST(CAST(s[1] AS DOUBLE) + 0.25 * CAST(s[2] AS DOUBLE) AS FLOAT)) AS embedding
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 25 = 0
  UNION ALL
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 1
), pe AS MATERIALIZED (
  SELECT * FROM refc UNION ALL SELECT * FROM batchc
), $BandSigCtes, cand AS (
  SELECT DISTINCT r.vec_id AS ref_id, b.vec_id AS batch_id
  FROM bvt r JOIN bvt b ON r.band = b.band AND r.bv = b.bv
  WHERE r.vec_id IN (SELECT vec_id FROM refc)
    AND b.vec_id IN (SELECT vec_id FROM batchc)
), losers AS (
  SELECT DISTINCT c.batch_id
  FROM cand c
  JOIN nn a ON a.vec_id = c.ref_id
  JOIN nn x ON x.vec_id = c.batch_id
  WHERE $cos >= 0.9 AND NOT isnan($cos)
)
SELECT CAST(b.vec_id AS BIGINT) AS vec_id FROM batchc b
WHERE b.vec_id NOT IN (SELECT batch_id FROM losers)
ORDER BY vec_id"""
      }),
    // hard-negative triplet mining for contrastive training: anchors
    // = the planted clones (each has its base at cos >= 0.9); among
    // each anchor's banded top-k, positive = best candidate >= 0.9,
    // hard negative = best candidate < 0.7
    Row("emb_triplets", (s, d) => {
      val pe = plantedEmbeddings(s, d)
      Similarity.mineTriplets(
        pe.filter(col("vec_id") >= PlantedIdBase), pe,
        posMin = 0.9, negMax = 0.7)
    },
      // triplet mining: the knnJoin funnel over the planted corpus with
      // clone anchors, then the two per-anchor argmax selections
      // (highest cos, ties to smallest id) replayed as rn = 1 windows
      {
        s"""WITH $PlantedCorpusCte, $BandSigCtes, cand AS (
  SELECT DISTINCT x.vec_id AS query_id, y.vec_id
  FROM bvt x JOIN bvt y ON x.band = y.band AND x.bv = y.bv
  WHERE x.vec_id >= $PlantedIdBase AND x.vec_id <> y.vec_id
), scored AS (
  SELECT c.query_id, c.vec_id,
    round(${dotSql("eb.embedding", "ea.embedding")} / (eb.norm * ea.norm), 4) AS cos_sim
  FROM cand c JOIN nn ea ON ea.vec_id = c.query_id
  JOIN nn eb ON eb.vec_id = c.vec_id
), topk AS (
  SELECT query_id, vec_id, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored WHERE NOT isnan(cos_sim)) WHERE rank <= 10
), pos AS (
  SELECT query_id, vec_id AS pos_id, cos_sim AS pos_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, vec_id) AS rn
    FROM topk WHERE cos_sim >= 0.9) WHERE rn = 1
), neg AS (
  SELECT query_id, vec_id AS neg_id, cos_sim AS neg_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, vec_id) AS rn
    FROM topk WHERE cos_sim < 0.7) WHERE rn = 1
)
SELECT p.query_id AS anchor_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
FROM pos p JOIN neg n USING (query_id)
ORDER BY anchor_id"""
      }),
    // measured pair recall of the banded blocker vs exact brute force
    // (anchored on the planted clones — the truth set is linear): the
    // round-4 lossy-blocking finding's answer, as a checked row
    Row("emb_near_dup_recall", (s, d) =>
      Similarity.nearDupPairRecall(plantedEmbeddings(s, d),
        col("vec_id") >= PlantedIdBase, minCos = 0.9),
      // pair recall of the banded blocker vs exact brute force anchored
      // on the planted clones — both rankings fully replayed, so the
      // recall VALUE (not just the blocking) is cross-engine checked
      {
        s"""WITH $PlantedNearDupCtes, apx AS (
  SELECT vec_a, vec_b FROM banded
  WHERE cos_sim >= 0.9 AND NOT isnan(cos_sim)
), anch AS (
  SELECT vec_id, embedding, norm FROM nn WHERE vec_id >= $PlantedIdBase
), exact AS (
  SELECT DISTINCT least(e.vec_id, q.vec_id) AS vec_a,
    greatest(e.vec_id, q.vec_id) AS vec_b,
    round(${dotSql("e.embedding", "q.embedding")} / (e.norm * q.norm), 4) AS cos_sim
  FROM nn e CROSS JOIN anch q WHERE e.vec_id <> q.vec_id
), ef AS (
  SELECT vec_a, vec_b FROM exact
  WHERE cos_sim >= 0.9 AND NOT isnan(cos_sim)
)
SELECT CAST(count(a.vec_a) AS BIGINT) AS hits,
  CAST(count(*) AS BIGINT) AS expected,
  round(CAST(count(a.vec_a) AS DOUBLE) / greatest(count(*), 1), 4) AS recall
FROM ef x LEFT JOIN apx a ON a.vec_a = x.vec_a AND a.vec_b = x.vec_b"""
      }),
    // cluster-representative mode over the banded pair graph — the
    // O(corpus)-output answer for embedding dedup at scale
    Row("emb_near_dup_clusters", (s, d) =>
      Similarity.embeddingNearDupClusters(plantedEmbeddings(s, d)),
      (s"WITH $PlantedNearDupCtes" +
      clusterCtesSql("SELECT vec_a AS doc_a, vec_b AS doc_b FROM banded " +
        "WHERE cos_sim >= 0.9 AND NOT isnan(cos_sim)") + """
SELECT id AS vec_id, comp AS cluster_id,
  count(*) OVER (PARTITION BY comp) AS cluster_size
FROM ccm ORDER BY vec_id""")),
    // SemDeDup (Abbas et al. 2023): k-means cluster then prune
    // within-cluster cosine near-dups — the clustered Σ|c|² bound on
    // the pair stage; planted clones are the semantic duplicates.
    // nlist AUTO-SIZED from the corpus count (semDedupNlist rung:
    // 120 → 2 at sf0.01, 480 → 8 at sf0.1) and replayed
    // data-dependently by the oracle — the emb_near_dups rung-replay
    // pattern. Round-14 (r13 verdict #1): Lloyd trains on the
    // deterministic vec_id % 4 sample (semDedupSampled), so the full
    // corpus pays ONE assignment scan instead of iters+1 training
    // passes; the oracle replays the same train-on-sample/assign-all
    // split (trainSrc CTE), rung still from the full corpus count
    Row("emb_semdedup", (s, d) =>
      Similarity.semDedupSampled(plantedEmbeddings(s, d), sampleMod = 4,
        iters = 3, minCos = 0.9),
      semDedupOracleSql(iters = 3, dim = 64, minCos = 0.9)),
    // int8 scalar quantization error profile (embedding compression
    // for storage/ANN at scale: s = max|x|/127, q = round(x/s))
    Row("emb_quant_error", (s, d) =>
      Similarity.quantizationError(Tables.embeddings(s, d)),
      """WITH q AS (
  SELECT vec_id, embedding,
    list_reduce(list_prepend(0.0, list_transform(embedding,
      x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b)) / 127.0 AS scale
  FROM embeddings
), c AS (
  SELECT vec_id, scale, embedding,
    list_transform(embedding, x ->
      CASE WHEN scale = 0.0 THEN 0
           ELSE CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INTEGER) END) AS codes
  FROM q
), e AS (
  SELECT vec_id, scale, len(embedding) AS dim,
    list_transform(list_zip(embedding, codes),
      s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) * scale) AS err
  FROM c
)
SELECT vec_id, round(scale, 6) AS scale,
  round(list_reduce(list_prepend(0.0, list_transform(err, x -> abs(x))),
    (a, b) -> greatest(a, b)), 6) AS max_abs_err,
  round(CAST(list_sum(list_transform(err,
    x -> CAST(x * x AS DECIMAL(30,15)))) AS DOUBLE) / dim, 9) AS mse
FROM e ORDER BY vec_id"""),
    // per-label exact centroid + medoid (representative-example
    // primitive): one decimal-sum groupBy, broadcast centroid dim,
    // packed-struct min medoid — no window
    Row("emb_prototypes", (s, d) =>
      Similarity.classPrototypes(Tables.embeddings(s, d)),
      // class prototypes: decimal-exact per-dimension sums → identical
      // IEEE centroid divide and distance fold on both engines, so the
      // medoid argmin replay needs no tolerance
      {
        val sums = (1 to 64).map(i =>
          s"CAST(sum(CAST(CAST(embedding[$i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) / count(*)")
          .mkString(",\n    ")
        s"""WITH s AS (
  SELECT label, count(*) AS n, [$sums] AS centroid
  FROM embeddings GROUP BY label
), d AS (
  SELECT e.vec_id, e.label, s.n, s.centroid,
    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, s.centroid),
      x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2]))),
      (a, b) -> a + b) AS dist
  FROM embeddings e JOIN s USING (label)
), m AS (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT label, n,
  round(sqrt(list_reduce(list_prepend(0.0, list_transform(centroid, x -> x * x)),
    (a, b) -> a + b)), 6) AS centroid_norm,
  vec_id AS medoid_id, round(dist, 6) AS medoid_dist
FROM m WHERE rn = 1 ORDER BY label"""
      }),
    // cluster-balanced coverage sample: per k-means cell, the 10
    // members closest to the centroid via bounded CollectTopK — every
    // region represented regardless of cluster population skew
    Row("emb_coverage_sample", (s, d) =>
      Similarity.coverageSample(Tables.embeddings(s, d),
        nlist = 8, iters = 3, perCell = 10),
      // coverage sample: the shared Lloyd replay, then per-cell
      // nearest-first ranking capped at 10
      s"""WITH ${kmeansAssignCtes("embeddings", 8, 3, 64)},
dd AS (
  SELECT a.vec_id, a.cid, ${sqDistSql("e.embedding", "c.cent")} AS dist
  FROM af a JOIN embeddings e USING (vec_id) JOIN c3 c ON c.cid = a.cid
), r AS (
  SELECT cid, vec_id, dist,
    row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rank
  FROM dd
)
SELECT CAST(cid AS BIGINT) AS cluster_id, vec_id, round(dist, 6) AS dist,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10 ORDER BY cluster_id, rank"""),
    // the same sample over the DURABLE IVF index: training/assignment
    // amortized in the index build — re-sampling costs one list scan
    Row("emb_coverage_indexed", (s, d) => {
      val idx = Similarity.ensureIvfIndex(s, s"$d/embeddings.parquet",
        Tables.embeddings(s, d))
      Similarity.coverageSampleIndexed(s, idx, perCell = 5)
    },
      // indexed coverage sample: the ensureIvfIndex defaults (nlist 16,
      // 3 iters) replayed through the same Lloyd CTEs
      s"""WITH ${kmeansAssignCtes("embeddings", 16, 3, 64)},
dd AS (
  SELECT a.vec_id, a.cid, ${sqDistSql("e.embedding", "c.cent")} AS dist
  FROM af a JOIN embeddings e USING (vec_id) JOIN c3 c ON c.cid = a.cid
), r AS (
  SELECT cid, vec_id, dist,
    row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rank
  FROM dd
)
SELECT CAST(cid AS BIGINT) AS cluster_id, vec_id, round(dist, 6) AS dist,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5 ORDER BY cluster_id, rank"""),
    // SEMANTIC DECONTAMINATION: drop corpus docs whose embedding sits
    // at cosine >= 0.9 to ANY eval-benchmark embedding — the eval set
    // (every 95th base vector, so exact leaks AND their planted
    // near-clones exist in the corpus) rides as broadcast literals;
    // the corpus is scanned once with a scan-local max-cos projection
    Row("emb_decontam", (s, d) =>
      Similarity.semanticDecontam(
        plantedEmbeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") % 95 === 0),
        minCos = 0.9),
      // semantic decontamination: max rounded cosine of each planted-
      // corpus vector against the eval set (every 95th base vector),
      // tie → smallest eval id; keep iff max < 0.9. NaN pairs (zero
      // norms) are skipped on both engines; a row with no valid pair
      // keeps nulls + keep = true.
      s"""WITH $PlantedCorpusCte,
ev AS (
  SELECT * FROM (
    SELECT vec_id AS eid, embedding, ${normSql("embedding")} AS nrm
    FROM embeddings WHERE vec_id % 95 = 0) WHERE nrm > 0
), cn AS MATERIALIZED (
  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM pe
), pairs AS (
  SELECT c.vec_id, e.eid,
    round(${dotSql("c.embedding", "e.embedding")} / (c.nrm * e.nrm), 4) AS c4
  FROM cn c CROSS JOIN ev e
), valid AS (SELECT * FROM pairs WHERE NOT isnan(c4)),
best AS (SELECT vec_id, max(c4) AS mc FROM valid GROUP BY vec_id),
hit AS (
  SELECT v.vec_id, min(v.eid) AS hid
  FROM valid v JOIN best b ON v.vec_id = b.vec_id AND v.c4 = b.mc
  GROUP BY v.vec_id
)
SELECT c.vec_id, b.mc AS max_cos, h.hid AS hit_id,
  NOT COALESCE(b.mc >= 0.9, FALSE) AS keep
FROM cn c LEFT JOIN best b USING (vec_id) LEFT JOIN hit h USING (vec_id)
ORDER BY c.vec_id"""),
  )
}
