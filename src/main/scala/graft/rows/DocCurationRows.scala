package graft.rows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Dedup, Sampling, TextOps}
import Prelude._

/** The document rows (`doc_*`) for exact and near-duplicate detection,
  * decontamination, span removal, split leakage and the curation pipelines.
  * The retrieval, quality, mixing and tokenizer rows are in [[DocRows]]. */
object DocCurationRows {

  /** Shared minhash+LSH oracle CTE chain (Dedup.minhashNearDups with
    * the md5-seeded family) over source table `src`: shingles →
    * 16-slot signatures → 4-band bucket join → exact-jaccard-verified
    * pairs in `j`. k=16 slots, 4 bands × 4 rows.
    */
  private def minhashPairsCtes(src: String): String = {
    val sigCols = (0 until 16).map { seed =>
      s"min(CAST(('0x' || substr(md5('$seed:' || s), 1, 15)) AS BIGINT)) AS h$seed"
    }.mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val slots = (0 until 4).map(r => s"h${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, $slots FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""mtok AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM $src
), base AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS sh
  FROM mtok
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM base
), sig AS (
  SELECT doc_id,
    $sigCols
  FROM ex GROUP BY doc_id
), banded(doc_id, band, s1, s2, s3, s4) AS (
  $bandRows
), pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
   AND x.s3 = y.s3 AND x.s4 = y.s4 AND x.doc_id < y.doc_id
), j AS (
  SELECT p.doc_a, p.doc_b,
    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      greatest(CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 1.0), 4) AS jaccard
  FROM pairs p JOIN base a ON a.doc_id = p.doc_a JOIN base b ON b.doc_id = p.doc_b
)"""
  }

  /** The shared WITH-chain of the full-curation oracles — planted
    * corpus `pl` through the sampled corpus `s6`. Single-sourced so
    * the funnel roll-up ([[curationE2eOracleSql]]) and the per-doc
    * rejection attribution ([[curationRejectOracleSql]]) replay the
    * SAME stage semantics and cannot drift from each other.
    */
  private def curationStageCtes: String = {
    val g8 = (1 to 8).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH pl AS MATERIALIZED (
  SELECT doc_id, source,
    'NAV MENU HOME' || chr(10) || text || chr(10) ||
    '(c) site ' || source || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN 'subscribe now'
         ELSE 'u' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents WHERE doc_id < 300
), ${gopherCtesSql("pl")},
s2 AS MATERIALIZED (
  SELECT p.doc_id, p.source, p.text
  FROM pl p JOIN gq USING (doc_id) WHERE gq.gopher_pass
), lr AS MATERIALIZED (
  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
      i -> {'pos': i, 'line': ls[i]})) AS u
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s2))
), hot AS (
  SELECT line FROM lr GROUP BY line HAVING count(*) >= 5
), kept AS (
  SELECT doc_id, pos, line FROM lr
  WHERE line NOT IN (SELECT line FROM hot)
), kt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_deduped
  FROM kept GROUP BY doc_id
), s3 AS MATERIALIZED (
  SELECT s2.doc_id, s2.source, kt.text_deduped AS text
  FROM s2 JOIN kt USING (doc_id)
), ${minhashPairsCtes("s3")}${clusterCtesSql(
      "SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3")},
${gopherCtesSql("s3", "gq2")},
cbest AS (
  SELECT cluster_id, doc_id AS best_doc FROM (
    SELECT c.comp AS cluster_id, c.id AS doc_id,
      row_number() OVER (PARTITION BY c.comp
        ORDER BY q.gopher_pass DESC, q.n_words DESC, c.id) AS rn
    FROM ccm c JOIN gq2 q ON q.doc_id = c.id
  ) WHERE rn = 1
), s4 AS MATERIALIZED (
  SELECT s3.* FROM s3 WHERE doc_id NOT IN (
    SELECT c.id FROM ccm c JOIN cbest b ON b.cluster_id = c.comp
    WHERE c.id <> b.best_doc)
), dbh AS (
  SELECT DISTINCT CAST(('0x' || substr(md5('0:' || g), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT unnest(list_distinct(list_transform(range(len(t) - 7), i -> $g8))) AS g
    FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
          FROM s3 WHERE doc_id % 29 = 0))
), dcont AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
      unnest(list_distinct(list_transform(range(len(t) - 7), i ->
        CAST(('0x' || substr(md5('0:' || $g8), 1, 15)) AS BIGINT)))) AS h
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM s4 WHERE doc_id % 29 <> 0))
  WHERE h IN (SELECT h FROM dbh)
), s5 AS MATERIALIZED (
  SELECT * FROM s4
  WHERE doc_id % 29 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dcont)
), dbg AS (
  SELECT doc_id, (source IN ('src0', 'src2', 'src4')) AS tgt,
    unnest(list_transform(range(1, length(text)),
      i -> substr(text, i, 2))) AS b
  FROM s5 WHERE length(text) >= 2
), dpd AS MATERIALIZED (
  SELECT doc_id, tgt, b, count(*) AS c FROM dbg GROUP BY 1, 2, 3
), draw AS (
  SELECT b, sum(c) AS rc FROM dpd GROUP BY b
), dtg AS (
  SELECT b, sum(c) AS tc FROM dpd WHERE tgt GROUP BY b
), w AS (
  SELECT p.doc_id,
    CAST(sum(CAST(p.c AS HUGEINT) * (coalesce(t.tc, 0) + 1)) AS HUGEINT) AS tmass,
    CAST(sum(CAST(p.c AS HUGEINT) * r.rc) AS HUGEINT) AS rmass
  FROM dpd p JOIN draw r USING (b) LEFT JOIN dtg t USING (b)
  GROUP BY p.doc_id
), gtot AS (
  SELECT CAST(sum(tmass) AS HUGEINT) AS st,
         CAST(sum(rmass) AS HUGEINT) AS sr FROM w
), s6 AS MATERIALIZED (
  SELECT s5.* FROM s5 JOIN w USING (doc_id) CROSS JOIN gtot
  WHERE w.tmass * gtot.sr >= w.rmass * gtot.st
)"""
  }

  /** DuckDB replay of the END-TO-END curation funnel
    * (graft.operators.Curation.funnel over plantedLineDocs): the
    * shared [[curationStageCtes]] chain plus the packing tail and the
    * per-stage roll-up.
    */
  private def curationE2eOracleSql: String = {
    val nt = s"CAST(coalesce(sum(len(string_split_regex(trim(text), '\\s+'))), 0) AS BIGINT)"
    def stageRow(name: String, src: String): String =
      s"SELECT '$name' AS stage, CAST(count(*) AS BIGINT) AS n_docs, $nt AS n_tokens FROM $src"
    s"""$curationStageCtes, pkt AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM s6
), pk AS (
  SELECT source, shard,
    CAST(coalesce(sum(n_tokens) OVER (
      PARTITION BY source, shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      // 512 AS bin_id,
    n_tokens
  FROM pkt
)
SELECT stage, n_docs, n_tokens FROM (
  ${stageRow("1_raw", "pl")}
  UNION ALL ${stageRow("2_quality", "s2")}
  UNION ALL ${stageRow("3_line_dedup", "s3")}
  UNION ALL ${stageRow("4_near_dedup", "s4")}
  UNION ALL ${stageRow("5_decontam", "s5")}
  UNION ALL ${stageRow("6_dsir_sample", "s6")}
  UNION ALL SELECT '7_packed',
    CAST((SELECT count(*) FROM
      (SELECT DISTINCT source, shard, bin_id FROM pk)) AS BIGINT),
    CAST(coalesce((SELECT sum(n_tokens) FROM pk), 0) AS BIGINT)
) ORDER BY stage"""
  }

  /** DuckDB replay of the per-doc rejection attribution
    * (graft.operators.Curation.rejectReasons): same
    * [[curationStageCtes]] chain; the final select left-joins each
    * stage's id set and names the first stage a doc is absent from.
    */
  private def curationRejectOracleSql: String =
    s"""$curationStageCtes
SELECT pl.doc_id, pl.source,
  CASE WHEN q2.doc_id IS NULL THEN '2_quality'
       WHEN q3.doc_id IS NULL THEN '3_line_dedup'
       WHEN q4.doc_id IS NULL THEN '4_near_dedup'
       WHEN q5.doc_id IS NULL THEN '5_decontam'
       WHEN q6.doc_id IS NULL THEN '6_dsir_sample'
       ELSE 'kept' END AS rejected_at
FROM pl
LEFT JOIN (SELECT doc_id FROM s2) q2 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s3) q3 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s4) q4 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s5) q5 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s6) q6 USING (doc_id)
ORDER BY pl.doc_id"""

  /** Portable-simhash sketch CTE chain (Dedup.simhashPortable): token
    * explode → md5-family 60-bit hashes → per-bit votes → sketch in
    * `sk(doc_id, simhash)`. Shared by the sketch dump and the
    * Hamming-band near-dup oracles.
    */
  private val SimhashSketchCtes: String = {
    val voteCols = (0 until 60).map { i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(",\n    ")
    val sketch = (0 until 60).map { i =>
      s"(CASE WHEN v$i >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n  + ", ")")
    s"""ex AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5('0:' || t), 1, 15)) AS BIGINT) AS h
  FROM ex
), v AS (
  SELECT doc_id,
    $voteCols
  FROM h GROUP BY doc_id
), sk AS (
  SELECT doc_id, CAST($sketch AS BIGINT) AS simhash FROM v
)"""
  }

  /** Hamming-band blocking over the portable sketch
    * (Dedup.simhashNearDups): 4 blocks of 15 bits; hamming ≤ 3 forces
    * an identical block (pigeonhole). `pairs` holds candidates with
    * exact Hamming distance.
    */
  private val SimhashPairsCtes: String = s"""$SimhashSketchCtes,
banded AS (
  SELECT doc_id, simhash, t.band, (simhash >> (t.band * 15)) & 32767 AS bv
  FROM sk, range(4) t(band)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)"""

  /** Prefix filtering (Dedup.jaccardCandidates) over md5-hashed
    * shingles: rarest-first global order, prefix length
    * n − ⌈3n/10⌉ + 1, size filter, and the PPJoin positional filter
    * (overlap ≤ min(na − ia, nb − ib) vs α = ⌈3(na+nb)/13⌉) — all in
    * exact integer arithmetic; every filter is lossless and the
    * verification in `pairs` makes the answer exact.
    */
  private val JaccardPairsCtes: String =
    s"""jtok AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM $ScopedDocsSql sdocs
), shs AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(range(len(toks) - 2),
      i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS shs
  FROM jtok
), sh AS (
  SELECT doc_id, list_distinct(list_transform(shs, s ->
    CAST(('0x' || substr(md5('0:' || s), 1, 15)) AS BIGINT))) AS sh
  FROM shs
), szd AS (
  SELECT doc_id, sh, len(sh) AS nsh,
    greatest(len(sh) - ((3 * len(sh) + 9) // 10) + 1, 0) AS plen
  FROM sh
), tok AS (
  SELECT doc_id, unnest(sh) AS h FROM sh
), dfq AS (
  SELECT h, count(*) AS df FROM tok GROUP BY h
), osh AS (
  SELECT doc_id, list(h ORDER BY df, h) AS osh
  FROM tok JOIN dfq USING (h) GROUP BY doc_id
), pre AS (
  SELECT o.doc_id, z.nsh,
    unnest(o.osh[1:z.plen]) AS h,
    generate_subscripts(o.osh[1:z.plen], 1) - 1 AS pos
  FROM osh o JOIN szd z USING (doc_id)
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    any_value(a.nsh) AS na, any_value(b.nsh) AS nb,
    min(a.pos) AS ia, min(b.pos) AS ib
  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE greatest(a.nsh, b.nsh) * 3 <= least(a.nsh, b.nsh) * 10
  GROUP BY a.doc_id, b.doc_id
), pruned AS (
  SELECT doc_a, doc_b FROM cand
  WHERE least(na - ia, nb - ib) >= (3 * (na + nb) + 12) // 13
), pairs AS (
  SELECT p.doc_a, p.doc_b,
    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
      greatest(CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE), 1.0), 4) AS jaccard
  FROM pruned p JOIN szd x ON x.doc_id = p.doc_a JOIN szd y ON y.doc_id = p.doc_b
)"""

  /** DuckDB replay of the INCREMENTAL curation funnel
    * (Curation.incrementalFunnel over the doc_id % 7 corpus/batch
    * split of plantedLineDocs): every incremental stage re-stated in
    * SQL — corpus-only line counts feed the corpus text layer (the
    * state), merged counts gate the batch lines, ONE minhash chain
    * over cs3 ∪ b3 serves both the cross (corpus-seniority) drop and
    * the intra-batch clusters (signatures are per-doc, so subset
    * pair sets are pair-set restrictions), the merged gram set
    * decontaminates, and the batch's DSIR masses under the MERGED
    * bigram dim are judged against the CORPUS aggregate ratio.
    */
  private def curationNovelOracleSql: String = {
    val nt = s"CAST(coalesce(sum(len(string_split_regex(trim(text), '\\s+'))), 0) AS BIGINT)"
    def stageRow(name: String, src: String): String =
      s"SELECT '$name' AS stage, CAST(count(*) AS BIGINT) AS n_docs, $nt AS n_tokens FROM $src"
    s"""$curationNovelCtes
SELECT stage, n_docs, n_tokens FROM (
  ${stageRow("1_raw", "plb")}
  UNION ALL ${stageRow("2_quality", "bs2")}
  UNION ALL ${stageRow("3_line_dedup", "b3")}
  UNION ALL ${stageRow("4_near_dedup", "b4")}
  UNION ALL ${stageRow("5_decontam", "b5")}
  UNION ALL ${stageRow("6_dsir_sample", "b6")}
  UNION ALL SELECT '7_packed',
    CAST((SELECT count(*) FROM
      (SELECT DISTINCT source, shard, bin_id FROM pk)) AS BIGINT),
    CAST(coalesce((SELECT sum(n_tokens) FROM pk), 0) AS BIGINT)
) ORDER BY stage"""
  }

  /** The composed nightly job's BATCH FACE (round-8 verdict #5's
    * oracle row): the curated batch product (the `b6` layer + its
    * packing coordinates) joined to its hash-embed featurization
    * profile — exactly what `startCorpusMaintenance` derives from one
    * micro-batch before the index append (the append itself is a
    * filesystem transaction, locked by the crash-replay spec, not
    * SQL-replayable). Shares every CTE with the funnel oracle so the
    * two rows cannot drift.
    */
  private def maintainBatchOracleSql: String =
    s"""${curationNovelCtes(2)}, mt AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM b6
), mc AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 64 AS bucket,
    count(*) AS cnt
  FROM mt GROUP BY doc_id, bucket
), ms AS (
  SELECT doc_id, count(*) AS nnz, CAST(sum(cnt * cnt) AS BIGINT) AS norm_sq
  FROM mc GROUP BY doc_id
), mtop AS (
  SELECT doc_id, bucket AS top_bucket, cnt AS top_count,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bucket) AS rn
  FROM mc
)
SELECT b.doc_id, pk.shard, pk.bin_id,
  CAST(len(string_split_regex(trim(b.text), '\\s+')) AS BIGINT) AS n_tokens,
  ms.nnz, ms.norm_sq, t2.top_bucket, t2.top_count
FROM b6 b
JOIN pk ON pk.doc_id = b.doc_id
JOIN ms ON ms.doc_id = b.doc_id
JOIN mtop t2 ON t2.doc_id = b.doc_id AND t2.rn = 1
ORDER BY b.doc_id"""

  /** Shared CTE chain of the incremental-curation oracles: raw %7
    * split → quality → line dedup under the merged dim →
    * corpus-seniority near-dup → decontam under merged grams → DSIR
    * vs the corpus aggregate → packing (`pk`, doc_id retained).
    */
  private def curationNovelCtes: String = curationNovelCtes(0)

  private def curationNovelCtes(batchRem: Int): String = {
    val g8 = (1 to 8).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    def linesOf(src: String, out: String): String =
      s"""$out AS MATERIALIZED (
  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
      i -> {'pos': i, 'line': ls[i]})) AS u
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $src))
)"""
    s"""WITH pl AS MATERIALIZED (
  SELECT doc_id, source,
    'NAV MENU HOME' || chr(10) || text || chr(10) ||
    '(c) site ' || source || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN 'subscribe now'
         ELSE 'u' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents WHERE doc_id < 300
), plc AS MATERIALIZED (
  SELECT * FROM pl WHERE doc_id % 7 <> $batchRem
), plb AS MATERIALIZED (
  SELECT * FROM pl WHERE doc_id % 7 = $batchRem
), ${gopherCtesSql("plc", "cg")},
cs2 AS MATERIALIZED (
  SELECT p.doc_id, p.source, p.text
  FROM plc p JOIN cg USING (doc_id) WHERE cg.gopher_pass
), ${gopherCtesSql("plb", "bg")},
bs2 AS MATERIALIZED (
  SELECT p.doc_id, p.source, p.text
  FROM plb p JOIN bg USING (doc_id) WHERE bg.gopher_pass
), ${linesOf("cs2", "clr")}, ${linesOf("bs2", "blr")},
chot AS (
  SELECT line FROM clr GROUP BY line HAVING count(*) >= 5
), mhot AS (
  SELECT line FROM (
    SELECT line FROM clr UNION ALL SELECT line FROM blr)
  GROUP BY line HAVING count(*) >= 5
), ckt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM clr WHERE line NOT IN (SELECT line FROM chot) GROUP BY doc_id
), cs3 AS MATERIALIZED (
  SELECT c.doc_id, c.source, k.text FROM cs2 c JOIN ckt k USING (doc_id)
), bkt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM blr WHERE line NOT IN (SELECT line FROM mhot) GROUP BY doc_id
), b3 AS MATERIALIZED (
  SELECT c.doc_id, c.source, k.text FROM bs2 c JOIN bkt k USING (doc_id)
), m3 AS MATERIALIZED (
  SELECT doc_id, text FROM cs3 UNION ALL SELECT doc_id, text FROM b3
), ${minhashPairsCtes("m3")},
bxl AS (
  SELECT DISTINCT CASE WHEN doc_a % 7 = $batchRem THEN doc_a ELSE doc_b END AS doc_id
  FROM j WHERE jaccard >= 0.3 AND ((doc_a % 7 = $batchRem) <> (doc_b % 7 = $batchRem))
), bsv AS MATERIALIZED (
  SELECT * FROM b3 WHERE doc_id NOT IN (SELECT doc_id FROM bxl)
)${clusterCtesSql(
      s"""SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3
    AND doc_a % 7 = $batchRem AND doc_b % 7 = $batchRem
    AND doc_a IN (SELECT doc_id FROM bsv)
    AND doc_b IN (SELECT doc_id FROM bsv)""")},
${gopherCtesSql("b3", "bq2")},
cbest AS (
  SELECT cluster_id, doc_id AS best_doc FROM (
    SELECT c.comp AS cluster_id, c.id AS doc_id,
      row_number() OVER (PARTITION BY c.comp
        ORDER BY q.gopher_pass DESC, q.n_words DESC, c.id) AS rn
    FROM ccm c JOIN bq2 q ON q.doc_id = c.id
  ) WHERE rn = 1
), b4 AS MATERIALIZED (
  SELECT bsv.* FROM bsv WHERE doc_id NOT IN (
    SELECT c.id FROM ccm c JOIN cbest b ON b.cluster_id = c.comp
    WHERE c.id <> b.best_doc)
), dbh AS (
  SELECT DISTINCT CAST(('0x' || substr(md5('0:' || g), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT unnest(list_distinct(list_transform(range(len(t) - 7), i -> $g8))) AS g
    FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
          FROM (SELECT text FROM cs3 WHERE doc_id % 29 = 0
                UNION ALL SELECT text FROM b3 WHERE doc_id % 29 = 0)))
), dcont AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
      unnest(list_distinct(list_transform(range(len(t) - 7), i ->
        CAST(('0x' || substr(md5('0:' || $g8), 1, 15)) AS BIGINT)))) AS h
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM b4 WHERE doc_id % 29 <> 0))
  WHERE h IN (SELECT h FROM dbh)
), b5 AS MATERIALIZED (
  SELECT * FROM b4
  WHERE doc_id % 29 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dcont)
), cbg AS (
  SELECT doc_id, (source IN ('src0', 'src2', 'src4')) AS tgt,
    unnest(list_transform(range(1, length(text)),
      i -> substr(text, i, 2))) AS b
  FROM cs3 WHERE length(text) >= 2
), cpd AS MATERIALIZED (
  SELECT doc_id, tgt, b, count(*) AS c FROM cbg GROUP BY 1, 2, 3
), craw AS (
  SELECT b, sum(c) AS rc FROM cpd GROUP BY b
), ctg AS (
  SELECT b, sum(c) AS tc FROM cpd WHERE tgt GROUP BY b
), cw AS (
  SELECT p.doc_id,
    CAST(sum(CAST(p.c AS HUGEINT) * (coalesce(t.tc, 0) + 1)) AS HUGEINT) AS tmass,
    CAST(sum(CAST(p.c AS HUGEINT) * r.rc) AS HUGEINT) AS rmass
  FROM cpd p JOIN craw r USING (b) LEFT JOIN ctg t USING (b)
  GROUP BY p.doc_id
), cglob AS (
  SELECT CAST(sum(tmass) AS HUGEINT) AS st,
         CAST(sum(rmass) AS HUGEINT) AS sr FROM cw
), bbg AS (
  SELECT doc_id, (source IN ('src0', 'src2', 'src4')) AS tgt,
    unnest(list_transform(range(1, length(text)),
      i -> substr(text, i, 2))) AS b
  FROM b5 WHERE length(text) >= 2
), bpd AS MATERIALIZED (
  SELECT doc_id, tgt, b, count(*) AS c FROM bbg GROUP BY 1, 2, 3
), mrw AS (
  SELECT b, sum(c) AS rc FROM (
    SELECT b, c FROM cpd UNION ALL SELECT b, c FROM bpd) GROUP BY b
), mtg AS (
  SELECT b, sum(c) AS tc FROM (
    SELECT b, c FROM cpd WHERE tgt
    UNION ALL SELECT b, c FROM bpd WHERE tgt) GROUP BY b
), bw AS (
  SELECT p.doc_id,
    CAST(sum(CAST(p.c AS HUGEINT) * (coalesce(t.tc, 0) + 1)) AS HUGEINT) AS tmass,
    CAST(sum(CAST(p.c AS HUGEINT) * r.rc) AS HUGEINT) AS rmass
  FROM bpd p JOIN mrw r USING (b) LEFT JOIN mtg t USING (b)
  GROUP BY p.doc_id
), b6 AS MATERIALIZED (
  SELECT b5.* FROM b5 JOIN bw USING (doc_id) CROSS JOIN cglob
  WHERE bw.tmass * cglob.sr >= bw.rmass * cglob.st
), pkt AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM b6
), pk AS (
  SELECT doc_id, source, shard,
    CAST(coalesce(sum(n_tokens) OVER (
      PARTITION BY source, shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      // 512 AS bin_id,
    n_tokens
  FROM pkt
)"""
  }

  /** [[clusterCtesSql]] + the membership projection — the oracle for
    * the `doc_*_clusters` queries.
    */
  private def clusterMembershipSql(pairSel: String,
                                   rounds: Int = 9): String =
    clusterCtesSql(pairSel, rounds) + """
SELECT id AS doc_id, comp AS cluster_id,
  count(*) OVER (PARTITION BY comp) AS cluster_size
FROM ccm ORDER BY doc_id"""

  /** Per-doc Gopher signal CTEs over source relation `src` — the
    * DuckDB replica of TextOps.gopherQuality's counting layer. Ends
    * with `gq_m` (the integer signal table: n_words, sum_word_len,
    * n_alpha_words, n_symbols, n_lines, n_bullet_lines,
    * n_ellipsis_lines, n_ngrams, n_distinct_ngrams) and `gq`
    * (doc_id, n_words, gopher_pass — the integer-exact pass rule).
    * Shared by the doc_quality_gopher oracle and the cluster-best
    * survivor replay so the pass rule cannot diverge between rows.
    */
  private def gopherCtesSql(src: String, p: String = "gq"): String =
    s"""${p}_t AS MATERIALIZED (
  SELECT doc_id,
    string_split_regex(trim(text), '\\s+') AS toks,
    string_split(text, chr(10)) AS lns,
    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
      + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT) AS n_symbols
  FROM $src
), ${p}_g AS (
  SELECT doc_id, toks, lns, n_symbols,
    list_transform(range(len(toks) - 2),
      i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]) AS gs
  FROM ${p}_t
), ${p}_m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_word_len,
    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
    n_symbols,
    CAST(len(lns) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet_lines,
    CAST(len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT) AS n_ellipsis_lines,
    CAST(len(gs) AS BIGINT) AS n_ngrams,
    CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_ngrams
  FROM ${p}_g
), $p AS (
  SELECT doc_id, n_words,
    (n_words >= 50 AND n_words <= 100000
      AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
      AND 10 * n_symbols <= n_words
      AND 10 * n_bullet_lines <= 9 * n_lines
      AND 10 * n_ellipsis_lines <= 3 * n_lines
      AND 5 * n_alpha_words >= 4 * n_words) AS gopher_pass
  FROM ${p}_m
)"""

  /** Parity-budget scope for the quadratic pair-fixture families
    * (jaccard/minhash pairs, clusters, dedup-apply): the FULL corpus
    * at the sf0.01 correctness gate, every [[ScopeMod]]-th doc once
    * the corpus exceeds [[ScopeThreshold]]. Candidate/pair volume on
    * the template-heavy fixture grows ~quadratically with corpus
    * size, and these five oracles dominated the sf0.1 parity wall
    * (~250 of 345 DuckDB seconds, round-4 verdict #9); the operators
    * are corpus-agnostic and keep identical sf0.01 gate coverage.
    * [[ScopedDocsSql]] encodes the same rule for the oracle via a
    * corpus-count CASE, so the two sides cannot diverge on scope.
    */
  // defs, not vals: the oracle CTE builders earlier in the object read
  // these during THEIR val initialization — a later val would still be
  // null/0 at that point
  private def ScopeThreshold = 1000L

  private def ScopeMod = 4

  // corpus size memoized per canonical dir: five scoped queries ×
  // several bench runs would otherwise re-scan the corpus to re-learn
  // the same constant. Keyed on the path only (no SparkSession in the
  // key — a session reference would be strongly retained for the
  // process lifetime) and bounded LRU. Fixture dirs are immutable for
  // the life of a process by contract (TESTDATA.md corpora are
  // driver-generated once); a rewrite straddling ScopeThreshold within
  // one process would require dropping the cache.
  private val docsCountCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size() > 64
      })

  /** Planted multi-line corpus for the line-dedup fixture (the
    * documents table is single-line, TESTDATA.md): corpus-wide nav
    * chrome on every doc, a per-source footer, a banner on every
    * third doc, and the unique body + tail line. Built with column
    * expressions only, so the oracle replays the identical
    * construction in SQL — the planted-truth pattern the media legs
    * use. Bounded to doc_id < 300 at every scale factor.
    */
  /** The doc_line_dedup replay (raw line STRINGS as the dedup key —
    * the engine blocks on 64-bit hashes, so the instrument cannot
    * self-confirm), with an optional final restriction: the
    * incremental row replays the full recompute restricted to the
    * batch docs.
    */
  private def lineDedupOracleSql(finalWhere: String): String =
    s"""WITH pl AS (
  SELECT doc_id,
    'NAV MENU HOME' || chr(10) || text || chr(10) ||
    '(c) site ' || source || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN 'subscribe now'
         ELSE 'u' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents WHERE doc_id < 300
), lr AS MATERIALIZED (
  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
      i -> {'pos': i, 'line': ls[i]})) AS u
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pl))
), hot AS (
  SELECT line FROM lr GROUP BY line HAVING count(*) >= 5
), kept AS (
  SELECT doc_id, pos, line FROM lr
  WHERE line NOT IN (SELECT line FROM hot)
), stats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lr GROUP BY doc_id
), kt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(line, chr(10) ORDER BY pos) AS text_deduped
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id, s.n_lines,
  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
  coalesce(k.text_deduped, '') AS text_deduped
FROM stats s LEFT JOIN kt k USING (doc_id) $finalWhere ORDER BY doc_id"""

  private[graft] def plantedLineDocs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 300)
      .select(col("doc_id"), col("source"), concat_ws("\n",
        lit("NAV MENU HOME"),
        col("text"),
        concat(lit("(c) site "), col("source")),
        when(col("doc_id") % 3 === 0, lit("subscribe now"))
          .otherwise(concat(lit("u"), col("doc_id").cast("string"))))
        .as("text"))

  private def scopedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val key = new java.io.File(d).getCanonicalPath
    val n = docsCountCache.computeIfAbsent(key, _ => docs.count())
    if (n > ScopeThreshold)
      docs.filter(col("doc_id") % ScopeMod === 0)
    else docs
  }

  private def ScopedDocsSql: String =
    s"""(SELECT * FROM documents
  WHERE doc_id % (CASE WHEN (SELECT count(*) FROM documents) > $ScopeThreshold
                       THEN $ScopeMod ELSE 1 END) = 0)"""

  private val decontamOracleSql: String = {
    val g8 = (1 to 8).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
    list_distinct(list_transform(range(len(t) - 7), i -> $g8)) AS gs
  FROM tok
), hashed AS (
  SELECT doc_id, list_distinct(list_transform(gs, g ->
    CAST(('0x' || substr(md5('0:' || g), 1, 15)) AS BIGINT))) AS hs
  FROM grams
), bench AS (
  SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 29 = 0
), train AS (
  SELECT doc_id, len(hs) AS n_ngrams, unnest(hs) AS h
  FROM hashed WHERE doc_id % 29 <> 0
)
SELECT doc_id, count(*) AS matched_ngrams,
  CAST(min(n_ngrams) AS BIGINT) AS n_ngrams,
  round(CAST(count(*) AS DOUBLE) / greatest(min(n_ngrams), 1), 4)
    AS contamination_rate
FROM train WHERE h IN (SELECT h FROM bench)
GROUP BY doc_id ORDER BY doc_id"""
  }

  private val decontamNormalizedOracleSql: String = {
    val g13 = (1 to 13).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH tok AS (
  SELECT doc_id, string_split_regex(
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
    '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
    list_distinct(list_transform(range(len(t) - 12), i -> $g13)) AS gs
  FROM tok
), hashed AS (
  SELECT doc_id, list_distinct(list_transform(gs, g ->
    CAST(('0x' || substr(md5('0:' || g), 1, 15)) AS BIGINT))) AS hs
  FROM grams
), bench AS (
  SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 29 = 0
), train AS (
  SELECT doc_id, len(hs) AS n_ngrams, unnest(hs) AS h
  FROM hashed WHERE doc_id % 29 <> 0
)
SELECT doc_id, count(*) AS matched_ngrams,
  CAST(min(n_ngrams) AS BIGINT) AS n_ngrams,
  round(CAST(count(*) AS DOUBLE) / greatest(min(n_ngrams), 1), 4)
    AS contamination_rate
FROM train WHERE h IN (SELECT h FROM bench)
GROUP BY doc_id ORDER BY doc_id"""
  }

  private val decontamMatrixOracleSql: String = {
    val g8 = (1 to 8).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
    list_distinct(list_transform(range(len(t) - 7), i -> $g8)) AS gs
  FROM tok
), hashed AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(gs, g ->
    CAST(('0x' || substr(md5('0:' || g), 1, 15)) AS BIGINT))) AS hs
  FROM grams
), bdim AS (
  SELECT DISTINCT 'b29' AS bench, unnest(hs) AS h FROM hashed
  WHERE doc_id % 29 = 0
  UNION ALL
  SELECT DISTINCT 'b31' AS bench, unnest(hs) AS h FROM hashed
  WHERE doc_id % 31 = 0
), train AS (
  SELECT doc_id, len(hs) AS n_ngrams, unnest(hs) AS h
  FROM hashed WHERE doc_id % 29 <> 0 AND doc_id % 31 <> 0
)
SELECT t.doc_id, b.bench, count(*) AS matched_ngrams,
  CAST(min(t.n_ngrams) AS BIGINT) AS n_ngrams,
  round(CAST(count(*) AS DOUBLE) / greatest(min(t.n_ngrams), 1), 4)
    AS contamination_rate
FROM train t JOIN bdim b USING (h)
GROUP BY t.doc_id, b.bench ORDER BY t.doc_id, b.bench"""
  }

  private def removeDupSpansOracle(finalFilter: String): String = {
      val g10 = (1 to 10).map(j => s"t[i + $j]").mkString(" || ' ' || ")
      s"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pos AS MATERIALIZED (
  SELECT doc_id,
    unnest(range(len(t) - 9)) AS i,
    unnest(list_transform(range(len(t) - 9), i ->
      CAST(('0x' || substr(md5('0:' || $g10), 1, 15)) AS BIGINT))) AS h
  FROM tok WHERE len(t) >= 10
), dup AS (
  SELECT h FROM pos GROUP BY h HAVING count(*) >= 2
), ds AS MATERIALIZED (
  SELECT doc_id, i FROM pos WHERE h IN (SELECT h FROM dup)
), u AS (
  SELECT doc_id, unnest(t) AS w,
    unnest(generate_series(1, len(t))) AS j
  FROM tok
), kept AS (
  SELECT u.doc_id, u.j, u.w FROM u
  WHERE NOT EXISTS (SELECT 1 FROM ds
    WHERE ds.doc_id = u.doc_id AND ds.i + 1 <= u.j AND u.j <= ds.i + 10)
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(w, ' ' ORDER BY j) AS txt
  FROM kept GROUP BY doc_id
)
SELECT t0.doc_id, CAST(t0.n_tokens AS BIGINT) AS n_tokens,
  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
  md5(coalesce(a.txt, '')) AS deduped_md5
FROM (SELECT doc_id, len(t) AS n_tokens FROM tok) t0
LEFT JOIN agg a USING (doc_id)
${finalFilter}ORDER BY t0.doc_id"""
  }

  private lazy val splitLeakageOracle: String = {
      val g10 = (1 to 10).map(j => s"t[i + $j]").mkString(" || ' ' || ")
      val hKey = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
      val tVal = Sampling.thresholdFor(0.05)
      val tTest = tVal + Sampling.thresholdFor(0.05)
      s"""WITH sp AS (
  SELECT doc_id, text,
    CASE WHEN $hKey < $tVal THEN 'val'
         WHEN $hKey < $tTest THEN 'test'
         ELSE 'train' END AS split
  FROM documents
), tok AS (
  SELECT doc_id, split, string_split_regex(trim(text), '\\s+') AS t
  FROM sp
), pos AS MATERIALIZED (
  SELECT doc_id, split, len(t) - 9 AS n_windows,
    unnest(list_transform(range(len(t) - 9), i ->
      CAST(('0x' || substr(md5('0:' || $g10), 1, 15)) AS BIGINT))) AS h
  FROM tok WHERE len(t) >= 10
), bdh AS MATERIALIZED (
  SELECT doc_id, split, h, count(*) AS c, min(n_windows) AS n_windows
  FROM pos GROUP BY doc_id, split, h
), trainh AS (
  SELECT DISTINCT h FROM bdh WHERE split = 'train'
), hold AS (
  SELECT * FROM bdh WHERE split <> 'train'
), leak AS (
  SELECT doc_id, sum(c) AS lw
  FROM hold WHERE h IN (SELECT h FROM trainh) GROUP BY doc_id
), perdoc AS (
  SELECT doc_id, split, min(n_windows) AS n_windows
  FROM hold GROUP BY doc_id, split
)
SELECT p.doc_id, p.split,
  CAST(coalesce(l.lw, 0) AS BIGINT) AS leaked_windows,
  CAST(p.n_windows AS BIGINT) AS n_windows,
  round(coalesce(l.lw, 0) / CAST(p.n_windows AS DOUBLE), 4)
    AS leak_fraction
FROM perdoc p LEFT JOIN leak l USING (doc_id) ORDER BY p.doc_id"""
  }

  val rows: Seq[Row] = Seq(
    Row("doc_dedup_exact", (s, d) =>
      Dedup.exactDupGroups(Tables.documents(s, d)),
      """SELECT doc_id, md5(text) AS digest,
  count(*) OVER (PARTITION BY md5(text)) AS dup_count,
  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS is_canonical
FROM documents ORDER BY doc_id"""),
    Row("doc_dedup_fingerprint", (s, d) =>
      Dedup.fingerprintDupGroups(Tables.documents(s, d)),
      """WITH f AS (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents
)
SELECT doc_id, fp,
  count(*) OVER (PARTITION BY fp) AS dup_count,
  min(doc_id) OVER (PARTITION BY fp) AS canonical_id
FROM f ORDER BY doc_id"""),
    // scopedDocs: parity-budget corpus scope (full at sf0.01 gate)
    Row("doc_jaccard_pairs", (s, d) =>
      Dedup.jaccardNearDups(scopedDocs(s, d),
        hashFn = Dedup.md5Seeded),
      (s"WITH $JaccardPairsCtes\n" +
      """SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.3
ORDER BY doc_a, doc_b""")),
    // cluster-representative mode (the 100 TB answer to pair-output
    // density): doc→canonical membership, one row per clustered doc
    Row("doc_jaccard_clusters", (s, d) =>
      Dedup.jaccardClusters(scopedDocs(s, d),
        hashFn = Dedup.md5Seeded),
      // cluster-representative mode: connected components of the pair
      // graph (Dedup.clusterMembership) — output one membership row per
      // clustered doc, not O(m²) pairs
      (s"WITH $JaccardPairsCtes" +
      clusterMembershipSql(
        "SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.3"))),
    // benchmark decontamination: training docs sharing any 8-gram with
    // the (broadcast) eval slice — doc_id % 29 plays the benchmark set
    // (wide enough that template near-dups cross the split)
    Row("doc_decontam", (s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.contamination(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        n = 8, hashFn = Dedup.md5Seeded)
    },
      decontamOracleSql),
    // the whole eval battery in ONE corpus pass: every suite's gram
    // set tags its rows, the union dim broadcasts, the corpus
    // shingles once — K suites no longer cost K corpus scans
    Row("doc_decontam_matrix", (s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.contaminationMatrix(
        docs.filter(col("doc_id") % 29 =!= 0 && col("doc_id") % 31 =!= 0),
        Seq(
          "b29" -> docs.filter(col("doc_id") % 29 === 0),
          "b31" -> docs.filter(col("doc_id") % 31 === 0)),
        n = 8, hashFn = Dedup.md5Seeded)
    },
      // the K-suite matrix: suite-tagged gram dims unioned, the corpus
      // gram stream shingled once and inner-joined
      decontamMatrixOracleSql),
    // the GPT-3 App. C form: the 13-gram overlap filter over
    // lowercased, punctuation-stripped text (normalizeForOverlap on
    // BOTH sides) — typography cannot hide a leak
    Row("doc_decontam_normalized", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("text", TextOps.normalizeForOverlap(col("text")))
      TextOps.contamination(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        n = 13, hashFn = Dedup.md5Seeded)
    },
      decontamNormalizedOracleSql),
    // the durable gram index: the train split's (doc, gram-hash)
    // postings at rest; a NEW benchmark screens with no corpus
    // re-shingle — probe ≡ one-shot by construction, so the
    // doc_decontam oracle string locks the index end-to-end
    Row("doc_decontam_indexed", (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = TextOps.ensureGramIndex(s, s"$d/documents.parquet",
        docs.filter(col("doc_id") % 29 =!= 0), n = 8,
        hashFn = Dedup.md5Seeded, kind = "gram-train29")
      TextOps.contaminationIndexed(s, idx,
        docs.filter(col("doc_id") % 29 === 0))
    },
      // the durable gram index probes replay the one-shot semantics
      // exactly, so the same oracle strings lock them
      decontamOracleSql),
    // the whole eval battery against the same at-rest postings:
    // suite dims union, buckets prune, one probe
    Row("doc_decontam_matrix_indexed", (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = TextOps.ensureGramIndex(s, s"$d/documents.parquet",
        docs.filter(col("doc_id") % 29 =!= 0 && col("doc_id") % 31 =!= 0),
        n = 8, hashFn = Dedup.md5Seeded, kind = "gram-train29x31")
      TextOps.contaminationMatrixIndexed(s, idx,
        Seq(
          "b29" -> docs.filter(col("doc_id") % 29 === 0),
          "b31" -> docs.filter(col("doc_id") % 31 === 0)))
    },
      decontamMatrixOracleSql),
    // exact duplicated-substring mass (Lee et al. 2021 ExactSubstr):
    // 10-token windows occurring >= 2 times corpus-wide, counted per
    // position per doc — the removal-mass dial, linear in tokens
    Row("doc_substring_dupes", (s, d) =>
      TextOps.duplicateSpans(Tables.documents(s, d), n = 10,
        hashFn = Dedup.md5Seeded),
      {
        val g10 = (1 to 10).map(j => s"t[i + $j]").mkString(" || ' ' || ")
        s"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pos AS MATERIALIZED (
  SELECT doc_id, len(t) - 9 AS n_windows,
    unnest(list_transform(range(len(t) - 9), i ->
      CAST(('0x' || substr(md5('0:' || $g10), 1, 15)) AS BIGINT))) AS h
  FROM tok WHERE len(t) >= 10
), bdh AS MATERIALIZED (
  SELECT doc_id, h, count(*) AS c, min(n_windows) AS n_windows
  FROM pos GROUP BY doc_id, h
), dup AS (
  SELECT h FROM bdh GROUP BY h HAVING sum(c) >= 2
), dupc AS (
  SELECT doc_id, sum(c) AS dup_windows
  FROM bdh WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
), perdoc AS (
  SELECT doc_id, min(n_windows) AS n_windows FROM bdh GROUP BY doc_id
)
SELECT p.doc_id,
  CAST(coalesce(d.dup_windows, 0) AS BIGINT) AS dup_windows,
  CAST(p.n_windows AS BIGINT) AS n_windows,
  round(coalesce(d.dup_windows, 0) / CAST(p.n_windows AS DOUBLE), 4)
    AS dup_fraction
FROM perdoc p LEFT JOIN dupc d USING (doc_id) ORDER BY p.doc_id"""
      }),
    // the APPLY step of the same pipeline: tokens covered by a
    // corpus-duplicated 10-token window are cut and the survivors
    // reassemble in order; md5 of the rewritten text crosses the
    // compare, not the text
    Row("doc_remove_dup_spans", (s, d) =>
      TextOps.removeDuplicateSpans(Tables.documents(s, d), n = 10,
        hashFn = Dedup.md5Seeded),
      // the APPLY step: 0-based duplicated window starts i cover
      // 1-based token positions i+1..i+10; uncovered tokens reassemble
      // in order and the md5 crosses the compare. Docs shorter than a
      // window (and fully-covered docs) surface via the LEFT JOIN. The
      // incremental (merged-dim) form equals the full recompute
      // restricted to the batch, so its oracle is the same chain with
      // the batch predicate on the final select only — window counts
      // stay corpus-wide.
      removeDupSpansOracle("")),
    // incremental span cut: the corpus contributes through its
    // persisted mergeable window dim; only the batch is scanned, and
    // the merged dim makes the rewrite equal the full recompute
    // restricted to the batch
    Row("doc_remove_spans_novel", (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val batch = docs.filter(col("doc_id") % 7 === 0)
      val merged = TextOps.mergeDim(
        TextOps.windowDim(corpus, n = 10, hashFn = Dedup.md5Seeded),
        TextOps.windowDim(batch, n = 10, hashFn = Dedup.md5Seeded),
        key = "h")
      TextOps.removeDuplicateSpansWithDim(batch, merged, n = 10,
        hashFn = Dedup.md5Seeded)
    },
      removeDupSpansOracle("WHERE t0.doc_id % 7 = 0 ")),
    // train/holdout split-leakage audit: 10-token windows of val/test
    // docs contained in the train window-hash set (5%/5% splits so
    // the holdout is non-degenerate at sf0.01)
    Row("doc_split_leakage", (s, d) =>
      TextOps.splitLeakage(Tables.documents(s, d), n = 10,
        valFrac = 0.05, testFrac = 0.05, hashFn = Dedup.md5Seeded),
      splitLeakageOracle),
    // the 100 TB form of the same audit: holdout window hashes bloom,
    // the train side prunes at the scan on might_contain, the exact
    // semi-join runs over survivors only — equal by construction, so
    // it shares the exact form's oracle
    Row("doc_split_leakage_bloom", (s, d) =>
      TextOps.splitLeakageBloom(Tables.documents(s, d), n = 10,
        valFrac = 0.05, testFrac = 0.05, hashFn = Dedup.md5Seeded),
      // split-leakage: the substring-window CTE chain with a split
      // CASE up front; holdout windows semi-checked against the
      // distinct train window-hash set. The bloom form is exactly
      // equal (the sketch only prunes the train scan), so both keys
      // share one oracle
      splitLeakageOracle),
    // line-level boilerplate dedup (RefinedWeb): the fixture corpus
    // has no newlines, so — the media-leg pattern — a planted
    // multi-line corpus is built deterministically from the documents
    // table (corpus-wide nav chrome, per-source footers, a periodic
    // banner, unique body/tail lines) and run through the REAL
    // operator; the oracle replays the same construction with raw
    // line strings, so the engine's hash blocking is instrument-
    // independent of the check
    Row("doc_line_dedup", (s, d) =>
      TextOps.dedupLines(plantedLineDocs(Tables.documents(s, d)),
        minDf = 5),
      // raw line STRINGS are the oracle's dedup key — the engine blocks
      // on 64-bit hashes, so the instrument cannot self-confirm
      lineDedupOracleSql("")),
    // incremental line dedup (round-7 verdict #4): the corpus
    // contributes through its PERSISTED mergeable line-df dim; only
    // the batch is scanned, and the merged dim makes the result equal
    // the full recompute restricted to the batch
    Row("doc_line_dedup_novel", (s, d) => {
      val pl = plantedLineDocs(Tables.documents(s, d))
      val corpus = pl.filter(col("doc_id") % 7 =!= 0)
      val batch = pl.filter(col("doc_id") % 7 === 0)
      val merged = TextOps.mergeDim(TextOps.lineDfDim(corpus),
        TextOps.lineDfDim(batch), key = "h")
      TextOps.dedupLinesWithDim(batch, merged, minDf = 5)
    },
      // the incremental form replayed as the FULL recompute restricted
      // to the batch docs — the mergeDim contract (dim(a ∪ b) =
      // merge(dim(a), dim(b)), exactly) is what makes them equal
      lineDedupOracleSql("WHERE s.doc_id % 7 = 0")),
    // END-TO-END curation funnel (round-6 verdict #6): quality gate →
    // line dedup → minhash best-in-cluster dedup → decontamination →
    // DSIR-weighted sampling → packing composed as ONE query over the
    // planted multi-line corpus; emits the per-stage (n_docs,
    // n_tokens) funnel a pipeline owner monitors. Proves the operator
    // battery COMPOSES (lineage, column contracts), not only runs solo.
    Row("doc_curation_e2e", (s, d) =>
      graft.operators.Curation.funnel(
        plantedLineDocs(Tables.documents(s, d))),
      curationE2eOracleSql),
    // the funnel's drill-down: per raw doc, the FIRST curation stage
    // that dropped it (or 'kept') — the audit table a pipeline owner
    // opens when a source's yield drops; attribution rides slim
    // id-only left joins over the shared stage lineage
    Row("doc_reject_reason", (s, d) =>
      graft.operators.Curation.rejectReasons(
        plantedLineDocs(Tables.documents(s, d))),
      curationRejectOracleSql),
    // the DAILY-RUN form (round-7 verdict #6): a batch (doc_id % 7)
    // curated against persisted corpus state — merged line/bigram
    // dims, corpus-seniority cross dedup via the minhash novel leg,
    // merged decontam grams, DSIR vs the corpus aggregate ratio
    Row("doc_curation_novel", (s, d) => {
      val pl = plantedLineDocs(Tables.documents(s, d))
      val corpus = pl.filter(col("doc_id") % 7 =!= 0)
      val batch = pl.filter(col("doc_id") % 7 === 0)
      graft.operators.Curation.incrementalFunnel(batch,
        graft.operators.Curation.stateOf(corpus))
    },
      curationNovelOracleSql),
    // the composed nightly job's BATCH FACE (curate → featurize —
    // what Curation.startCorpusMaintenance derives per micro-batch
    // before its transactional index append): the curated product's
    // identity + packing coordinates joined to its hash-embed
    // integer profile. Same oracle CTE chain as doc_curation_novel
    // (parameterized batch remainder), so the two rows cannot drift;
    // remainder 2 because that batch slice survives the DSIR stage
    // NON-degenerately at BOTH sf0.01 (19 docs) and sf0.1 (31) —
    // slice 0's sf0.1 batch is entirely DSIR-dropped, a valid funnel
    // value but a vacuous batch face
    Row("doc_maintain_batch", (s, d) => {
      val pl = plantedLineDocs(Tables.documents(s, d))
      val corpus = pl.filter(col("doc_id") % 7 =!= 2)
      val batch = pl.filter(col("doc_id") % 7 === 2)
      val product = graft.operators.Curation.curateIncremental(batch,
        graft.operators.Curation.stateOf(corpus))
      product.select(col("doc_id"), col("shard"), col("bin_id"))
        .join(TextOps.hashEmbedProfile(product), Seq("doc_id"))
        .select(col("doc_id"), col("shard"), col("bin_id"),
          col("n_tokens"), col("nnz"), col("norm_sq"),
          col("top_bucket"), col("top_count"))
        .orderBy(col("doc_id"))
    },
      maintainBatchOracleSql),
    // incremental-ingest dedup: bloom the "new batch" (doc_id % 5 = 0),
    // scan the reference corpus with the codegen'd might_contain
    // predicate, exact-verify survivors with an anti-join — result is
    // exactly the anti-join (the oracle), the sketch only prunes
    Row("doc_bloom_novel", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.bloomNovel(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    },
      """SELECT b.doc_id, b.source FROM documents b
WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
  SELECT 1 FROM documents r
  WHERE r.doc_id % 5 <> 0 AND r.text = b.text)
ORDER BY doc_id"""),
    // incremental NEAR-dup ingest (round-6 verdict #4): batch = every
    // 5th scoped doc, corpus = the rest; same minhash+LSH semantics
    // as doc_minhash_neardups (portable md5 family, jaccard verify),
    // but the corpus is only ever scanned — band keys scan-local
    // (native MinHashBandKeys), bloom-of-batch-keys prune, broadcast
    // equi-join band check, exact verify — no corpus-side shuffle
    Row("doc_minhash_novel", (s, d) => {
      val docs = scopedDocs(s, d)
      Dedup.minhashNovel(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        threshold = 0.3)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    },
      // incremental minhash near-dup ingest: the engine's bloom prune +
      // broadcast band join is candidate generation only — the checked
      // semantics are "batch docs with no band-colliding corpus doc at
      // jaccard ≥ 0.3", stated here as the cross-pair restriction of
      // the SAME banded pipeline the doc_minhash_neardups oracle replays
      (s"WITH ${minhashPairsCtes(s"$ScopedDocsSql sdocs")}\n" +
        s"""SELECT b.doc_id, b.source FROM $ScopedDocsSql b
WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
  SELECT 1 FROM j
  WHERE j.jaccard >= 0.3 AND (
    (j.doc_a = b.doc_id AND j.doc_b % 5 <> 0) OR
    (j.doc_b = b.doc_id AND j.doc_a % 5 <> 0)))
ORDER BY doc_id""")),
    // the simhash leg of incremental ingest: same split, Hamming-band
    // semantics (portable md5 sketch via the scan-local native
    // Md5SimHash60, collision-free composite band keys, bloom prune,
    // exact Hamming verify) — runs over the FULL documents table like
    // doc_simhash_neardups (banding is linear, no quadratic fixture)
    Row("doc_simhash_novel", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.simhashNovel(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    },
      // simhash incremental ingest: cross-pair restriction of the SAME
      // banded Hamming pipeline doc_simhash_neardups replays
      (s"WITH $SimhashPairsCtes\n" +
      """SELECT b.doc_id, b.source FROM documents b
WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
  SELECT 1 FROM pairs p
  WHERE p.hamming <= 3 AND (
    (p.doc_a = b.doc_id AND p.doc_b % 5 <> 0) OR
    (p.doc_b = b.doc_id AND p.doc_a % 5 <> 0)))
ORDER BY doc_id""")),
    // the full Gopher rule battery (word/symbol/line/alpha signals +
    // integer-exact pass flag) rounding out the repetition signal
    Row("doc_quality_gopher", (s, d) =>
      TextOps.gopherQuality(Tables.documents(s, d)),
      (s"WITH ${gopherCtesSql("documents")}" + """
SELECT doc_id, n_words,
  round(CAST(sum_word_len AS DOUBLE) / n_words, 4) AS mean_word_len,
  round(CAST(n_symbols AS DOUBLE) / n_words, 4) AS symbol_word_ratio,
  round(CAST(n_bullet_lines AS DOUBLE) / n_lines, 4) AS bullet_line_frac,
  round(CAST(n_ellipsis_lines AS DOUBLE) / n_lines, 4) AS ellipsis_line_frac,
  round(CAST(n_alpha_words AS DOUBLE) / n_words, 4) AS alpha_word_frac,
  CASE WHEN n_ngrams = 0 THEN 0.0
       ELSE round(1.0 - CAST(n_distinct_ngrams AS DOUBLE) / n_ngrams, 4)
  END AS repetition_ratio,
  (n_words >= 50 AND n_words <= 100000
    AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
    AND 10 * n_symbols <= n_words
    AND 10 * n_bullet_lines <= 9 * n_lines
    AND 10 * n_ellipsis_lines <= 3 * n_lines
    AND 5 * n_alpha_words >= 4 * n_words) AS gopher_pass
FROM gq_m ORDER BY doc_id""")),
    // md5-seeded hash family so the full minhash+LSH+verify pipeline
    // is oracle-replayable (Dedup.md5Seeded; xxSeeded is the
    // engine-only fast path)
    Row("doc_minhash_neardups", (s, d) =>
      Dedup.minhashNearDups(scopedDocs(s, d), threshold = 0.3,
        hashFn = Dedup.md5Seeded),
      (s"WITH ${minhashPairsCtes(s"$ScopedDocsSql sdocs")}\n" +
      """SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3
ORDER BY doc_a, doc_b""")),
    Row("doc_minhash_clusters", (s, d) =>
      Dedup.minhashClusters(scopedDocs(s, d), threshold = 0.3,
        hashFn = Dedup.md5Seeded),
      (s"WITH ${minhashPairsCtes(s"$ScopedDocsSql sdocs")}" +
        clusterMembershipSql(
          "SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3"))),
    // quality-aware survivor per minhash cluster: keep the member the
    // Gopher battery likes best (pass flag, then word count, then min
    // doc_id) — the keep-the-best-copy policy production dedup runs,
    // vs dedupByClusters' arbitrary min-id canonical
    Row("doc_cluster_best", (s, d) => {
      val docs = scopedDocs(s, d)
      Dedup.bestInCluster(docs,
        Dedup.minhashClusters(docs, threshold = 0.3,
          hashFn = Dedup.md5Seeded))
    },
      // minhash cluster membership replay + Gopher pass replay, arg-max
      // by (pass DESC, n_words DESC, doc_id) within each component —
      // the same CTE builders as doc_minhash_clusters and
      // doc_quality_gopher, so neither the clustering nor the pass rule
      // can diverge between rows
      (s"WITH ${minhashPairsCtes(s"$ScopedDocsSql sdocs")}" +
        clusterCtesSql("SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3") +
        s", ${gopherCtesSql(s"$ScopedDocsSql sdocs2")}" + """
SELECT cluster_id, doc_id AS best_doc, n_members, n_pass FROM (
  SELECT c.comp AS cluster_id, c.id AS doc_id,
    row_number() OVER (PARTITION BY c.comp
      ORDER BY q.gopher_pass DESC, q.n_words DESC, c.id) AS rn,
    CAST(count(*) OVER (PARTITION BY c.comp) AS BIGINT) AS n_members,
    CAST(sum(CASE WHEN q.gopher_pass THEN 1 ELSE 0 END)
      OVER (PARTITION BY c.comp) AS BIGINT) AS n_pass
  FROM ccm c JOIN gq q ON q.doc_id = c.id
) WHERE rn = 1 ORDER BY cluster_id""")),
    // the applied dedup: canonical-by-fingerprint minus minhash losers
    Row("doc_dedup_apply", (s, d) =>
      Dedup.dedupedCorpus(scopedDocs(s, d), threshold = 0.3,
        hashFn = Dedup.md5Seeded)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")),
      // the minhash loser pass runs over the post-fingerprint SURVIVORS
      // (Dedup.dedupedCorpus): a doc must not lose to a near-dup the
      // fingerprint stage already removed
      (s"""WITH fp AS (
  SELECT doc_id, source, n_chars, text,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS f
  FROM $ScopedDocsSql sdocs
), canon AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY f) AS m FROM fp
  ) WHERE doc_id = m
), """ + minhashPairsCtes("canon") + """,
losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM j WHERE jaccard >= 0.3
)
SELECT c.doc_id, c.source, c.n_chars FROM canon c
WHERE c.doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY c.doc_id""")),
    // ---- Spark-native sketch: the xxhash64-family SimHash64
    //      expression can't be replayed in DuckDB, so the checkable
    //      surface is the AGREEMENT between the native expression and
    //      the independent in-Spark compositional formulation — the
    //      oracle pins n_agree = n_docs = count(*), so any native/
    //      composed drift flips the hash gate (round-4 verdict #4) ----
    Row("doc_simhash", (s, d) => Tables.documents(s, d)
      .select((Dedup.simhash(col("text")) ===
        Dedup.simhashComposed(col("text"))).as("agree"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("agree"), 1)).as("n_agree")),
      // native-vs-composed agreement: both sides are Spark-computed, the
      // oracle pins the contract (every sketch agrees) — a checked row
      // without a DuckDB xxhash64 replay
      "SELECT count(*) AS n_docs, count(*) AS n_agree FROM documents"),
    // oracle-replayable variant over the md5-seeded 60-bit family
    Row("doc_simhash_portable", (s, d) =>
      Dedup.simhashPortable(Tables.documents(s, d)),
      (s"WITH $SimhashSketchCtes\n" +
      "SELECT doc_id, simhash FROM sk ORDER BY doc_id")),
    // Hamming-band near-dup pairs over the portable sketch (Manku-style
    // blocking — lossless for hamming <= 3 with 4 bands)
    Row("doc_simhash_neardups", (s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d)),
      // Hamming-band blocking (Dedup.simhashNearDups): 4 blocks of 15
      // bits; hamming ≤ 3 forces an identical block (pigeonhole), so
      // candidates join on (band, block value) and verify exactly
      (s"WITH $SimhashPairsCtes\n" +
      """SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
ORDER BY doc_a, doc_b""")),
    Row("doc_simhash_clusters", (s, d) =>
      Dedup.simhashClusters(Tables.documents(s, d)),
      (s"WITH $SimhashPairsCtes" +
      clusterMembershipSql(
        "SELECT doc_a, doc_b FROM pairs WHERE hamming <= 3"))),
    // the cluster-mode apply step: one canonical survivor per simhash
    // component, unclustered docs untouched
    Row("doc_cluster_dedup", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupByClusters(docs, Dedup.simhashClustersRaw(docs))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // CROSS JOIN ccconv: an unconverged CC labeling empties ccm, and a
      // bare NOT IN over an empty set would return the FULL corpus — a
      // plausible-looking wrong answer. The 0-or-1-row convergence
      // sentinel makes that case emit zero rows, as loudly as the
      // membership oracle's own guard (round-4 advisor).
      (s"WITH $SimhashPairsCtes" +
      clusterCtesSql("SELECT doc_a, doc_b FROM pairs WHERE hamming <= 3") +
      """
SELECT d.doc_id, d.source, d.n_chars FROM documents d CROSS JOIN ccconv
WHERE d.doc_id NOT IN (SELECT id FROM ccm WHERE id <> comp)
ORDER BY d.doc_id""")),
  )
}
