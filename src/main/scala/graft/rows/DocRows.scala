package graft.rows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Dedup, Sampling, Similarity, TextOps}
import Prelude._

/** The document rows (`doc_*`) for retrieval, profiling, quality scoring,
  * sampling and mixing, and BPE tokenization. The dedup, decontamination
  * and curation-pipeline rows are in [[DocCurationRows]]. */
object DocRows {

  /** Mixture rates for the stratified-sampling fixture — shared by the
    * Spark query and the generated oracle SQL.
    */
  private val SampleRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  /** Token budgets for the budget-mix fixture (tokens per source,
    * divisible by the 4 shard streams); unlisted sources get mixture
    * weight 0. Sized so every listed source is genuinely cut at
    * sf ≥ 0.01 (each source carries ≳1.1k tokens there).
    */
  private val TokenBudgets: Map[String, Long] =
    Map("src0" -> 1200L, "src1" -> 800L, "src2" -> 400L, "src4" -> 100000L)

  /** Epoch recipe for the data-mixing fixture (epochs per source):
    * a >1 fractional source, a <1 fractional source, an exact-integer
    * source, and an unlisted-source drop — the four recipe shapes.
    */
  private val EpochRecipe: Map[String, Double] =
    Map("src0" -> 2.5, "src1" -> 0.25, "src3" -> 1.0)

  /** DuckDB replica of the document-profile column formulas. */
  private val DocProfileCte: String =
    s""", prof AS (
  SELECT doc_id, lang, n_chars,
    len(string_split_regex(trim(text), '\\s+')) AS ntok_i,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpeish_tokens,
    length(text) AS chars_i,
    len(list_filter(string_split_regex(trim(text), '\\s+'),
      t -> t IN ('the','a','of','and'))) AS stop_i,
    len(list_filter(string_split_regex(trim(text), '\\s+'),
      t -> t IN ('the','a'))) AS stop2_i,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS punct_i,
    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint
  FROM documents
), profq AS (
  SELECT *,
    least(10000, (ntok_i * 10000) // 64) AS q_t1,
    least(10000, (stop_i * 100000) // greatest(ntok_i, 1)) AS q_t2,
    10000 - least(10000, (punct_i * 50000) // greatest(chars_i, 1)) AS q_t3
  FROM prof
)"""

  /** The hybrid-RRF replay — shared verbatim by `doc_hybrid_rrf`
    * (one-shot legs) and `doc_hybrid_indexed` (durable-index legs at
    * nprobe = nlist, where the IVF probe is exact): both stacks feed
    * the same fusion, so ONE oracle string locks both. The CTE body
    * (through the fused frame `f`) is also the exact half of
    * `doc_hybrid_indexed_recall`'s replay.
    */
  private val hybridRrfCtes: String =
    """WITH q AS (
  SELECT doc_id AS query_id,
    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS term
  FROM documents WHERE doc_id IN (0, 1, 2)
), qv AS (SELECT query_id, term FROM q WHERE length(term) > 0),
qt AS (SELECT DISTINCT term FROM qv),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE) AS n_toks
  FROM documents
), toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS dl,
    unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM toks JOIN qt USING (term) GROUP BY 1, 2
), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
lscored AS (
  SELECT qv.query_id, tf.doc_id,
    round(CAST(sum(CAST(
      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      (tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
      (tf + CAST(1.2 AS DOUBLE) *
        (1.0 - CAST(0.75 AS DOUBLE) +
         CAST(0.75 AS DOUBLE) * dl / (n_toks / n_docs)))
    AS DECIMAL(30,10))) AS DOUBLE), 4) AS score
  FROM tf JOIN dfq USING (term) JOIN qv USING (term), stats
  WHERE tf.doc_id != qv.query_id
  GROUP BY 1, 2
), lranked AS (
  SELECT query_id, doc_id,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
  FROM lscored QUALIFY lex_rank <= 5
), et AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents
), ec AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 64 AS bucket,
    count(*) AS cnt
  FROM et GROUP BY doc_id, bucket
), en AS (
  SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS norm_sq FROM ec GROUP BY doc_id
), eq AS (
  SELECT doc_id, bucket, cnt FROM ec WHERE doc_id IN (0, 1, 2)
), edotp AS (
  SELECT eq.doc_id AS query_id, ec.doc_id AS vec_id, sum(eq.cnt * ec.cnt) AS dp
  FROM eq JOIN ec ON ec.bucket = eq.bucket AND ec.doc_id <> eq.doc_id
  GROUP BY 1, 2
), escored AS (
  SELECT d.query_id, d.vec_id,
    round(d.dp / (sqrt(CAST(ne.norm_sq AS DOUBLE))
      * sqrt(CAST(nq.norm_sq AS DOUBLE))), 4) AS cos_sim
  FROM edotp d
  JOIN en ne ON ne.doc_id = d.vec_id
  JOIN en nq ON nq.doc_id = d.query_id
), eranked AS (
  SELECT query_id, vec_id AS doc_id,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS drank
  FROM escored WHERE NOT isnan(cos_sim) QUALIFY drank <= 5
), f AS (
  SELECT COALESCE(l.query_id, r.query_id) AS query_id,
    COALESCE(l.doc_id, r.doc_id) AS doc_id,
    COALESCE(l.lex_rank, 0) AS lex_rank,
    COALESCE(r.drank, 0) AS dense_rank,
    COALESCE(1000000000 // (60 + l.lex_rank), 0) +
      COALESCE(1000000000 // (60 + r.drank), 0) AS rrf_ppb
  FROM lranked l FULL OUTER JOIN eranked r
    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
)"""

  private val hybridRrfOracleSql: String = hybridRrfCtes + """
SELECT query_id,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY rrf_ppb DESC, doc_id) AS BIGINT) AS rank,
  doc_id, lex_rank, dense_rank, rrf_ppb
FROM f QUALIFY rank <= 5 ORDER BY query_id, rank"""

  /** `doc_hybrid_indexed_recall`'s replay: the exact fused top-5
    * (the shared CTE body's `f`) compared against the INDEXED stack
    * at its default nprobe = 2 — the dense leg re-derives the
    * hashed-embedding vectors densely (`hv`), replays the
    * deterministic-Lloyd training of the durable index
    * ([[kmeansAssignCtes]] over `hv`, the emb_ivf_* replay), probes
    * the 2 nearest lists, and fuses with the SAME lexical leg
    * (`lranked`); recall@5 per query is the semi-join count.
    */
  private lazy val hybridRecallOracleSql: String = hybridRrfCtes + s""",
ex AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_ppb DESC, doc_id) AS rank
    FROM f) WHERE rank <= 5
), hvs AS (
  SELECT d.doc_id, r.b, coalesce(ec.cnt, 0) AS cnt
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN range(64) r(b)
  LEFT JOIN ec ON ec.doc_id = d.doc_id AND ec.bucket = r.b
), hv AS (
  SELECT doc_id AS vec_id, list(CAST(cnt AS DOUBLE) ORDER BY b) AS embedding
  FROM hvs GROUP BY doc_id
),
${kmeansAssignCtes("hv", nlist = 16, iters = 3, dim = 64, suffix = "h")},
nnh AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS norm FROM hv
), qph AS (
  SELECT query_id, qe, qnorm, cid FROM (
    SELECT q2.vec_id AS query_id, q2.embedding AS qe, nq.norm AS qnorm,
      c.cid,
      row_number() OVER (PARTITION BY q2.vec_id
        ORDER BY ${sqDistSql("q2.embedding", "c.cent")}, c.cid) AS rn
    FROM hv q2 JOIN nnh nq ON nq.vec_id = q2.vec_id
    CROSS JOIN c3h c
    WHERE q2.vec_id IN (0, 1, 2)
  ) WHERE rn <= 2
), iscored AS (
  SELECT qph.query_id, nnh.vec_id,
    round(${dotSql("nnh.embedding", "qph.qe")} / (nnh.norm * qph.qnorm),
      4) AS cos_sim
  FROM nnh JOIN afh ON afh.vec_id = nnh.vec_id
  JOIN qph ON qph.cid = afh.cid AND nnh.vec_id <> qph.query_id
), iranked AS (
  SELECT query_id, vec_id AS doc_id,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS drank
  FROM iscored WHERE NOT isnan(cos_sim) QUALIFY drank <= 5
), f2 AS (
  SELECT COALESCE(l.query_id, r.query_id) AS query_id,
    COALESCE(l.doc_id, r.doc_id) AS doc_id,
    COALESCE(1000000000 // (60 + l.lex_rank), 0) +
      COALESCE(1000000000 // (60 + r.drank), 0) AS rrf_ppb
  FROM lranked l FULL OUTER JOIN iranked r
    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
), ap AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_ppb DESC, doc_id) AS rank
    FROM f2) WHERE rank <= 5
)
SELECT ex.query_id,
  CAST(count(ap.doc_id) AS BIGINT) AS hits,
  CAST(count(*) AS BIGINT) AS expected,
  round(CAST(count(ap.doc_id) AS DOUBLE) / count(*), 4) AS recall
FROM ex LEFT JOIN ap
  ON ap.query_id = ex.query_id AND ap.doc_id = ex.doc_id
GROUP BY ex.query_id ORDER BY ex.query_id"""

  /** The BM25 ranking replay — shared verbatim by `doc_bm25_topk`
    * (one-shot) and `doc_bm25_indexed` (durable postings probe): the
    * stored index is a pure function of the corpus, so ONE oracle
    * string locks both.
    */
  private val bm25TopkOracleSql: String =
    """WITH q AS (
  SELECT doc_id AS query_id,
    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS term
  FROM documents WHERE doc_id IN (0, 1, 2)
), qv AS (SELECT query_id, term FROM q WHERE length(term) > 0),
qt AS (SELECT DISTINCT term FROM qv),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE) AS n_toks
  FROM documents
), toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS dl,
    unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM toks JOIN qt USING (term) GROUP BY 1, 2
), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT qv.query_id, tf.doc_id, count(*) AS matched_terms,
    round(CAST(sum(CAST(
      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      (tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
      (tf + CAST(1.2 AS DOUBLE) *
        (1.0 - CAST(0.75 AS DOUBLE) +
         CAST(0.75 AS DOUBLE) * dl / (n_toks / n_docs)))
    AS DECIMAL(30,10))) AS DOUBLE), 4) AS score
  FROM tf JOIN dfq USING (term) JOIN qv USING (term), stats
  WHERE tf.doc_id != qv.query_id
  GROUP BY 1, 2
)
SELECT query_id,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
  doc_id, matched_terms, score
FROM scored QUALIFY rank <= 5
ORDER BY query_id, rank"""

  /** DuckDB replay of [[graft.operators.TextOps.trainBpe]]: the
    * weighted word vocab (`v0`), then per merge step s a weighted
    * pair count (`p{s}`), the deterministic argmax (`m{s}`: count
    * desc, lexicographic pair), and the greedy left-to-right
    * non-overlap rewrite stated POSITIONALLY — marked positions,
    * runs of consecutive marks (only possible when tok_l = tok_r),
    * alternate-keep from each run head, then rebuild (`v{s}`).
    * The engine's fold formulation and this positional one are
    * checked equivalent by the DedupSimilaritySpec test "BPE: greedy
    * fold merge ≡ reference greedy". CTEs materialize
    * because each step references its predecessor three times —
    * inlining would re-derive v0 exponentially.
    */
  private def bpeOracleSql(k: Int): String =
    bpeCtes(k) + "\n" +
      (1 to k).map(s =>
        s"SELECT CAST($s AS BIGINT) AS step, tok_l, tok_r, c AS pair_count FROM m$s")
        .mkString("\nUNION ALL\n") + "\nORDER BY step"

  private def bpeStepCte(s: Int): String = {
    val p = s - 1
    s"""
p$s AS (
  SELECT v.toks[u.i] AS tok_l, v.toks[u.i+1] AS tok_r, sum(wc) AS c
  FROM v$p v, unnest(range(1, len(v.toks))) AS u(i)
  GROUP BY 1, 2
),
m$s AS MATERIALIZED (
  SELECT tok_l, tok_r, CAST(c AS BIGINT) AS c FROM p$s
  ORDER BY c DESC, tok_l, tok_r LIMIT 1),
mk$s AS (
  SELECT v.w, u.i
  FROM v$p v, m$s, unnest(range(1, len(v.toks))) AS u(i)
  WHERE v.toks[u.i] = m$s.tok_l AND v.toks[u.i+1] = m$s.tok_r
),
r$s AS MATERIALIZED (
  SELECT w, i FROM (
    SELECT w, i, min(i) OVER (PARTITION BY w, rn) AS rs FROM (
      SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS rn
      FROM mk$s))
  WHERE (i - rs) % 2 = 0
),
pos$s AS (
  SELECT v.w, v.wc, u.i, v.toks[u.i] AS tk
  FROM v$p v, unnest(range(1, len(v.toks)+1)) AS u(i)
),
v$s AS MATERIALIZED (
  SELECT q.w, q.wc, list(q.t ORDER BY q.i) AS toks FROM (
    SELECT p.w, p.wc, p.i,
      CASE WHEN x.i IS NOT NULL THEN (SELECT tok_l || tok_r FROM m$s)
           ELSE p.tk END AS t,
      xp.i AS skip
    FROM pos$s p
    LEFT JOIN r$s x ON x.w = p.w AND x.i = p.i
    LEFT JOIN r$s xp ON xp.w = p.w AND xp.i = p.i - 1
  ) q WHERE q.skip IS NULL
  GROUP BY q.w, q.wc
)"""
  }

  private def bpeCtes(k: Int): String =
    s"""WITH v0 AS MATERIALIZED (
  SELECT w, wc, list_transform(range(1, len(w)+1), i -> w[i]) AS toks FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents) t
    WHERE len(w) > 0 GROUP BY w)
),""" + (1 to k).map(bpeStepCte).mkString(",")

  /** The [[bpeOracleSql]] chain ending in per-doc subword counts
    * under the step-`k` vocab (TextOps.bpeTokenCounts): segmentation
    * is a function of the word, so docs join v{k} on the word.
    */
  private def bpeApplyOracleSql(k: Int): String =
    s"""${bpeCtes(k)}
SELECT d.doc_id, count(*) AS n_words,
  CAST(sum(len(v.toks)) AS BIGINT) AS n_subwords
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents) d
JOIN v$k v ON v.w = d.w
WHERE len(d.w) > 0
GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** The [[bpeOracleSql]] chain ending in per-doc subword-ID
    * sequences (TextOps.bpeEncodeIds): ids are the binary-order rank
    * of the step-k symbol set, per-word id lists assemble on the
    * vocab dim, docs join on the word and flatten by position; the
    * sequence crosses the compare as an md5 of the space-joined ids.
    */
  private def bpeSeqCtes(k: Int): String =
    s"""${bpeCtes(k)},
sym AS (
  SELECT s, CAST(row_number() OVER (ORDER BY s) - 1 AS BIGINT) AS id
  FROM (SELECT DISTINCT unnest(toks) AS s FROM v$k)
),
wid AS MATERIALIZED (
  SELECT q.w, list(q.id ORDER BY q.i) AS ids FROM (
    SELECT v.w, u.i, sym.id
    FROM v$k v, unnest(range(1, len(v.toks)+1)) AS u(i)
    JOIN sym ON sym.s = v.toks[u.i]) q
  GROUP BY q.w
),
docw AS (
  SELECT doc_id, source, u.i AS pos, t[u.i] AS w
  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
        FROM documents) d,
       unnest(range(1, len(t)+1)) AS u(i)
  WHERE len(t[u.i]) > 0
),
seq AS MATERIALIZED (
  SELECT doc_id, min(source) AS source,
    flatten(list(wid.ids ORDER BY docw.pos)) AS ids
  FROM docw JOIN wid ON wid.w = docw.w
  GROUP BY doc_id
)"""

  private def bpeEncodeOracleSql(k: Int): String =
    s"""${bpeSeqCtes(k)}
SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_subwords,
  md5(array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ' '))
    AS ids_md5
FROM seq ORDER BY doc_id"""

  /** The [[bpeSeqCtes]] chain through the pack-stream replay
    * (TextOps.packTokenStream): running subword sums per (source,
    * shard) stream, docs sliced at exact budget boundaries, per-bin
    * ordered flatten — the packed id stream crossed as an md5.
    */
  private def bpePackOracleSql(k: Int, budget: Long,
                               shards: Int): String =
    s"""${bpeSeqCtes(k)},
nseq AS (
  SELECT doc_id, source, doc_id % $shards AS shard, ids, len(ids) AS n
  FROM seq WHERE len(ids) > 0
),
str AS (
  SELECT *, CAST(coalesce(sum(n) OVER (PARTITION BY source, shard
    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    0) AS BIGINT) AS before
  FROM nseq
),
pieces AS (
  SELECT source, shard, u.b AS bin_id, before,
    ids[CAST(greatest(before, u.b*$budget) - before + 1 AS BIGINT) :
        CAST(least(before + n, (u.b+1)*$budget) - before AS BIGINT)]
      AS piece
  FROM str,
    unnest(range(before // $budget, (before + n - 1) // $budget + 1))
      AS u(b)
),
packed AS (
  SELECT source, shard, bin_id, count(*) AS n_docs,
    flatten(list(piece ORDER BY before)) AS ids,
    coalesce(array_to_string(
      list(CAST(before - bin_id * $budget AS VARCHAR) ORDER BY before)
        FILTER (WHERE before >= bin_id * $budget), ' '), '') AS boundaries
  FROM pieces GROUP BY 1, 2, 3
)
SELECT source, CAST(shard AS BIGINT) AS shard,
  CAST(bin_id AS BIGINT) AS bin_id, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(len(ids) AS BIGINT) AS n_ids,
  md5(array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ' '))
    AS ids_md5,
  boundaries
FROM packed ORDER BY source, shard, bin_id"""

  /** DuckDB replica of TextOps.langGuess over precomputed sub-exprs —
    * single-sourced so the three oracles that need language ID cannot
    * drift from each other.
    */
  private def langCaseSql(cjk: String, stop2: String, ntok: String): String =
    s"""CASE WHEN $cjk > 0 THEN 'zh'
       WHEN CAST($stop2 AS DOUBLE) / greatest($ntok, 1) >= 0.04 THEN 'en'
       ELSE 'other' END"""

  /** Planted multilingual corpus for the language-ID oracle: three
    * pseudo-languages derived from the documents text by token
    * suffixing (doc_id % 3: 0 → 'von'-suffixed "de", 1 → unchanged
    * "en", 2 → 'le'-suffixed "fr") — disjoint vocabularies, so the
    * true label is pure id arithmetic while the classifier earns it
    * through real hashing + per-class frequency dims + the exact
    * rational argmax. doc_id < 60 is the labeled training split.
    */
  private[graft] def plantedLangDocs(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    def sfx(suffix: String): Column =
      array_join(transform(toks, t => concat(t, lit(suffix))), " ")
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, sfx("von"))
        .when(col("doc_id") % 3 === 1, col("text"))
        .otherwise(sfx("le")).as("text"))
  }

  val rows: Seq[Row] = Seq(
    Row("doc_tfidf_top_terms", (s, d) =>
      TextOps.tfidfTopTerms(Tables.documents(s, d)),
      """WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
), n AS (SELECT count(*) AS total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
    round(tf.tf * ln(CAST(total AS DOUBLE) / dfq.df), 4) AS score
  FROM tf JOIN dfq USING (term), n
)
SELECT doc_id,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank,
  term, tf, df, score
FROM scored
QUALIFY rank <= 3 ORDER BY doc_id, rank"""),
    // BM25 lexical top-k retrieval (sparse sibling of doc_embed_knn):
    // docs 0..2 as queries, query terms broadcast, one corpus scan,
    // exact-decimal score sum rounded before the CollectTopK tail
    Row("doc_bm25_topk", (s, d) =>
      TextOps.bm25TopK(Tables.documents(s, d), Seq(0L, 1L, 2L)),
      // BM25: identical expression tree (Lucene-shaped idf, k1=1.2,
      // b=0.75 as explicit double casts), per-term doubles summed in
      // exact DECIMAL(30,10), rounded to 4 dp BEFORE ranking
      bm25TopkOracleSql),
    // the durable lexical index: build-once postings/df/stats under a
    // source fingerprint; the probe feeds the stored counts into the
    // SAME rank tail, so it must equal the one-shot ranking (and the
    // oracle is literally the same SQL)
    Row("doc_bm25_indexed", (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = TextOps.ensureBm25Index(s, s"$d/documents.parquet", docs)
      TextOps.bm25SearchIndexed(s, idx,
        docs.filter(col("doc_id").isin(0L, 1L, 2L))
          .select(col("doc_id").as("query_id"), col("text")))
    },
      bm25TopkOracleSql),
    // the production retrieval stack at rest: BM25 postings + IVF
    // over the hashed embeddings, fused by integer-ppb RRF; at
    // nprobe = nlist the probe is exact, so the one-shot oracle
    // string locks the whole stack
    Row("doc_hybrid_indexed", (s, d) => {
      val docs = Tables.documents(s, d)
      val bmIdx = TextOps.ensureBm25Index(s, s"$d/documents.parquet", docs)
      val annIdx = Similarity.ensureIvfIndex(s, s"$d/documents.parquet",
        TextOps.hashEmbedVectors(docs)
          .select(col("vec_id"), col("embedding")))
      TextOps.hybridRrfIndexed(s, bmIdx, annIdx,
        docs.filter(col("doc_id").isin(0L, 1L, 2L))
          .select(col("doc_id").as("query_id"), col("text")),
        nprobe = 16)
    },
      hybridRrfOracleSql),
    // recall pricing of the PRODUCTION configuration: the indexed
    // hybrid stack at its default nprobe = 2 vs the exact one-shot
    // fusion — the speed/recall trade the nprobe dial buys, priced
    // instead of only bounded by the nprobe = nlist exactness row
    Row("doc_hybrid_indexed_recall", (s, d) => {
      val docs = Tables.documents(s, d)
      val bmIdx = TextOps.ensureBm25Index(s, s"$d/documents.parquet", docs)
      val annIdx = Similarity.ensureIvfIndex(s, s"$d/documents.parquet",
        TextOps.hashEmbedVectors(docs)
          .select(col("vec_id"), col("embedding")))
      Similarity.recallAtK(
        TextOps.hybridRrfIndexed(s, bmIdx, annIdx,
          docs.filter(col("doc_id").isin(0L, 1L, 2L))
            .select(col("doc_id").as("query_id"), col("text")))
          .select(col("query_id"), col("doc_id").as("vec_id")),
        TextOps.hybridRrfTopK(docs, Seq(0L, 1L, 2L))
          .select(col("query_id"), col("doc_id").as("vec_id")))
    },
      hybridRecallOracleSql),
    // token-run collapse (stutter cleanup): scan-local array
    // expressions, no explode/shuffle; md5 of the collapsed text
    // makes the repair byte-checkable without hauling bodies
    Row("doc_run_collapse", (s, d) =>
      TextOps.collapseTokenRuns(Tables.documents(s, d)),
      // token-run collapse: lag-window replay of the engine's
      // predecessor-element array filter; md5 over the space-rejoined
      // kept tokens is byte-exact on both engines
      """WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
), u AS (
  SELECT doc_id, len(l) AS n_tokens, unnest(l) AS w,
    unnest(generate_series(1, len(l))) AS i
  FROM d
), m AS (
  SELECT doc_id, n_tokens, i, w,
    lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS p
  FROM u
), k AS (SELECT doc_id, n_tokens, i, w FROM m WHERE p IS NULL OR w <> p)
SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_kept,
  md5(string_agg(w, ' ' ORDER BY i)) AS collapsed_md5
FROM k GROUP BY doc_id ORDER BY doc_id"""),
    // hybrid retrieval: RRF fusion of the BM25 lexical top-5 and the
    // hashed-embedding cosine top-5 — integer parts-per-billion RRF
    // terms, so the fused score is an exact BIGINT on both engines
    Row("doc_hybrid_rrf", (s, d) =>
      TextOps.hybridRrfTopK(Tables.documents(s, d), Seq(0L, 1L, 2L)),
      // hybrid RRF: the BM25 chain (l-prefixed) and the hashed-embed
      // cosine chain (e-prefixed) each ranked to top-5, full-outer
      // fused on (query_id, doc_id); RRF terms are integer
      // parts-per-billion (1e9 // (60+rank)) so the fused score is an
      // exact BIGINT sum — no float summation anywhere in the fusion
      hybridRrfOracleSql),
    // hashed-unigram document embedding (feature-hashing seam for an
    // external encoder): integer-exact per-doc profile
    Row("doc_hash_embed", (s, d) =>
      TextOps.hashEmbedProfile(Tables.documents(s, d)),
      // hashed-unigram embedding profile: all-integer replay (counts,
      // nnz, norm², dominant bucket) — no float tolerance anywhere
      s"""WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), c AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 64 AS bucket,
    count(*) AS cnt
  FROM t GROUP BY doc_id, bucket
), s AS (
  SELECT doc_id, count(*) AS nnz, CAST(sum(cnt * cnt) AS BIGINT) AS norm_sq
  FROM c GROUP BY doc_id
), top AS (
  SELECT doc_id, bucket AS top_bucket, cnt AS top_count,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bucket) AS rn
  FROM c
)
SELECT d.doc_id,
  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens,
  s.nnz, s.norm_sq, t2.top_bucket, t2.top_count
FROM documents d JOIN s USING (doc_id)
JOIN top t2 ON t2.doc_id = d.doc_id AND t2.rn = 1
ORDER BY doc_id"""),
    // text→vector→ANN bridge: cosine top-5 neighbors of 3 query docs
    // over the hashed embeddings (bag-of-words cosine), through the
    // same bounded brute-force path as emb_knn_brute
    Row("doc_embed_knn", (s, d) => {
      val emb = TextOps.hashEmbed(Tables.documents(s, d))
        .select(col("doc_id").as("vec_id"), col("source").as("label"),
          transform(col("counts"), _.cast("float")).as("embedding"))
      Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), k = 5)
    },
      // text→vector→ANN: integer dot products over shared buckets, then
      // the emb_knn_brute ranking tail
      s"""WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), c AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 64 AS bucket,
    count(*) AS cnt
  FROM t GROUP BY doc_id, bucket
), n AS (
  SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS norm_sq FROM c GROUP BY doc_id
), q AS (
  SELECT doc_id, bucket, cnt FROM c WHERE doc_id IN (0, 1, 2)
), dotp AS (
  SELECT q.doc_id AS query_id, c.doc_id AS vec_id, sum(q.cnt * c.cnt) AS dp
  FROM q JOIN c ON c.bucket = q.bucket AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT d.query_id, d.vec_id, l.source AS label,
    round(d.dp / (sqrt(CAST(ne.norm_sq AS DOUBLE))
      * sqrt(CAST(nq.norm_sq AS DOUBLE))), 4) AS cos_sim
  FROM dotp d
  JOIN n ne ON ne.doc_id = d.vec_id
  JOIN n nq ON nq.doc_id = d.query_id
  JOIN documents l ON l.doc_id = d.vec_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
  FROM scored WHERE NOT isnan(cos_sim)
)
SELECT query_id, vec_id, label, cos_sim, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank"""),
    // document clustering (topic-discovery shape): deterministic
    // k-means over the hashed embeddings; docs never shuffle —
    // assignment is scan-local, the shuffle carries (cid, source)
    Row("doc_clusters", (s, d) =>
      TextOps.docClusters(Tables.documents(s, d), nlist = 4, iters = 2),
      // doc clustering: hashed count vectors densified on the bucket
      // grid, then the shared Lloyd replay parameterized over that CTE
      {
        val vecCtes = s"""t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), c AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 64 AS bucket,
    count(*) AS cnt
  FROM t GROUP BY doc_id, bucket
), v AS (
  SELECT d.doc_id AS vec_id, list(COALESCE(c.cnt, 0) ORDER BY g.i) AS embedding
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN range(64) g(i)
  LEFT JOIN c ON c.doc_id = d.doc_id AND c.bucket = g.i
  GROUP BY d.doc_id
)"""
        s"""WITH $vecCtes,
${kmeansAssignCtes("v", 4, 2, 64)},
agg AS (
  SELECT a.cid, d.source, count(*) AS sn, min(a.vec_id) AS mn
  FROM af a JOIN documents d ON d.doc_id = a.vec_id
  GROUP BY 1, 2
), top AS (
  SELECT cid, source, sn,
    row_number() OVER (PARTITION BY cid ORDER BY sn DESC, source DESC) AS rn
  FROM agg
)
SELECT CAST(g.cid AS BIGINT) AS cluster_id, CAST(g.n_docs AS BIGINT) AS n_docs,
  g.min_doc, t2.source AS top_source, t2.sn AS top_source_docs
FROM (SELECT cid, sum(sn) AS n_docs, min(mn) AS min_doc
      FROM agg GROUP BY cid) g
JOIN top t2 ON t2.cid = g.cid AND t2.rn = 1
ORDER BY cluster_id"""
      }),
    Row("doc_top_per_source", (s, d) =>
      // top-1-per-group as a map-side-combinable min_by — source has
      // FEW distinct values, so a window over it would funnel the
      // whole corpus into one task per source (the anti-pattern fixed
      // for the firewall matcher); ordering key (-n_chars, doc_id)
      // picks longest-then-lowest-id like the previous row_number
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(min_by(struct(col("doc_id"), col("n_chars")),
          struct((-col("n_chars")).as("k1"), col("doc_id").as("k2"))).as("m"))
        .select(col("source"), col("m.doc_id").as("doc_id"),
          col("m.n_chars").as("n_chars"))
        .orderBy(col("source")),
      """SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn = 1 ORDER BY source"""),
    // ---- text analysis / fingerprinting ----
    Row("doc_profile", (s, d) => TextOps.profile(Tables.documents(s, d)),
      ("WITH x AS (SELECT 1)" + DocProfileCte +
      """
SELECT doc_id, lang, n_chars, CAST(ntok_i AS BIGINT) AS n_tokens,
  CAST(bpeish_tokens AS BIGINT) AS bpeish_tokens,
  round((CAST(chars_i AS DOUBLE) - ntok_i + 1.0) / ntok_i, 4) AS avg_token_len,
  round(CAST(stop_i AS DOUBLE) / ntok_i, 4) AS stopword_ratio,
  round(CAST(punct_i AS DOUBLE) / greatest(chars_i, 1), 4) AS punct_ratio,
  CAST(q_t1 * 5 + q_t2 * 3 + q_t3 * 2 AS DOUBLE) / 100000.0 AS quality_score,
  CASE WHEN cjk > 0 THEN 'zh'
       WHEN CAST(stop2_i AS DOUBLE) / greatest(ntok_i, 1) >= 0.04 THEN 'en'
       ELSE 'other' END AS lang_guess,
  fingerprint
FROM profq ORDER BY doc_id""")),
    Row("doc_curation_funnel", (s, d) => {
      // the curation pipeline as stage counts: corpus → language
      // filter → quality filter → near-dup canonicalization
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint"))
      val en = col("lang_guess") === "en"
      val q = col("quality_score") >= 0.75
      TextOps.profile(Tables.documents(s, d))
        .withColumn("is_canonical",
          col("doc_id") === min(col("doc_id")).over(w))
        .agg(count(lit(1)).as("n_total"),
          count(when(en, 1)).as("n_lang"),
          count(when(en && q, 1)).as("n_quality"),
          count(when(en && q && col("is_canonical"), 1)).as("n_kept"))
    },
      ("WITH x AS (SELECT 1)" + DocProfileCte +
      s"""
, lg AS (
  SELECT doc_id, fingerprint,
    CAST(q_t1 * 5 + q_t2 * 3 + q_t3 * 2 AS DOUBLE) / 100000.0 AS quality,
    ${langCaseSql("cjk", "stop2_i", "ntok_i")} AS lang_guess,
    (doc_id = min(doc_id) OVER (PARTITION BY fingerprint)) AS canon
  FROM profq
)
SELECT count(*) AS n_total,
  count(CASE WHEN lang_guess = 'en' THEN 1 END) AS n_lang,
  count(CASE WHEN lang_guess = 'en' AND quality >= 0.75 THEN 1 END) AS n_quality,
  count(CASE WHEN lang_guess = 'en' AND quality >= 0.75 AND canon THEN 1 END) AS n_kept
FROM lg""")),
    // exact-phrase forensics over the same at-rest postings: the
    // phrase's windows prune candidates index-only, then ONLY
    // candidate docs are read for the exact token-window verify —
    // "which stored docs contain this span" with no corpus scan.
    // The probe phrase is doc 0's own leading 10 tokens (derived,
    // not hard-coded, so every SF is non-degenerate). The derivation
    // is guarded: the oracle hard-codes 10-gram windows, so a fixture
    // with no doc 0 or a doc 0 shorter than 10 tokens must fail with
    // a NAMED error, not throw NoSuchElementException / silently
    // diverge from the oracle's window width.
    Row("doc_phrase_lookup", (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = TextOps.ensureGramIndex(s, s"$d/documents.parquet",
        docs, n = 8, hashFn = Dedup.md5Seeded, kind = "gram-full")
      val head = docs.filter(col("doc_id") === 0L)
        .select(col("text")).limit(1).collect()
      require(head.nonEmpty,
        "doc_phrase_lookup fixture: no doc_id=0 row in documents at " +
          s"$d — the probe phrase derives from doc 0's leading tokens")
      val toks = head(0).getString(0).trim.split("\\s+")
        .filter(_.nonEmpty).take(10)
      require(toks.length == 10,
        s"doc_phrase_lookup fixture: doc 0 has only ${toks.length} " +
          "tokens but the oracle probes exact 10-token windows — " +
          "the fixture needs a >=10-token doc 0")
      TextOps.phraseLookupIndexed(s, idx, docs, toks.mkString(" "))
    },
      // exact-phrase lookup: the phrase is doc 0's leading 10 tokens;
      // occurrences = token positions where the full phrase starts
      {
        val g10 = (1 to 10).map(j => s"t[i + $j]").mkString(" || ' ' || ")
        s"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), p AS (
  SELECT array_to_string(t[1:10], ' ') AS phrase FROM tok WHERE doc_id = 0
), occ AS (
  SELECT doc_id,
    len(list_filter(list_transform(range(len(t) - 9), i -> $g10),
      g -> g = phrase)) AS occurrences
  FROM tok, p WHERE len(t) >= 10
)
SELECT doc_id, CAST(occurrences AS BIGINT) AS occurrences
FROM occ WHERE occurrences > 0 ORDER BY doc_id"""
      }),
    // Gopher-style within-doc n-gram repetition (quality filter)
    Row("doc_repetition", (s, d) =>
      TextOps.repetitionSignals(Tables.documents(s, d)),
      """WITH rt AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
    list_transform(range(len(toks) - 2),
      i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]) AS gs
  FROM rt
)
SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_ngrams,
  CAST(len(list_distinct(gs)) AS BIGINT) AS distinct_ngrams,
  CASE WHEN len(gs) = 0 THEN 0.0
       ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 4)
  END AS repetition_ratio
FROM g ORDER BY doc_id"""),
    // corpus-familiarity score (CCNet-style head/tail dial as an
    // integer-exact frequency proxy — avg corpus-wide occurrence
    // count of each doc's character bigrams, one division at the end)
    Row("doc_familiarity", (s, d) =>
      TextOps.bigramFamiliarity(Tables.documents(s, d)),
      """WITH bg AS (
  SELECT doc_id, unnest(list_transform(range(1, length(text)),
    i -> substr(text, i, 2))) AS b
  FROM documents WHERE length(text) >= 2
), pd AS MATERIALIZED (
  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
), tr AS (
  SELECT b, sum(c) AS tc FROM pd GROUP BY b
)
SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_bigrams,
  round(CAST(sum(p.c * t.tc) AS DOUBLE) / sum(p.c), 4) AS familiarity
FROM pd p JOIN tr t USING (b)
GROUP BY p.doc_id ORDER BY p.doc_id"""),
    // DSIR-style importance weight (Xie et al. 2023): target-vs-raw
    // bigram-mass ratio, integer-exact with one division — the
    // target domain here is a source subset (the "Wikipedia-like
    // target corpus" role), Laplace +1 on target counts
    Row("doc_dsir_weight", (s, d) =>
      TextOps.dsirWeights(Tables.documents(s, d),
        col("source").isin("src0", "src2", "src4")),
      """WITH dbg AS (
  SELECT doc_id, (source IN ('src0', 'src2', 'src4')) AS tgt,
    unnest(list_transform(range(1, length(text)),
      i -> substr(text, i, 2))) AS b
  FROM documents WHERE length(text) >= 2
), dpd AS MATERIALIZED (
  SELECT doc_id, tgt, b, count(*) AS c FROM dbg GROUP BY 1, 2, 3
), draw AS (
  SELECT b, sum(c) AS rc FROM dpd GROUP BY b
), dtg AS (
  SELECT b, sum(c) AS tc FROM dpd WHERE tgt GROUP BY b
)
SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_bigrams,
  round(CAST(sum(CAST(p.c AS HUGEINT) * (coalesce(t.tc, 0) + 1)) AS DOUBLE) /
    CAST(sum(CAST(p.c AS HUGEINT) * r.rc) AS DOUBLE), 6) AS dsir_weight
FROM dpd p JOIN draw r USING (b) LEFT JOIN dtg t USING (b)
GROUP BY p.doc_id ORDER BY p.doc_id"""),
    // GPT-style sequence packing: concat-and-chunk window assignment
    // per sharded pack stream (integer running sum + div/mod)
    Row("doc_pack_bins", (s, d) =>
      TextOps.packSequences(Tables.documents(s, d), budget = 512,
        shards = 4),
      """WITH t AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, shard, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (
      PARTITION BY source, shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS before
  FROM t
)
SELECT doc_id, source, CAST(shard AS BIGINT) AS shard, n_tokens,
  before // 512 AS bin_id, before % 512 AS bin_offset
FROM c ORDER BY doc_id"""),
    // multi-class hashed-feature language ID (the fastText-shaped
    // model langGuess stubs heuristically): per-class bucket
    // frequency dims trained on the labeled split, broadcast; exact
    // rational argmax (cross-multiplied, no float log-likelihood) —
    // the planted pseudo-language truth is recovered by real hashing
    // + frequency arithmetic, and the oracle replays every step
    Row("doc_lang_id", (s, d) => {
      val pd = plantedLangDocs(Tables.documents(s, d))
      val labeled = pd.filter(col("doc_id") < 60)
        .select(when(col("doc_id") % 3 === 0, "de")
          .when(col("doc_id") % 3 === 1, "en")
          .otherwise("fr").as("lang"), col("text"))
      TextOps.langIdLinear(pd.filter(col("doc_id") >= 60), labeled)
    },
      // multi-class language ID: the planted suffix transform, the
      // per-class bucket dims over the doc_id < 60 training split, and
      // the exact rational argmax (HUGEINT cross-products; ties to the
      // lexicographically smallest class; zero-overlap docs → 'und')
      s"""WITH tl AS MATERIALIZED (
  SELECT doc_id, list_transform(string_split_regex(trim(text), '\\s+'),
    t -> t || CASE WHEN doc_id % 3 = 0 THEN 'von'
                   WHEN doc_id % 3 = 2 THEN 'le' ELSE '' END) AS toks
  FROM documents
), ltf AS MATERIALIZED (
  SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'de'
              WHEN 1 THEN 'en' ELSE 'fr' END AS lang,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 4096 AS b,
    count(*) AS ctf
  FROM (SELECT doc_id, unnest(toks) AS w FROM tl WHERE doc_id < 60)
  WHERE length(w) > 0 GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(sum(ctf) AS HUGEINT) AS n FROM ltf GROUP BY lang
), dtf AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 4096 AS b,
    count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS w FROM tl WHERE doc_id >= 60)
  WHERE length(w) > 0 GROUP BY 1, 2
), scn AS MATERIALIZED (
  SELECT s.doc_id, s.lang, s.num, t.n FROM (
    SELECT d.doc_id, l.lang,
      CAST(sum(CAST(d.tf AS HUGEINT) * l.ctf) AS HUGEINT) AS num
    FROM dtf d JOIN ltf l USING (b) GROUP BY 1, 2) s
  JOIN tot t USING (lang)
), win AS (
  SELECT doc_id, lang, num FROM scn s1
  WHERE NOT EXISTS (
    SELECT 1 FROM scn s2 WHERE s2.doc_id = s1.doc_id AND (
      s2.num * s1.n > s1.num * s2.n OR
      (s2.num * s1.n = s1.num * s2.n AND s2.lang < s1.lang)))
)
SELECT d.doc_id,
  CASE WHEN w.lang IS NULL OR w.num = 0 THEN 'und' ELSE w.lang END AS lang
FROM (SELECT DISTINCT doc_id FROM tl WHERE doc_id >= 60) d
LEFT JOIN win w USING (doc_id)
ORDER BY d.doc_id"""),
    // per-source vocabulary: exact distinct-token counts beside the
    // HLL sketch's error-contract flag (the ev_user_reach_approx
    // pattern on the corpus surface) — round-6 advice #1 (unwired)
    Row("doc_source_vocab", (s, d) =>
      TextOps.sourceVocab(Tables.documents(s, d)),
      // the HLL flag is the sketch contract (replayed TRUE), exactly
      // like ev_user_reach_approx
      """WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
)
SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_vocab,
  CAST(count(*) AS BIGINT) AS total_tokens, TRUE AS within_bound
FROM tok GROUP BY source ORDER BY source"""),
    // cross-source contamination matrix: distinct normalized
    // fingerprints shared per source pair, pairs generated from the
    // per-fingerprint source array (no fp-keyed self-join on the
    // engine side) — round-6 advice #2 (unwired). The fixture corpus
    // has no natural cross-source recrawls, so every 31st doc is
    // planted again under a mirrored source label (the planted-truth
    // pattern the media legs use)
    Row("doc_source_overlap", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      val planted = docs.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
          concat(lit("mirror_"), col("source")).as("source"))
      Dedup.sourceOverlap(docs.unionByName(planted))
    },
      // the engine generates pairs from the per-fingerprint source
      // array; the oracle may state the same relation as a plain
      // self-join over the DISTINCT (fp, source) pairs
      """WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'mirror_' || source
  FROM documents WHERE doc_id % 31 = 0
), f AS (
  SELECT DISTINCT
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
    source
  FROM corpus
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS shared_fps
FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2"""),
    // deterministic hash-threshold splits / mixture sampling — the
    // same rows every run, any partitioning, replayed by the oracle
    Row("doc_split_assign", (s, d) =>
      Sampling.withSplit(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id")),
      {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        val tVal = Sampling.thresholdFor(0.01)
        val tTest = tVal + Sampling.thresholdFor(0.01)
        s"""SELECT doc_id, source,
  CASE WHEN $h < $tVal THEN 'val'
       WHEN $h < $tTest THEN 'test'
       ELSE 'train' END AS split
FROM documents ORDER BY doc_id"""
      }),
    Row("doc_sample_mix", (s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "source",
        "doc_id", SampleRates)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        val keep = SampleRates.toSeq.sortBy(_._1).map { case (src, p) =>
          s"(source = '$src' AND $h < ${Sampling.thresholdFor(p)})"
        }.mkString("\n   OR ")
        s"""SELECT doc_id, source FROM documents
WHERE $keep
ORDER BY doc_id"""
      }),
    // mixture weights in TOKEN space: per-source token budgets cut by
    // sharded integer running sums (unlisted sources drop out)
    Row("doc_budget_mix", (s, d) =>
      Sampling.budgetSample(Tables.documents(s, d), TokenBudgets),
      // Sampling.budgetSample(TokenBudgets, shards = 4): per-(source,
      // shard) integer running sum in doc_id order, keep while the
      // inclusive cumulative token count fits the per-shard quota
      {
        val quota = TokenBudgets.toSeq.sortBy(_._1).map { case (src, b) =>
          s"WHEN source = '$src' THEN ${b / 4}"
        }.mkString(" ")
        s"""WITH x AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
    CASE $quota END AS quota
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens, quota,
    COALESCE(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM x WHERE quota IS NOT NULL
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
FROM c WHERE before + n_tokens <= quota ORDER BY doc_id"""
      }),
    // exactly-k-per-source draw: smallest k seeded hashes per stratum
    // via ONE bounded-heap CollectTopK — no window over a stratum
    Row("doc_stratified_k", (s, d) =>
      Sampling.stratifiedK(Tables.documents(s, d), "source", "doc_id",
        k = 7),
      // exactly-k-per-source: row_number over the seeded-hash order
      // replays the bounded-heap pick (ties by doc_id, as the struct
      // lexicographic order breaks them)
      {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        s"""WITH r AS (
  SELECT source, doc_id,
    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id)
      AS pick_rank
  FROM documents
)
SELECT source, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id
FROM r WHERE pick_rank <= 7 ORDER BY source, pick_rank"""
      }),
    // epoch-mix materialization (the training-recipe data-mixing
    // table): floor(w) full copies per doc + a deterministic
    // hash-threshold pick of the fractional epoch; unlisted sources
    // drop
    Row("doc_epoch_mix", (s, d) =>
      Sampling.epochMix(Tables.documents(s, d), EpochRecipe),
      // epoch mix: the recipe dim as VALUES (source, floor, fractional
      // threshold), generate_series for the full copies, the seed-1
      // hash threshold for the fractional epoch
      {
        val h1 = "CAST(('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        val vals = EpochRecipe.toSeq.sortBy(_._1).map { case (src, w) =>
          val full = math.floor(w).toInt
          s"('$src', $full, ${Sampling.thresholdFor(w - full)})"
        }.mkString(", ")
        s"""WITH w(source, nfull, thr) AS (VALUES $vals),
c AS MATERIALIZED (
  SELECT d.source, d.doc_id, w.nfull, w.thr,
    unnest(generate_series(0, w.nfull)) AS epoch
  FROM documents d JOIN w USING (source)
)
SELECT source, doc_id, CAST(epoch AS BIGINT) AS epoch
FROM c
WHERE epoch < nfull OR $h1 < thr
ORDER BY source, doc_id, epoch"""
      }),
    Row("doc_token_budget", (s, d) => Tables.documents(s, d)
      .select(col("source"), TextOps.langGuess(col("text")).as("lang_guess"),
        TextOps.tokenCount(col("text")).as("nt"),
        TextOps.bpeishTokenCount(col("text")).as("bp"))
      .groupBy(col("source"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("bp")).as("bpeish_tokens"))
      .orderBy(col("source"), col("lang_guess")),
      s"""WITH x AS (
  SELECT source,
    ${langCaseSql(
        """length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))""",
        """len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('the','a')))""",
        """len(string_split_regex(trim(text), '\s+'))""")} AS lang_guess,
    len(string_split_regex(trim(text), '\\s+')) AS nt,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bp
  FROM documents
)
SELECT source, lang_guess, count(*) AS n_docs,
  CAST(sum(nt) AS BIGINT) AS n_tokens,
  CAST(sum(bp) AS BIGINT) AS bpeish_tokens
FROM x GROUP BY 1, 2 ORDER BY 1, 2"""),
    // fixed-stride sliding-window chunking (context-window / RAG
    // passage cut): scan-local sequence+posexplode, zero shuffle
    Row("doc_chunks", (s, d) =>
      TextOps.chunkWindows(Tables.documents(s, d)),
      // TextOps.chunkWindows(width = 32, stride = 16): chunk i covers
      // tokens [16i, 16i + 32); starts enumerate 0, 16, … while
      // < n_tokens, tails run short, and the hash is over the re-joined
      // chunk text (md5 of UTF-8 bytes in both engines)
      s"""WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), 16)) AS start_tok FROM t
)
SELECT doc_id, CAST(start_tok // 16 AS BIGINT) AS chunk_idx,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(len(array_slice(toks, start_tok + 1, start_tok + 32)) AS BIGINT) AS chunk_len,
  md5(array_to_string(array_slice(toks, start_tok + 1, start_tok + 32), ' ')) AS chunk_hash
FROM s ORDER BY doc_id, chunk_idx"""),
    // temperature-based mixture sampling (alpha = 1/2, Pile/GPT-3
    // style): per-source keep rate ∝ sqrt(size)/size, expected total
    // = 200 docs; thresholds derive from a fixed IEEE op sequence so
    // both engines compute identical integer cut points
    Row("doc_temp_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      val kept = Sampling.temperatureSample(docs, budgetDocs = 200L)
        .groupBy(col("source")).agg(count(lit(1)).as("kept"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy(col("source"))
    },
      // temperature sampling: the threshold replay is the IDENTICAL
      // IEEE op sequence (sqrt fold over name-sorted sources, the same
      // multiply/divide chain, floor * 2^60) — sqrt is correctly
      // rounded per IEEE 754, so the integer thresholds agree
      // bit-for-bit across engines
      """WITH cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
  GROUP BY source
), ss AS (
  SELECT list_reduce(list_prepend(0.0, list_transform(
    (SELECT list(n ORDER BY source) FROM cnt),
    x -> sqrt(CAST(x AS DOUBLE)))), (a, b) -> a + b) AS ssum
), thr AS (
  SELECT source, n,
    CAST(floor(least(CAST(200 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
      / ss.ssum / CAST(n AS DOUBLE), 1.0)
      * 1152921504606846976.0) AS BIGINT) AS t
  FROM cnt, ss
)
SELECT t.source, t.n,
  CAST(coalesce(sum(CASE
    WHEN CAST(('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
      AS BIGINT) < t.t THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept
FROM thr t LEFT JOIN documents d ON d.source = t.source
GROUP BY t.source, t.n ORDER BY t.source"""),
    // per-source quantile-calibrated keep rule (CCNet-style
    // per-domain thresholding): exact discrete q=1/5 token-count
    // quantile per source, computed on the (source, score) count dim
    // with a cross-multiplied rational rank test — no float
    // interpolation; threshold dim broadcast back for the flags
    Row("doc_quality_quantile", (s, d) =>
      Sampling.quantileCalibrate(Tables.documents(s, d),
        TextOps.tokenCount(col("text")), qNum = 1, qDen = 5),
      // per-source discrete quantile: cumulative counts over the
      // (source, score) dim, rank test cross-multiplied (cum·5 ≥ n·1),
      // threshold = min qualifying score — all integer arithmetic
      """WITH sc AS (
  SELECT doc_id, source,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS score
  FROM documents
), cnt AS (
  SELECT source, score, count(*) AS c FROM sc GROUP BY 1, 2
), cum AS (
  SELECT source, score,
    sum(c) OVER (PARTITION BY source ORDER BY score) AS cum,
    sum(c) OVER (PARTITION BY source) AS n
  FROM cnt
), thr AS (
  SELECT source, CAST(min(score) AS BIGINT) AS thr
  FROM cum WHERE cum * 5 >= n * 1 GROUP BY source
)
SELECT sc.doc_id, sc.source, sc.score, t.thr, sc.score >= t.thr AS keep
FROM sc JOIN thr t USING (source) ORDER BY sc.doc_id"""),
    // hashed-feature linear quality scorer (fastText-shaped, NB
    // centroid weights, decimal-exact): target = the DSIR target
    // sources — "how target-like is each doc's hashed profile"
    Row("doc_quality_linear", (s, d) =>
      TextOps.linearQuality(Tables.documents(s, d),
        col("source").isin("src0", "src2", "src4")),
      // hashed-feature linear scorer: HUGEINT replay of the decimal
      // NB-centroid weights and per-doc scores
      s"""WITH tf AS MATERIALIZED (
  SELECT doc_id, tgt,
    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 4096 AS b,
    count(*) AS tf
  FROM (
    SELECT doc_id, source IN ('src0', 'src2', 'src4') AS tgt,
      unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents) x
  WHERE len(w) > 0 GROUP BY 1, 2, 3
), dim AS (
  SELECT b, sum(CASE WHEN tgt THEN tf ELSE 0 END) AS tft,
    sum(tf) AS tfr
  FROM tf GROUP BY b
), tot AS (SELECT sum(tft) AS nt, sum(tfr) AS nr FROM dim),
wt AS (
  SELECT b, CAST(tft AS HUGEINT) * nr - CAST(tfr AS HUGEINT) * nt AS wt
  FROM dim, tot
)
SELECT t.doc_id,
  CAST(sum(CAST(t.tf AS HUGEINT) * w.wt) AS BIGINT) AS score,
  sum(CAST(t.tf AS HUGEINT) * w.wt) >= 0 AS keep
FROM tf t JOIN wt w USING (b) GROUP BY t.doc_id ORDER BY t.doc_id"""),
    // BPE tokenizer training (Sennrich et al. 2016): 8 merge rules
    // learned from the corpus — one corpus pass builds the weighted
    // word-vocab dim, each iteration is a map-side-combinable pair
    // count over the KB-scale vocab + a scan-local greedy rewrite
    Row("doc_bpe_merges", (s, d) =>
      TextOps.trainBpe(Tables.documents(s, d), merges = 8),
      bpeOracleSql(8)),
    // APPLY the trained tokenizer: per-doc word/subword counts under
    // the 8 learned rules — segmentation is a function of the word,
    // so docs join the KB-scale post-training vocab (broadcast)
    Row("doc_bpe_tokens", (s, d) =>
      TextOps.bpeTokenCounts(Tables.documents(s, d), merges = 8),
      bpeApplyOracleSql(8)),
    // MATERIALIZE the training token stream: per-doc subword-ID
    // sequences (ids = binary-order rank of the post-training symbol
    // set); the sequence crosses the compare as an md5
    Row("doc_bpe_ids", (s, d) =>
      TextOps.bpeEncodeIds(Tables.documents(s, d), merges = 8),
      bpeEncodeOracleSql(8)),
    // the PACKED training batches: per (source, shard) pack stream,
    // doc id-sequences concat in doc order and chunk at exact
    // 512-id boundaries (docs split across bins — GPT concat-and-
    // chunk); one row per bin, the id stream crossed as an md5
    Row("doc_pack_ids", (s, d) =>
      TextOps.packTokenStream(Tables.documents(s, d), merges = 8,
        budget = 512, shards = 4),
      bpePackOracleSql(8, 512L, 4)),
    // text-side snapshot drift per source: L1 distance between
    // char-bigram frequency distributions (exact rational terms).
    // batch slice = doc_id % 7 (coprime with the synthetic source
    // cycle, so every source has mass on BOTH sides — % 10 would
    // alias the source assignment and leave every distance NULL)
    Row("doc_bigram_drift", (s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.bigramDrift(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    },
      // text-side snapshot drift: per-source bigram count dims for both
      // slices, cross-multiplied integer L1 numerators (decimal-exact),
      // one double division; one-sided sources report NULL
      {
        val bg = "unnest(list_transform(range(1, length(text)), i -> substr(text, i, 2)))"
        s"""WITH db AS (
  SELECT source, $bg AS b
  FROM documents WHERE length(text) >= 2 AND doc_id % 7 <> 0
), dt AS (
  SELECT source, $bg AS b
  FROM documents WHERE length(text) >= 2 AND doc_id % 7 = 0
), cb AS (SELECT source, b, count(*) AS c FROM db GROUP BY 1, 2),
ct AS (SELECT source, b, count(*) AS c FROM dt GROUP BY 1, 2),
j AS (
  SELECT coalesce(cb.source, ct.source) AS source,
    coalesce(cb.c, 0) AS cb, coalesce(ct.c, 0) AS ct
  FROM cb FULL OUTER JOIN ct ON cb.source = ct.source AND cb.b = ct.b
), tot AS (
  SELECT source, CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(ct) AS BIGINT) AS nt
  FROM j GROUP BY source
)
SELECT j.source, t.nb AS n_base, t.nt AS n_batch,
  CASE WHEN t.nb = 0 OR t.nt = 0 THEN NULL ELSE
    round(CAST(sum(abs(CAST(j.cb AS DECIMAL(19,0)) * t.nt -
                       CAST(j.ct AS DECIMAL(19,0)) * t.nb)) AS DOUBLE) /
          (CAST(t.nb AS DOUBLE) * CAST(t.nt AS DOUBLE)), 6)
  END AS l1_dist
FROM j JOIN tot t USING (source)
GROUP BY j.source, t.nb, t.nt
ORDER BY j.source"""
      }),
  )
}
