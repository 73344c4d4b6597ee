"""Round-6 registry batch.

- ``similarity_ivf_sql2`` — the deeper-trained IVF arm (VERDICT r5 ask
  #2): two integer-exact Lloyd refinement steps instead of one, same
  oracle-strength contract as ``similarity_ivf_sql``.  The extra step is
  ANSI-SQL-replayable by repeating the assign→sums→centroid CTE chain
  once, so the APPROXIMATE output stays hash-checked at full strength.
  The Lloyd-guaranteed monotone property (training objective) plus a
  recall floor is pinned by ``tests/test_llm.py::
  test_ivf_sql2_objective_improves_and_recall_holds``.
- ``bpe_tokenize_sql`` — full corpus tokenization under the trained
  BPE vocabulary (token-id sequences, not just counts): the
  trainer-input artifact, hash-checked through the unrolled replay of
  the training loop; round-trip + kernel consistency pytest-pinned.

Reference anchor: the reference has no ANN tier (its surface stops at
the Flink serving layer) — this extends the LLM-pipeline extension set
per the build brief's similarity-search requirement.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from icebergproject_spark.queries import Query, _t


def q_similarity_ivf_sql2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-strength IVF top-5 for query vectors vec_id < 5 with TWO
    integer-exact Lloyd steps (16 centroids, nprobe=4, exact cosine
    re-score on candidates — llm/similarity.ivf_sql_topk(steps=2))."""
    from icebergproject_spark.llm.similarity import ivf_sql_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_sql_topk(emb, queries, k=5, n_centroids=16, nprobe=4, steps=2)


# mirrors ivf_sql_topk(steps=2) stage for stage: the steps=1 oracle
# (queries_r4.ORACLE_SIMILARITY_IVF_SQL) with the assign→sums→centroid
# chain repeated once — a1/flat2/sums2/centroids2 are the second Lloyd
# step; the final assignment a2 mints cells AND probe lists from the
# refined centroids, exactly as the Spark loop does.
ORACLE_SIMILARITY_IVF_SQL2 = """
WITH v AS (
  SELECT vec_id AS cid,
         CAST(embedding AS DOUBLE[]) AS e,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
seeds AS (
  SELECT CAST(cid AS INTEGER) AS cluster_id, q AS c FROM v WHERE cid < 16
),
a0 AS (
  SELECT cid, cluster_id FROM (
    SELECT v.cid, s.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
             list_dot_product(v.q, s.c) /
               (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(s.c, s.c))) DESC,
             s.cluster_id ASC) AS rn
    FROM v CROSS JOIN seeds s
  ) WHERE rn = 1
),
flat1 AS (
  SELECT a0.cluster_id,
         UNNEST(range(1, len(v.q) + 1)) AS pos,
         UNNEST(v.q) AS x
  FROM v JOIN a0 USING (cid)
),
sums1 AS (
  SELECT cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM flat1 GROUP BY cluster_id, pos
),
centroids1 AS (
  SELECT cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM sums1 GROUP BY cluster_id
),
a1 AS (
  SELECT cid, cluster_id FROM (
    SELECT v.cid, c.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
             list_dot_product(v.q, c.c) /
               (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
             c.cluster_id ASC) AS rn
    FROM v CROSS JOIN centroids1 c
  ) WHERE rn = 1
),
flat2 AS (
  SELECT a1.cluster_id,
         UNNEST(range(1, len(v.q) + 1)) AS pos,
         UNNEST(v.q) AS x
  FROM v JOIN a1 USING (cid)
),
sums2 AS (
  SELECT cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM flat2 GROUP BY cluster_id, pos
),
centroids2 AS (
  SELECT cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM sums2 GROUP BY cluster_id
),
a2 AS (
  SELECT v.cid, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
           list_dot_product(v.q, c.c) /
             (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
           c.cluster_id ASC) AS rn
  FROM v CROSS JOIN centroids2 c
),
cells AS (SELECT cid, cluster_id AS cell FROM a2 WHERE rn = 1),
probes AS (SELECT cid AS qid, cluster_id AS cell FROM a2 WHERE rn <= 4 AND cid < 5),
scored AS (
  SELECT p.qid AS query_id, n.cid AS neighbor_id,
         list_dot_product(vq.e, vn.e) /
           (sqrt(list_dot_product(vq.e, vq.e)) * sqrt(list_dot_product(vn.e, vn.e))) AS s
  FROM probes p
  JOIN cells n ON n.cell = p.cell AND n.cid <> p.qid
  JOIN v vq ON vq.cid = p.qid
  JOIN v vn ON vn.cid = n.cid
),
ranked AS (
  SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


def q_text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorization (Weinberger et al. 2009) at ORACLE
    strength: md5-bucketed word-count histograms, dim=64 — the
    vocabulary-free text→vector bridge into the embedding-tier
    operators.  Rendered as CSV (the embedding_quantize array
    convention) so the vector hashes bit-for-bit."""
    from icebergproject_spark.llm.text import hash_features

    docs = _t(spark, sf_dir, "documents")
    return hash_features(docs, dim=64).select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("features", lambda x: x.cast("string"))
        ).alias("features_csv"),
    )


def _md5_prefix4_sql(hx: str) -> str:
    """BIGINT value of the first 4 hex digits of md5 column `hx` (the
    llm.dedup.md5_prefix12_sql idiom at hash_shard's width)."""
    return (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substr({hx}, {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
            for j in range(4)
        )
        + ")"
    )


ORACLE_TEXT_HASH_FEATURES = f"""
WITH w AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
b AS (
  SELECT doc_id,
         {_md5_prefix4_sql("md5('feat0' || '-' || w)")} % 64 AS b
  FROM w WHERE w <> ''
),
c AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b),
g AS (SELECT doc_id, UNNEST(range(0, 64)) AS pos FROM documents)
SELECT g.doc_id,
       string_agg(CAST(COALESCE(c.c, 0) AS VARCHAR), ',' ORDER BY g.pos)
         AS features_csv
FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.b = g.pos
GROUP BY g.doc_id
"""




def q_doc_clusters_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus domain discovery at ORACLE strength: k-means (one
    integer-exact Lloyd step, k=8) over the hash_features text vectors —
    the DoReMi-style clustering that precedes domain-mixture weighting,
    with NO embedding model in the loop.  Composes the two oracle-proven
    pieces: md5 feature hashing (integer count vectors — exact in both
    engines with no quantization step) and the int_lloyd_cells training
    chain shared with similarity_ivf_sql/dedup_semantic_sql."""
    from icebergproject_spark.llm.similarity import int_lloyd_cells
    from icebergproject_spark.llm.text import hash_features

    docs = _t(spark, sf_dir, "documents")
    feats = hash_features(docs, dim=16)
    nz = feats.filter(
        F.aggregate("features", F.lit(0).cast("long"), lambda a, x: a + x) > 0
    )
    base = nz.select(F.col("doc_id").alias("cid"), F.col("features").alias("q"))
    cells, _ = int_lloyd_cells(base, 8, steps=1)
    return cells.select(
        F.col("cid").alias("doc_id"),
        F.col("__cell").cast("int").alias("cluster_id"),
    )


ORACLE_DOC_CLUSTERS_SQL = f"""
WITH w AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
b AS (
  SELECT doc_id,
         {_md5_prefix4_sql("md5('feat0' || '-' || w)")} % 16 AS b
  FROM w WHERE w <> ''
),
c AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b),
g AS (SELECT doc_id, UNNEST(range(0, 16)) AS pos FROM documents),
v AS (
  SELECT g.doc_id AS cid,
         array_agg(CAST(COALESCE(c.c, 0) AS DOUBLE) ORDER BY g.pos) AS q
  FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.b = g.pos
  GROUP BY g.doc_id
),
nz AS (SELECT * FROM v WHERE list_sum(q) > 0),
seeds AS (
  SELECT CAST(cid AS INTEGER) AS cluster_id, q AS c FROM nz WHERE cid < 8
),
a0 AS (
  SELECT cid, cluster_id FROM (
    SELECT nz.cid, s.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY nz.cid ORDER BY
             list_dot_product(nz.q, s.c) /
               (sqrt(list_dot_product(nz.q, nz.q)) * sqrt(list_dot_product(s.c, s.c))) DESC,
             s.cluster_id ASC) AS rn
    FROM nz CROSS JOIN seeds s
  ) WHERE rn = 1
),
flat AS (
  SELECT a0.cluster_id,
         UNNEST(range(1, len(nz.q) + 1)) AS pos,
         UNNEST(nz.q) AS x
  FROM nz JOIN a0 USING (cid)
),
sums AS (
  SELECT cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM flat GROUP BY cluster_id, pos
),
centroids AS (
  SELECT cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM sums GROUP BY cluster_id
),
a1 AS (
  SELECT nz.cid, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY nz.cid ORDER BY
           list_dot_product(nz.q, c.c) /
             (sqrt(list_dot_product(nz.q, nz.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
           c.cluster_id ASC) AS rn
  FROM nz CROSS JOIN centroids c
)
SELECT cid AS doc_id, CAST(cluster_id AS INTEGER) AS cluster_id
FROM a1 WHERE rn = 1
"""




# ---------------------------------------------------------------------------
# BPE family promoted to ORACLE strength (generated DuckDB twins).
#
# The training loop is iterative, but each round is plain SQL (pair
# count -> argmax) and the greedy left-to-right merge application is a
# GAPS-AND-ISLANDS parity problem, not a recursion: within a maximal
# run of consecutive match positions, merges start at even offsets from
# the run head (consecutive matches only occur for left==right pairs).
# So the whole 12-round loop unrolls into generated CTEs — every CTE
# MATERIALIZED, because DuckDB inlines CTEs by default and the round
# chain would otherwise blow up exponentially.
# ---------------------------------------------------------------------------


def _bpe_round_ctes(r: int, min_freq: int) -> str:
    """One training round: adjacent-pair counts from sy{r} (overlaps
    included, matching the Spark sequence-explode), total-order argmax
    (freq desc, left asc, right asc, >= min_freq), then the windowed
    greedy merge -> sy{r+1}."""
    return f""", m{r} AS MATERIALIZED (
    SELECT wid, wcnt, n, i, s,
           lead(s) OVER (PARTITION BY wid ORDER BY i) AS s2
    FROM (
      SELECT wid, wcnt, len(syms) AS n,
             UNNEST(range(1, len(syms) + 1)) AS i,
             UNNEST(syms) AS s
      FROM sy{r}
    )
)
, best{r} AS MATERIALIZED (
    SELECT s AS l, s2 AS r2, SUM(wcnt) AS cnt
    FROM m{r} WHERE s2 IS NOT NULL
    GROUP BY s, s2
    HAVING SUM(wcnt) >= {min_freq}
    ORDER BY cnt DESC, l ASC, r2 ASC
    LIMIT 1
)
, st{r} AS MATERIALIZED (
    SELECT wid, wcnt, i, s, s2,
           (mt AND ((i - MIN(i) OVER (PARTITION BY wid, grp)) % 2 = 0)) AS strt
    FROM (
      SELECT *, CASE WHEN mt THEN i - ROW_NUMBER() OVER (PARTITION BY wid, mt ORDER BY i) END AS grp
      FROM (
        SELECT wid, wcnt, n, i, s, s2,
               COALESCE(s = (SELECT l FROM best{r}) AND s2 = (SELECT r2 FROM best{r}), FALSE) AS mt
        FROM m{r}
      )
    )
)
, sy{r + 1} AS MATERIALIZED (
    SELECT wid, ANY_VALUE(wcnt) AS wcnt,
           array_agg(CASE WHEN strt THEN s || s2 ELSE s END ORDER BY i)
             FILTER (WHERE NOT COALESCE(lag_strt, FALSE)) AS syms
    FROM (
      SELECT *, lag(strt) OVER (PARTITION BY wid ORDER BY i) AS lag_strt
      FROM st{r}
    )
    GROUP BY wid
)"""


_BPE_BASE = """WITH words AS MATERIALIZED (
  SELECT w, COUNT(*) AS wcnt
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
)
, sy1 AS MATERIALIZED (
  SELECT w AS wid, wcnt,
         [substr(w, CAST(x AS INT), 1) FOR x IN range(1, len(w) + 1)] AS syms
  FROM words
)"""


def _oracle_bpe_merges(num_merges: int = 12, min_freq: int = 2) -> str:
    parts = [_BPE_BASE]
    for r in range(1, num_merges + 1):
        parts.append(_bpe_round_ctes(r, min_freq))
    union = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS INTEGER) AS rank, l AS "left", r2 AS "right", '
        f"CAST(cnt AS BIGINT) AS freq FROM best{r}"
        for r in range(1, num_merges + 1)
    )
    return "\n".join(parts) + "\n" + union


def _oracle_bpe_tokenize(num_merges: int = 12, min_freq: int = 2) -> str:
    """Tokenization twin: the trained chain's FINAL symbol state
    (sy{N+1}) is each len>=2 word's token sequence (applying the ranked
    merges at encode time replays the training evolution exactly);
    single-char words are single tokens.  Vocab ids = sorted distinct
    corpus characters, then merge symbols in rank order (llm/bpe.
    bpe_vocab).  token_ids render as CSV (the array convention)."""
    parts = [_BPE_BASE]
    for r in range(1, num_merges + 1):
        parts.append(_bpe_round_ctes(r, min_freq))
    ranked = "\nUNION ALL\n".join(
        f"SELECT l, r2, {r} AS rank FROM best{r}"
        for r in range(1, num_merges + 1)
    )
    final = num_merges + 1
    tail = f""", vocab_chars AS MATERIALIZED (
  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c) - 1 AS INT) AS id
  FROM (
    SELECT DISTINCT UNNEST(
      [substr(text, CAST(x AS INT), 1) FOR x IN range(1, len(text) + 1)]
    ) AS c
    FROM documents
  )
  WHERE c <> ''
)
, merge_syms AS MATERIALIZED (
  SELECT sym, rank FROM (
    SELECT l || r2 AS sym, rank,
           ROW_NUMBER() OVER (PARTITION BY l || r2 ORDER BY rank) AS rn
    FROM ({ranked})
  ) WHERE rn = 1
)
, vocab AS MATERIALIZED (
  SELECT c AS sym, id FROM vocab_chars
  UNION ALL
  SELECT sym,
         CAST((SELECT COUNT(*) FROM vocab_chars)
              + ROW_NUMBER() OVER (ORDER BY rank) - 1 AS INT) AS id
  FROM merge_syms
)
, doc_words AS MATERIALIZED (
  SELECT doc_id, wp, w FROM (
    SELECT doc_id,
           UNNEST(string_split(text, ' ')) AS w,
           UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS wp
    FROM documents
  ) WHERE w <> ''
)
, doc_tok AS MATERIALIZED (
  SELECT doc_id, wp,
         UNNEST(range(1, len(fs) + 1)) AS sp,
         UNNEST(fs) AS sym
  FROM (
    SELECT dw.doc_id, dw.wp, COALESCE(ws.syms, [dw.w]) AS fs
    FROM doc_words dw LEFT JOIN sy{final} ws ON ws.wid = dw.w
  )
)
, agg AS MATERIALIZED (
  SELECT d.doc_id,
         string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY d.wp, d.sp)
           AS token_ids_csv,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM doc_tok d JOIN vocab v ON v.sym = d.sym
  GROUP BY d.doc_id
)
SELECT doc.doc_id,
       COALESCE(agg.token_ids_csv, '') AS token_ids_csv,
       COALESCE(agg.n_tokens, 0) AS n_tokens
FROM documents doc LEFT JOIN agg ON agg.doc_id = doc.doc_id"""
    return "\n".join(parts) + "\n" + tail


def q_bpe_tokenize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus tokenization under a 12-merge trained BPE vocabulary
    at ORACLE strength: per document, the token-id sequence + count
    (llm/bpe.bpe_tokenize) — the trainer-input artifact downstream of
    bpe_merges.  The ``array<int>`` id sequence is rendered as CSV so it
    hash-checks bit-for-bit (the array convention); the API
    (:func:`llm.bpe.bpe_tokenize`) keeps the trainer-facing array
    schema, only this registry head renders."""
    from icebergproject_spark.llm import bpe

    docs = _t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=12)
    vocab = bpe.bpe_vocab(docs, merges)
    return bpe.bpe_tokenize(docs, merges, vocab).select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("token_ids", lambda x: x.cast("string"))
        ).alias("token_ids_csv"),
        "n_tokens",
    )


ORACLE_BPE_MERGES = _oracle_bpe_merges(12)
ORACLE_BPE_TOKENIZE_SQL = _oracle_bpe_tokenize(12)


def q_dedup_simhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) at ORACLE strength
    (llm/dedup.simhash_near_pairs): md5-nibble token hashes make the
    64 bit-votes, the 4x16-bit banding, and the Hamming verification
    bit-identical across engines — DuckDB replays the SimHash mechanism
    itself.  With 4 bands and distance <= 3 the pigeonhole candidate set
    is EXACT (equals brute-force all-pairs; pytest-pinned)."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, max_hamming=3)


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Stage-for-stage mirror of simhash_near_pairs: same md5-nibble
    decode (bit i of a token hash = bit i%4 of hex char i//4), same 64
    vote sums, same 16-bit chunks, same piece-bucket join + bit_count
    Hamming."""
    nib = ",\n         ".join(
        f"(instr('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS n{j}"
        for j in range(16)
    )
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (n{i // 4} // {1 << (i % 4)}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    chunks = ",\n         ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        + f") AS c{c}"
        for c in range(4)
    )
    pieces = "\n  UNION ALL\n".join(
        f"  SELECT id, c0, c1, c2, c3, {c} AS chunk, c{c} AS piece FROM fp"
        for c in range(4)
    )
    ham = " + ".join(
        f"bit_count(xor(CAST(ac{c} AS BIGINT), CAST(bc{c} AS BIGINT)))"
        for c in range(4)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, t FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
  )
),
h AS (SELECT id, md5(t) AS hx FROM toks),
nib AS (
  SELECT id,
         {nib}
  FROM h
),
votes AS (
  SELECT id,
         {votes}
  FROM nib GROUP BY id
),
fp AS (
  SELECT id,
         {chunks}
  FROM votes
),
pieces AS (
{pieces}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.c0 AS ac0, a.c1 AS ac1, a.c2 AS ac2, a.c3 AS ac3,
         b.c0 AS bc0, b.c1 AS bc1, b.c2 AS bc2, b.c3 AS bc3
  FROM pieces a JOIN pieces b
    ON a.chunk = b.chunk AND a.piece = b.piece AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming FROM cand
)
WHERE hamming <= {max_hamming}
"""


ORACLE_DEDUP_SIMHASH_SQL = _simhash_oracle_sql(3)


def q_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit at ORACLE strength
    (llm/dedup.minhash_error_audit): per LSH candidate pair, the
    signature-estimated Jaccard (agreeing positions / 16) next to the
    exact 3-gram-set Jaccard and the absolute error — the measurement a
    pipeline runs before trusting a banding configuration at 100 TB.
    md5-derived permutations make estimator AND ground truth replayable
    in DuckDB; exact Jaccard is computed on candidates only (the
    verified_near_dups cost contract)."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_error_audit(docs, num_hashes=16, bands=8)


def _minhash_audit_oracle_sql(num_hashes: int = 16, bands: int = 8) -> str:
    """Mirror of minhash_error_audit: the md5-LSH CTEs
    (llm/dedup.minhash_bands_sql — same grams, same permutations, same
    band keys) extended with per-pair signature agreement and exact
    distinct-gram Jaccard.  Zero-shared candidates survive via LEFT
    JOIN + COALESCE (the Spark arm joins on id, so a no-overlap pair
    scores shared=0 there too)."""
    from icebergproject_spark.llm.dedup import minhash_bands_sql

    return f"""
WITH {minhash_bands_sql(num_hashes, bands)},
cand AS (SELECT id_a, id_b FROM pairs),
agree AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM cand c
  JOIN hmin ha ON ha.doc_id = c.id_a
  JOIN hmin hb ON hb.doc_id = c.id_b AND hb.i = ha.i
  GROUP BY c.id_a, c.id_b
),
gs AS (SELECT DISTINCT doc_id, g FROM grams),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM gs GROUP BY doc_id),
shr AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(gb.g) AS BIGINT) AS shared
  FROM cand c
  JOIN gs ga ON ga.doc_id = c.id_a
  LEFT JOIN gs gb ON gb.doc_id = c.id_b AND gb.g = ga.g
  GROUP BY c.id_a, c.id_b
)
SELECT ag.id_a, ag.id_b, ag.n_agree, shr.shared, sa.sz AS size_a, sb.sz AS size_b,
       ROUND(CAST(ag.n_agree AS DOUBLE) / CAST({num_hashes} AS DOUBLE), 6)
         AS est_jaccard,
       ROUND(CAST(shr.shared AS DOUBLE)
             / CAST(sa.sz + sb.sz - shr.shared AS DOUBLE), 6) AS exact_jaccard,
       ROUND(ABS(CAST(ag.n_agree AS DOUBLE) / CAST({num_hashes} AS DOUBLE)
                 - CAST(shr.shared AS DOUBLE)
                   / CAST(sa.sz + sb.sz - shr.shared AS DOUBLE)), 6) AS abs_err
FROM agree ag
JOIN shr ON shr.id_a = ag.id_a AND shr.id_b = ag.id_b
JOIN sz sa ON sa.doc_id = ag.id_a
JOIN sz sb ON sb.doc_id = ag.id_b
"""


ORACLE_MINHASH_ERROR_AUDIT = _minhash_audit_oracle_sql(16, 8)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rule suite (Rae et al. 2021, A1) at ORACLE
    strength (llm/text.gopher_rules): per-document boolean flags for the
    word-count / mean-word-length / stopword / alpha-word / top-2-gram
    rules plus the overall keep verdict — every threshold an integer
    cross-multiplication.  The richer sibling of the 3-rule
    ``quality_filter`` gate; line-shape rules are documented out of
    scope (corpus has no newlines).  On the synthetic corpus the
    faithful Gopher stop-list intentionally fails every doc (only
    'the' appears in the vocabulary → stop_hits=1 < 2), so keep=false
    corpus-wide while r_word_count (277/500 at sf0.01) and r_top2gram
    (488/500) carry the discrimination; per-rule flips are pinned on
    adversarial docs by tests/test_llm.py::test_gopher_rules_flags."""
    from icebergproject_spark.llm.text import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    return gopher_rules(docs)


ORACLE_GOPHER_RULES = """
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(length(text) - (len(t) - 1) AS BIGINT) AS word_chars,
         CAST(len(list_intersect(list_distinct(t),
              ['the','be','to','of','and','that','have','with'])) AS BIGINT)
           AS stop_hits,
         CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha_words
  FROM base
),
g2 AS (
  SELECT doc_id,
         UNNEST([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]) AS g
  FROM base
),
cnts AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, g),
top AS (
  SELECT doc_id, CAST(cnt AS BIGINT) AS top2_cnt,
         CAST(length(g) - 1 AS BIGINT) AS top2_len
  FROM (
    SELECT doc_id, g, cnt,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, g ASC) AS rn
    FROM cnts
  ) WHERE rn = 1
)
SELECT f.doc_id, f.n_words, f.word_chars, f.stop_hits, f.n_alpha_words,
       CAST(COALESCE(tp.top2_cnt, 0) AS BIGINT) AS top2_cnt,
       CAST(COALESCE(tp.top2_len, 0) AS BIGINT) AS top2_len,
       (f.n_words >= 50 AND f.n_words <= 100000) AS r_word_count,
       (3 * f.n_words <= f.word_chars AND f.word_chars <= 10 * f.n_words)
         AS r_mean_word_len,
       (f.stop_hits >= 2) AS r_stopwords,
       (5 * f.n_alpha_words >= 4 * f.n_words) AS r_alpha,
       (5 * COALESCE(tp.top2_cnt, 0) * COALESCE(tp.top2_len, 0)
          <= f.word_chars) AS r_top2gram,
       ((f.n_words >= 50 AND f.n_words <= 100000)
        AND (3 * f.n_words <= f.word_chars AND f.word_chars <= 10 * f.n_words)
        AND (f.stop_hits >= 2)
        AND (5 * f.n_alpha_words >= 4 * f.n_words)
        AND (5 * COALESCE(tp.top2_cnt, 0) * COALESCE(tp.top2_len, 0)
               <= f.word_chars)) AS keep
FROM feat f LEFT JOIN top tp ON tp.doc_id = f.doc_id
"""


from icebergproject_spark.queries_llm2 import q_bpe_merges  # noqa: E402

def q_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN with Asymmetric Distance Computation
    (Jégou et al. 2011) at ORACLE strength
    (llm/similarity.pq_adc_topk): 8 subspaces × 16 centroids trained
    integer-exact (squared-L2 assignment — divisionless, the PQ
    standard), queries vec_id < 5 ranked by broadcast-lookup-table ADC
    over the CODES relation.  Scores are exact BIGINTs — the entire
    index, codes, and ranking replay bit-for-bit in DuckDB.  The
    memory-bound counterpart of similarity_ivf_sql's compute-pruning:
    at 100 TB the scan reads n_sub small ints per vector, not the
    float payload."""
    from icebergproject_spark.llm.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, k=5, n_sub=8, dsub=8, ksub=16, query_max_id=5)


# stage-for-stage mirror of pq_adc_topk: same integer quantization, the
# same single chain over all 8 subspaces (m is data, not an unrolled
# loop), same L2 polynomial <a,a>-2<a,b>+<b,b> (exact integer-valued
# doubles), same round(sum/n) centroid rescale, same broadcast-ADC sum.
ORACLE_SIMILARITY_PQ_ADC = """
WITH v AS (
  SELECT vec_id AS cid,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
flat AS (
  SELECT cid, m, q[m*8+1 : m*8+8] AS sub
  FROM v CROSS JOIN (SELECT UNNEST(range(8)) AS m)
),
seeds AS (
  SELECT m, CAST(cid AS INTEGER) AS cluster_id, sub AS c FROM flat WHERE cid < 16
),
a0 AS (
  SELECT cid, m, cluster_id AS code FROM (
    SELECT f.cid, f.m, s.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY f.cid, f.m ORDER BY
             (list_dot_product(f.sub, f.sub) - 2 * list_dot_product(f.sub, s.c)
              + list_dot_product(s.c, s.c)) ASC, s.cluster_id ASC) AS rn
    FROM flat f JOIN seeds s ON s.m = f.m
  ) WHERE rn = 1
),
sums AS (
  SELECT m, cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM (
    SELECT f.m, a0.code AS cluster_id,
           UNNEST(range(1, len(f.sub) + 1)) AS pos, UNNEST(f.sub) AS x
    FROM flat f JOIN a0 ON a0.cid = f.cid AND a0.m = f.m
  )
  GROUP BY m, cluster_id, pos
),
cents AS (
  SELECT m, cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM sums GROUP BY m, cluster_id
),
codes AS (
  SELECT cid, m, cluster_id AS code FROM (
    SELECT f.cid, f.m, c.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY f.cid, f.m ORDER BY
             (list_dot_product(f.sub, f.sub) - 2 * list_dot_product(f.sub, c.c)
              + list_dot_product(c.c, c.c)) ASC, c.cluster_id ASC) AS rn
    FROM flat f JOIN cents c ON c.m = f.m
  ) WHERE rn = 1
),
qtab AS (
  SELECT f.cid AS qid, f.m, c.cluster_id,
         list_dot_product(f.sub, c.c) AS part
  FROM flat f JOIN cents c ON c.m = f.m
  WHERE f.cid < 5
),
adc AS (
  SELECT q.qid AS query_id, cd.cid AS neighbor_id,
         CAST(SUM(q.part) AS BIGINT) AS adc_score
  FROM codes cd
  JOIN qtab q ON q.m = cd.m AND q.cluster_id = cd.code
  WHERE cd.cid <> q.qid
  GROUP BY q.qid, cd.cid
)
SELECT query_id, neighbor_id, adc_score, rank FROM (
  SELECT query_id, neighbor_id, adc_score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_score DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= 5
"""


def q_count_min_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch estimator audit at ORACLE strength: build a
    d=4 x w=256 CMS over the corpus token stream with md5-derived row
    hashes, then for the 20 highest-frequency tokens report the CMS
    estimate (min over the 4 row counters) next to the exact count and
    the overestimate.  Pins the sketch's one-sided guarantee — estimate
    >= exact, ALWAYS — as data the driver hash-checks, plus how loose
    the w=256 bound is on this vocabulary.

    The sketch is the 100 TB shape for frequency tracking: the corpus
    shuffles only (row, bucket) partial counts — d*w integers total per
    partition — never the vocabulary; the exact side here exists to
    measure the estimator, exactly like minhash_error_audit measures
    LSH.  Everything md5-derived, so DuckDB replays sketch AND truth."""
    from icebergproject_spark.llm.text import count_min_audit

    docs = _t(spark, sf_dir, "documents")
    return count_min_audit(docs, depth=4, width=256, top_n=20)


def _cms_audit_oracle_sql(depth: int = 4, width: int = 256, top_n: int = 20) -> str:
    """Mirror of count_min_audit: same md5 bucket derivation
    (_md5_prefix4_sql of md5('cms<r>-' || token) % width), same sketch
    counters, same min-over-rows estimate, same top-N selection (count
    desc, token asc)."""
    return f"""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
),
buck AS (
  SELECT token, r,
         {_md5_prefix4_sql("md5('cms' || CAST(r AS VARCHAR) || '-' || token)")}
           % {width} AS b
  FROM (SELECT DISTINCT token FROM tok)
  CROSS JOIN (SELECT UNNEST(range({depth})) AS r)
),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY token
),
sketch AS (
  SELECT bk.r, bk.b, CAST(SUM(e.exact_count) AS BIGINT) AS counter
  FROM buck bk JOIN exact e USING (token)
  GROUP BY bk.r, bk.b
),
est AS (
  SELECT bk.token, MIN(s.counter) AS cms_estimate
  FROM buck bk JOIN sketch s ON s.r = bk.r AND s.b = bk.b
  GROUP BY bk.token
),
top AS (
  SELECT token, exact_count FROM exact
  ORDER BY exact_count DESC, token ASC LIMIT {top_n}
)
SELECT t.token, t.exact_count, e.cms_estimate,
       e.cms_estimate - t.exact_count AS overestimate
FROM top t JOIN est e USING (token)
"""


ORACLE_COUNT_MIN_AUDIT = _cms_audit_oracle_sql(4, 256, 20)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in ingestion (doc_id) order — the
    dataset-curation metric behind 'how much NEW content does each
    document add': a doc's distinct 3-grams are NOVEL iff their global
    first occurrence (min doc_id holding the gram) is this doc.  One
    inverted-index aggregate (min doc per gram) + one count join —
    never a pairwise comparison, so the shape is linear at 100 TB where
    the pairwise overlap ops (source_overlap) are quadratic in sources.
    Integer counts + one deterministically-rounded ratio."""
    docs = _t(spark, sf_dir, "documents")
    from icebergproject_spark.llm.dedup import word_shingles

    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles("text", 3).alias("sh")
    )
    flat = sh.select("id", F.explode("sh").alias("g"))
    first = flat.groupBy("g").agg(F.min("id").alias("first_id"))
    per_doc = (
        flat.join(first, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return per_doc.select(
        F.col("id").alias("doc_id"),
        "n_grams",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("novelty_ratio"),
    )


ORACLE_NGRAM_NOVELTY = """
WITH sh AS (
  SELECT doc_id AS id, UNNEST(grams) AS g FROM (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          FOR i IN range(1, GREATEST(len(toks)-2, 1) + 1)]) AS grams
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
),
first AS (SELECT g, MIN(id) AS first_id FROM sh GROUP BY g)
SELECT sh.id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_id = sh.id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_id = sh.id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_ratio
FROM sh JOIN first f USING (g)
GROUP BY sh.id
"""


def q_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the FAISS production ANN layout — at ORACLE strength
    (llm/similarity.ivfpq_topk): cosine IVF coarse quantizer (16 cells,
    nprobe=4, the int_lloyd_cells chain shared with similarity_ivf_sql)
    pruning the corpus, squared-L2 PQ fine quantizer (8×16, the
    pq_codes chain shared with similarity_pq_adc) scoring survivors by
    broadcast-table ADC.  Both halves are independently oracle-proven;
    this composes them over ONE shared quantized base.  Scores exact
    BIGINTs — training, cells, probes, codes, and ranking replay
    bit-for-bit in DuckDB."""
    from icebergproject_spark.llm.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, k=5, n_centroids=16, nprobe=4, n_sub=8, dsub=8, ksub=16,
        query_max_id=5,
    )


# the IVF half is ORACLE_SIMILARITY_IVF_SQL's one-step chain (v → seeds
# → a0 → sums → centroids → a1: cells rn=1, probes rn<=4); the PQ half
# is ORACLE_SIMILARITY_PQ_ADC's chain with p-prefixed CTE names; cand
# restricts the ADC sum to probed cells.
ORACLE_SIMILARITY_IVFPQ = """
WITH v AS (
  SELECT vec_id AS cid,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
seeds AS (
  SELECT CAST(cid AS INTEGER) AS cluster_id, q AS c FROM v WHERE cid < 16
),
a0 AS (
  SELECT cid, cluster_id FROM (
    SELECT v.cid, s.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
             list_dot_product(v.q, s.c) /
               (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(s.c, s.c))) DESC,
             s.cluster_id ASC) AS rn
    FROM v CROSS JOIN seeds s
  ) WHERE rn = 1
),
flat1 AS (
  SELECT a0.cluster_id,
         UNNEST(range(1, len(v.q) + 1)) AS pos,
         UNNEST(v.q) AS x
  FROM v JOIN a0 USING (cid)
),
sums1 AS (
  SELECT cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM flat1 GROUP BY cluster_id, pos
),
centroids1 AS (
  SELECT cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM sums1 GROUP BY cluster_id
),
a1 AS (
  SELECT v.cid, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
           list_dot_product(v.q, c.c) /
             (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
           c.cluster_id ASC) AS rn
  FROM v CROSS JOIN centroids1 c
),
cells AS (SELECT cid, cluster_id AS cell FROM a1 WHERE rn = 1),
probes AS (SELECT cid AS qid, cluster_id AS cell FROM a1 WHERE rn <= 4 AND cid < 5),
psub AS (
  SELECT cid, m, q[m*8+1 : m*8+8] AS sub
  FROM v CROSS JOIN (SELECT UNNEST(range(8)) AS m)
),
pseeds AS (
  SELECT m, CAST(cid AS INTEGER) AS cluster_id, sub AS c FROM psub WHERE cid < 16
),
pa0 AS (
  SELECT cid, m, cluster_id AS code FROM (
    SELECT f.cid, f.m, s.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY f.cid, f.m ORDER BY
             (list_dot_product(f.sub, f.sub) - 2 * list_dot_product(f.sub, s.c)
              + list_dot_product(s.c, s.c)) ASC, s.cluster_id ASC) AS rn
    FROM psub f JOIN pseeds s ON s.m = f.m
  ) WHERE rn = 1
),
psums AS (
  SELECT m, cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM (
    SELECT f.m, pa0.code AS cluster_id,
           UNNEST(range(1, len(f.sub) + 1)) AS pos, UNNEST(f.sub) AS x
    FROM psub f JOIN pa0 ON pa0.cid = f.cid AND pa0.m = f.m
  )
  GROUP BY m, cluster_id, pos
),
pcents AS (
  SELECT m, cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM psums GROUP BY m, cluster_id
),
codes AS (
  SELECT cid, m, cluster_id AS code FROM (
    SELECT f.cid, f.m, c.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY f.cid, f.m ORDER BY
             (list_dot_product(f.sub, f.sub) - 2 * list_dot_product(f.sub, c.c)
              + list_dot_product(c.c, c.c)) ASC, c.cluster_id ASC) AS rn
    FROM psub f JOIN pcents c ON c.m = f.m
  ) WHERE rn = 1
),
qtab AS (
  SELECT f.cid AS qid, f.m, c.cluster_id AS code,
         list_dot_product(f.sub, c.c) AS part
  FROM psub f JOIN pcents c ON c.m = f.m
  WHERE f.cid < 5
),
cand AS (
  SELECT p.qid, c.cid
  FROM cells c JOIN probes p ON p.cell = c.cell
  WHERE c.cid <> p.qid
),
adc AS (
  SELECT cand.qid AS query_id, cand.cid AS neighbor_id,
         CAST(SUM(q.part) AS BIGINT) AS adc_score
  FROM cand
  JOIN codes cd ON cd.cid = cand.cid
  JOIN qtab q ON q.qid = cand.qid AND q.m = cd.m AND q.code = cd.code
  GROUP BY cand.qid, cand.cid
)
SELECT query_id, neighbor_id, adc_score, rank FROM (
  SELECT query_id, neighbor_id, adc_score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_score DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= 5
"""


R6_REGISTRY: dict[str, Query] = {
    "similarity_ivf_sql2": Query(q_similarity_ivf_sql2, ORACLE_SIMILARITY_IVF_SQL2),
    # r6 PROMOTION: the 12-round training loop itself, hash-checked —
    # the unrolled-CTE replay makes the iterative argmax ORACLE-strength
    "bpe_merges": Query(q_bpe_merges, ORACLE_BPE_MERGES),
    "bpe_tokenize_sql": Query(q_bpe_tokenize_sql, ORACLE_BPE_TOKENIZE_SQL),
    "text_hash_features": Query(q_text_hash_features, ORACLE_TEXT_HASH_FEATURES),
    "doc_clusters_sql": Query(q_doc_clusters_sql, ORACLE_DOC_CLUSTERS_SQL),
    # r6 second-session PROMOTION: the SimHash mechanism hash-checked
    # end-to-end (md5-nibble votes -> banding -> Hamming verify)
    "dedup_simhash_sql": Query(q_dedup_simhash_sql, ORACLE_DEDUP_SIMHASH_SQL),
    # r6 second session: estimator-vs-ground-truth measurement loop
    "minhash_error_audit": Query(q_minhash_error_audit, ORACLE_MINHASH_ERROR_AUDIT),
    # r6 second session: full Gopher rule suite (registered outside the
    # 50-row driver window — locally gated now, windowed in r7)
    "gopher_rules": Query(q_gopher_rules, ORACLE_GOPHER_RULES),
    # r6 second session: PQ-ADC ANN, integer-exact (outside window, r7)
    "similarity_pq_adc": Query(q_similarity_pq_adc, ORACLE_SIMILARITY_PQ_ADC),
    # r6 second session: sketch-tier estimator audit (outside window, r7)
    "count_min_audit": Query(q_count_min_audit, ORACLE_COUNT_MIN_AUDIT),
    # r6 second session: ingestion-order novelty curve (outside window, r7)
    "ngram_novelty": Query(q_ngram_novelty, ORACLE_NGRAM_NOVELTY),
    # r6 second session: IVFPQ composition of the two proven ANN halves
    "similarity_ivfpq": Query(q_similarity_ivfpq, ORACLE_SIMILARITY_IVFPQ),
}


def _oracle_pack_bpe(num_merges: int = 12, min_freq: int = 2) -> str:
    """Tokenizer-true packing twin: the BPE chain's per-doc token
    counts feed the pack_sequences prefix-sum CTE (context 512,
    stratified by source)."""
    parts = [_BPE_BASE]
    for r in range(1, num_merges + 1):
        parts.append(_bpe_round_ctes(r, min_freq))
    final = num_merges + 1
    tail = f""", doc_words AS MATERIALIZED (
  SELECT doc_id, wp, w FROM (
    SELECT doc_id,
           UNNEST(string_split(text, ' ')) AS w,
           UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS wp
    FROM documents
  ) WHERE w <> ''
)
, cnt AS MATERIALIZED (
  SELECT dw.doc_id,
         CAST(SUM(len(COALESCE(ws.syms, [dw.w]))) AS BIGINT) AS n_tokens
  FROM doc_words dw LEFT JOIN sy{final} ws ON ws.wid = dw.w
  GROUP BY dw.doc_id
)
, t AS (
  SELECT d.doc_id, d.source, COALESCE(c.n_tokens, 0) AS n_tokens
  FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
)
, cumulated AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id AS id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       source || '-' || CAST(CAST(FLOOR((cum - n_tokens) / 512) AS BIGINT) AS VARCHAR)
         AS pack_id,
       CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset,
       CAST(FLOOR((cum - 1) / 512) - FLOOR((cum - n_tokens) / 512) + 1 AS BIGINT)
         AS n_packs_spanned
FROM cumulated"""
    return "\n".join(parts) + "\n" + tail


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-TRUE sequence packing: train BPE → tokenize → pack by
    the real token counts (pack_sequences' whitespace counts overstate
    packing density once merges shorten words).  One DAG: the tokenize
    kernel's n_tokens feeds pack_sequences' distributed prefix sum
    (context 512, per-source strata)."""
    from icebergproject_spark.llm import bpe
    from icebergproject_spark.llm import text as llm_text

    docs = _t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=12)
    vocab = bpe.bpe_vocab(docs, merges)
    toks = bpe.bpe_tokenize(docs, merges, vocab).select(
        "doc_id", F.col("n_tokens").alias("__bpe_n")
    )
    return llm_text.pack_sequences(
        docs.join(toks, "doc_id"),
        context_len=512,
        strata_col="source",
        token_count_col="__bpe_n",
    )


ORACLE_PACK_SEQUENCES_BPE = _oracle_pack_bpe(12)
R6_REGISTRY["pack_sequences_bpe"] = Query(
    q_pack_sequences_bpe, ORACLE_PACK_SEQUENCES_BPE
)
