"""Round-4 registry batch.

- ``similarity_ivf_sql`` — the IVF index promoted to ORACLE strength
  (VERDICT r3 ask #4) by making the training itself replayable: one
  integer-exact Lloyd step from data seeds (quantize → seed-assign →
  BIGINT centroid sums rescaled by member count → assign/probe → exact
  re-score).  Every stage is deterministic integer/double arithmetic
  that renders identically in ANSI SQL, so DuckDB reproduces the probed
  candidate set and the APPROXIMATE output is hash-checked at full
  strength — the ``similarity_multiprobe`` epistemics extended to a
  trained coarse quantizer.  The k-means variant (``similarity_ivf``)
  stays registered as the quality-tuned rows-only arm.
- ``pii_redaction`` — regexp-chain PII scrub (emails/IPs/phones →
  typed placeholders + hit counts) over a deterministically PII-enriched
  corpus slice, hash-checked at full strength.
- ``dsir_weights_sql`` — DSIR importance weights at ORACLE strength:
  md5-prefix buckets + integer micro-nat log-ratios so the per-doc
  weight is a partitioning-independent BIGINT sum.
- ``lm_quality_score_sql`` / ``quality_buckets_sql`` — the CCNet
  unigram LM quality score and head/middle/tail split at the same
  strength: per-token log-probs quantized once to integer micro-nats,
  BIGINT per-doc sums, ranking on the exact integer-division mean.
- ``dedup_minhash_lsh_sql`` — the LSH mechanism itself at ORACLE
  strength: md5-prefix shingle hashes and md5-minted affine
  permutations make signatures, band buckets and the candidate-pair set
  bit-identical across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from icebergproject_spark.llm import dedup
from icebergproject_spark.queries import Query, _t


def q_similarity_ivf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-strength IVF top-5 for query vectors vec_id < 5: 16
    centroids from one integer-exact Lloyd step, nprobe=4, exact cosine
    re-score on candidates (llm/similarity.ivf_sql_topk)."""
    from icebergproject_spark.llm.similarity import ivf_sql_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_sql_topk(emb, queries, k=5, n_centroids=16, nprobe=4)


# mirrors ivf_sql_topk stage for stage; all index arithmetic is
# integer-exact (quantized BIGINT sums, count-rescaled centroids), so
# both engines mint identical centroids, cells, and probe sets, and the
# final scores are the multiprobe-proven double cosine ROUND(·, 6)
ORACLE_SIMILARITY_IVF_SQL = """
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
flat AS (
  SELECT a0.cluster_id,
         UNNEST(range(1, len(v.q) + 1)) AS pos,
         UNNEST(v.q) AS x
  FROM v JOIN a0 USING (cid)
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
  SELECT v.cid, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
           list_dot_product(v.q, c.c) /
             (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
           c.cluster_id ASC) AS rn
  FROM v CROSS JOIN centroids c
),
cells AS (SELECT cid, cluster_id AS cell FROM a1 WHERE rn = 1),
probes AS (SELECT cid AS qid, cluster_id AS cell FROM a1 WHERE rn <= 4 AND cid < 5),
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


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-history verified near-dup: documents from
    source 'src0' arrive as the new batch and are LSH-banded against
    the rest of the corpus only (history never re-pairs with itself) —
    the continuously-ingested-corpus production shape
    (llm/dedup.incremental_near_dups).  Output: each duplicate new doc
    with its smallest matching history doc and the exact pair stats."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.incremental_near_dups(docs, F.col("source") == "src0")


# exact cross-set twin: brute-force batch×history distinct-3-gram
# Jaccard (oracle scale only — the Spark side is banded+verified; the
# equality rests on the same pinned no-mid-band-pairs corpus bet as
# dedup_verified, test_banding_recall_bet_pinned_explicitly)
ORACLE_DEDUP_INCREMENTAL = """
WITH sh AS (
  SELECT doc_id AS id, source, grams,
         len(grams) AS sz
  FROM (
    SELECT doc_id, source,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          FOR i IN range(1, GREATEST(len(toks)-2, 1) + 1)]) AS grams
    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
  )
),
pairs AS (
  SELECT n.id AS doc_id, h.id AS hid,
         len(list_intersect(n.grams, h.grams)) AS shared,
         n.sz AS size_new, h.sz AS size_hist
  FROM sh n JOIN sh h
    ON n.source = 'src0' AND h.source <> 'src0'
)
SELECT doc_id, dup_of, shared, size_new, size_hist FROM (
  SELECT doc_id, hid AS dup_of, shared, size_new, size_hist,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hid) AS rn
  FROM pairs
  WHERE 10 * shared >= 3 * (size_new + size_hist - shared)
) WHERE rn = 1
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus (llm/text.redact_pii): emails / IPv4s /
    phone numbers → typed placeholders, with per-doc hit counts.  The
    synthetic corpus carries no natural PII, so the query first welds a
    deterministic doc_id-derived PII suffix onto a slice of the docs
    (``doc_id % {3,4,5}`` pick email / IP / phone carriers) — both
    engines mint the identical strings, so the redaction itself (chained
    ``regexp_replace``, zero shuffle, linear in corpus bytes) is
    hash-checked at full strength, placeholders, counts and all."""
    from icebergproject_spark.llm import text as llm_text

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" contact u"), s(d), F.lit("@mail"), s(d % 7), F.lit(".com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 0,
                F.concat(F.lit(" node 10."), s(d % 256), F.lit(".0."), s(d % 250)),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" call +1 (555) 0"),
                    F.lpad(s(d % 1000), 3, "0"),
                    F.lit("-"),
                    F.lpad(s(d % 10000), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return llm_text.redact_pii(enriched)


# patterns restricted to constructs with identical Java-regex / RE2
# semantics (llm/text.PII_PATTERNS); DuckDB regexp_replace needs the
# explicit 'g' flag to match Spark's replace-all default
ORACLE_PII_REDACTION = r"""
WITH enriched AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com'
              ELSE '' END
         || CASE WHEN doc_id % 4 = 0
              THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.0.' || CAST(doc_id % 250 AS VARCHAR)
              ELSE '' END
         || CASE WHEN doc_id % 5 = 0
              THEN ' call +1 (555) 0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
           '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ips
FROM enriched
"""


def q_dsir_weights_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights at ORACLE strength
    (llm/text.dsir_importance_weights): md5-prefix hashed uni+bigram
    buckets, per-bucket log-ratio quantized once to integer micro-nats,
    per-doc weight as a partitioning-independent BIGINT sum.  Target
    slice: lang = 'en'."""
    from icebergproject_spark.llm import text as llm_text

    docs = _t(spark, sf_dir, "documents")
    return llm_text.dsir_importance_weights(docs, F.col("lang") == "en")


# mirrors dsir_importance_weights stage for stage: identical md5-nibble
# buckets, identical single-division ln() inputs, integer micro-nat
# quantization, BIGINT sums (order-independent — the float never crosses
# an aggregation boundary)
ORACLE_DSIR_WEIGHTS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, UNNEST(list_concat(
           t, [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))])) AS g
  FROM toks WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, UNNEST(t) AS g FROM toks WHERE len(t) < 2
),
feats AS (
  SELECT doc_id,
         (  (instr('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
          + (instr('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
          + (instr('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(md5(g), 4, 1)) - 1)
         ) % 1024 AS b
  FROM grams
),
docb AS (SELECT doc_id, b, COUNT(*) AS c FROM feats GROUP BY doc_id, b),
raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rc FROM docb GROUP BY b),
tgt AS (
  SELECT b, CAST(SUM(c) AS BIGINT) AS tc
  FROM docb JOIN documents USING (doc_id)
  WHERE lang = 'en' GROUP BY b
),
tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS tr FROM raw),
ttot AS (SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS tt FROM tgt),
ratio AS (
  SELECT r.b,
         CAST(ROUND((  ln((COALESCE(g.tc, 0) + 1.0) / (ttot.tt + 1024.0))
                     - ln((r.rc + 1.0) / (tot.tr + 1024.0))
                    ) * 1000000.0) AS BIGINT) AS lrm
  FROM raw r LEFT JOIN tgt g USING (b) CROSS JOIN tot CROSS JOIN ttot
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_feats,
       CAST(SUM(c * lrm) AS BIGINT) AS weight_micro
FROM docb JOIN ratio USING (b)
GROUP BY doc_id
"""


def q_lm_quality_score_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet unigram LM quality score at ORACLE strength
    (llm/text.unigram_logprob_score): per-vocab-token log-probability
    quantized once to integer micro-nats, per-doc score as a
    partitioning-independent BIGINT sum."""
    from icebergproject_spark.llm import text as llm_text

    docs = _t(spark, sf_dir, "documents")
    return llm_text.unigram_logprob_score(docs)


ORACLE_LM_QUALITY_SCORE_SQL = """
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
model AS (
  SELECT token,
         CAST(ROUND((ln(CAST(cnt AS DOUBLE)) - ln(CAST(total AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS lpm
  FROM vocab CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lpm) AS BIGINT) AS sum_lp_micro
FROM tok JOIN model USING (token)
GROUP BY doc_id
"""


def q_quality_buckets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split at ORACLE strength
    (llm/text.quality_buckets): rank by the micro-nat score's exact
    mean (one integer division → identical double in any IEEE engine),
    distributed exact-NTILE into 3 buckets."""
    from icebergproject_spark.llm import text as llm_text

    docs = _t(spark, sf_dir, "documents")
    return llm_text.quality_buckets(docs)


ORACLE_QUALITY_BUCKETS_SQL = """
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
model AS (
  SELECT token,
         CAST(ROUND((ln(CAST(cnt AS DOUBLE)) - ln(CAST(total AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS lpm
  FROM vocab CROSS JOIN tot
),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(lpm) AS BIGINT) AS sum_lp_micro
  FROM tok JOIN model USING (token)
  GROUP BY doc_id
),
b AS (
  SELECT doc_id, n_tokens, sum_lp_micro,
         ROUND(CAST(sum_lp_micro AS DOUBLE) / n_tokens, 6) AS mean_lp_micro,
         CAST(NTILE(3) OVER (
           ORDER BY CAST(sum_lp_micro AS DOUBLE) / n_tokens DESC, doc_id ASC
         ) AS INTEGER) AS bucket
  FROM scored
)
SELECT doc_id, n_tokens, sum_lp_micro, mean_lp_micro, bucket,
       CASE WHEN bucket = 1 THEN 'head'
            WHEN bucket = 3 THEN 'tail'
            ELSE 'middle' END AS bucket_label
FROM b
"""


def q_dedup_minhash_lsh_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation at ORACLE strength
    (llm/dedup.minhash_lsh_candidates) at the 16-hash / 8-band / 2-row
    operating point (knee ≈ 0.35, protecting J ≥ 0.3): one md5-prefix
    hash per shingle and md5-minted affine permutations make the
    signatures, band buckets, and candidate-pair set bit-identical
    across engines — DuckDB replays the LSH mechanism itself, not just a
    downstream verification."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8)


ORACLE_DEDUP_MINHASH_LSH_SQL = f"""
WITH {dedup.minhash_bands_sql(16, 8)}
SELECT id_a, id_b, n_shared_bands FROM pairs
"""


def _lsh_components_sql(
    num_hashes: int, bands: int, where: str = "TRUE", sfx: str = ""
) -> str:
    """The md5-LSH candidate CTEs (llm/dedup.minhash_bands_sql) over
    ``documents WHERE {where}`` feeding the recursive min-reachable-id
    closure — ``lab{sfx}(doc_id, cluster_id)`` is the SQL replay of
    ``connected_components`` over ``minhash_lsh_candidates``.  CTE names
    carry ``sfx`` so two instances (base slice, full corpus) coexist.
    Needs ``WITH RECURSIVE``."""
    return f"""{dedup.minhash_bands_sql(num_hashes, bands, where, sfx)},
edges{sfx} AS (
  SELECT id_a AS s, id_b AS d FROM pairs{sfx}
  UNION ALL SELECT id_b, id_a FROM pairs{sfx}
),
reach{sfx}(node, r) AS (
  SELECT doc_id, doc_id FROM documents WHERE {where}
  UNION
  SELECT e.d, reach{sfx}.r FROM reach{sfx} JOIN edges{sfx} e ON e.s = reach{sfx}.node
),
lab{sfx} AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach{sfx} GROUP BY node)"""


def q_similarity_lsh_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-5 at ORACLE strength
    (llm/similarity.lsh_topk): md5-minted integer hyperplane weights +
    BIGINT projections mean the sign bit can never flip from float
    noise — DuckDB replays the identical buckets, candidate set, and
    ranking.  4 planes, query vectors vec_id < 5."""
    from icebergproject_spark.llm.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, dim=64, k=5, planes=4)


def _sign_bucket_ctes(planes: int, dim: int) -> str:
    """``v(cid, e, q)`` + ``b(cid, e, n, bucket)``: every vector with its
    norm and its sign-LSH bucket — the SQL replay of the bucketing
    shared by lsh_topk and embedding_near_pairs_lsh (quantized grid,
    llm/similarity.lsh_weights planes, int_sign_bucket_sql)."""
    from icebergproject_spark.llm.similarity import (
        LSH_QUANT,
        int_sign_bucket_sql,
        lsh_weights,
    )

    bucket = int_sign_bucket_sql(lsh_weights(planes, dim))
    return f"""v AS (
  SELECT vec_id AS cid,
         CAST(embedding AS DOUBLE[]) AS e,
         [CAST(ROUND(x * {LSH_QUANT}) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
b AS (SELECT cid, e, sqrt(list_dot_product(e, e)) AS n, {bucket} AS bucket FROM v)"""


ORACLE_SIMILARITY_LSH_SQL = f"""
WITH {_sign_bucket_ctes(4, 64)},
scored AS (
  SELECT qb.cid AS query_id, cb.cid AS neighbor_id,
         list_dot_product(qb.e, cb.e) / (qb.n * cb.n) AS s
  FROM b qb JOIN b cb ON qb.bucket = cb.bucket AND cb.cid <> qb.cid
  WHERE qb.cid < 5
),
ranked AS (
  SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


def q_dedup_embedding_lsh_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup at ORACLE strength
    (llm/dedup.embedding_near_pairs_lsh): integer sign-LSH buckets +
    bit-identical double cosine make the bucket pruning itself
    SQL-replayable.  4 planes, threshold 0.35."""
    from icebergproject_spark.llm.dedup import embedding_near_pairs_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_pairs_lsh(emb, dim=64, threshold=0.35, planes=4)


ORACLE_DEDUP_EMBEDDING_LSH_SQL = f"""
WITH {_sign_bucket_ctes(4, 64)}
SELECT a.cid AS id_a, c.cid AS id_b,
       ROUND(list_dot_product(a.e, c.e) / (a.n * c.n), 6) AS score
FROM b a JOIN b c ON a.bucket = c.bucket AND a.cid < c.cid
WHERE ROUND(list_dot_product(a.e, c.e) / (a.n * c.n), 6) >= 0.35
"""


def q_dedup_semantic_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at ORACLE strength (llm/dedup.semantic_near_pairs_sql):
    integer-exact one-step Lloyd cells (shared with similarity_ivf_sql)
    + bit-identical within-cell cosine — DuckDB replays the cluster
    partition AND the pair set.  k=8 cells, threshold 0.35 (the
    dedup_semantic operating point).  The iterative-k-means BLAS arm
    stays rows-only (``dedup_semantic``)."""
    from icebergproject_spark.llm.dedup import semantic_near_pairs_sql

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_near_pairs_sql(emb, dim=64, k=8, threshold=0.35)


# same training CTEs as ORACLE_SIMILARITY_IVF_SQL with 8 seeds, then a
# cell-equi self-join with the proven ROUND(cos, 6) threshold decision
ORACLE_DEDUP_SEMANTIC_SQL = """
WITH v AS (
  SELECT vec_id AS cid,
         CAST(embedding AS DOUBLE[]) AS e,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
seeds AS (
  SELECT CAST(cid AS INTEGER) AS cluster_id, q AS c FROM v WHERE cid < 8
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
flat AS (
  SELECT a0.cluster_id,
         UNNEST(range(1, len(v.q) + 1)) AS pos,
         UNNEST(v.q) AS x
  FROM v JOIN a0 USING (cid)
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
  SELECT v.cid, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
           list_dot_product(v.q, c.c) /
             (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
           c.cluster_id ASC) AS rn
  FROM v CROSS JOIN centroids c
),
cells AS (SELECT cid, cluster_id AS cell FROM a1 WHERE rn = 1),
vn AS (SELECT cid, e, sqrt(list_dot_product(e, e)) AS n FROM v)
SELECT a.cid AS id_a, b.cid AS id_b,
       ROUND(list_dot_product(va.e, vb.e) / (va.n * vb.n), 6) AS score
FROM cells a
JOIN cells b ON a.cell = b.cell AND a.cid < b.cid
JOIN vn va ON va.cid = a.cid
JOIN vn vb ON vb.cid = b.cid
WHERE ROUND(list_dot_product(va.e, vb.e) / (va.n * vb.n), 6) >= 0.35
"""


def q_embedding_kmeans_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means cluster assignment at ORACLE strength: one integer-exact
    Lloyd step from data seeds (llm/similarity.int_lloyd_cells, the
    training shared by similarity_ivf_sql and dedup_semantic_sql), k=8.
    Output: (vec_id, cluster_id).  The 5-iteration mapInPandas Lloyd
    stays rows-only (``embedding_kmeans``) — this arm trades iterations
    for a bit-exact cross-engine replay of the assignment."""
    from icebergproject_spark.llm.similarity import (
        int_lloyd_cells,
        int_quantized_base,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = int_quantized_base(emb)
    cells, _ = int_lloyd_cells(base, 8)
    return cells.select(
        F.col("cid").alias("vec_id"), F.col("__cell").alias("cluster_id")
    )


ORACLE_EMBEDDING_KMEANS_SQL = """
WITH v AS (
  SELECT vec_id AS cid,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
seeds AS (
  SELECT CAST(cid AS INTEGER) AS cluster_id, q AS c FROM v WHERE cid < 8
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
flat AS (
  SELECT a0.cluster_id,
         UNNEST(range(1, len(v.q) + 1)) AS pos,
         UNNEST(v.q) AS x
  FROM v JOIN a0 USING (cid)
),
sums AS (
  SELECT cluster_id, pos, SUM(CAST(x AS BIGINT)) AS s, COUNT(*) AS n
  FROM flat GROUP BY cluster_id, pos
),
centroids AS (
  SELECT cluster_id,
         array_agg(CAST(ROUND(s / n) AS DOUBLE) ORDER BY pos) AS c
  FROM sums GROUP BY cluster_id
)
SELECT cid AS vec_id, CAST(cluster_id AS INTEGER) AS cluster_id FROM (
  SELECT v.cid, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY v.cid ORDER BY
           list_dot_product(v.q, c.c) /
             (sqrt(list_dot_product(v.q, v.q)) * sqrt(list_dot_product(c.c, c.c))) DESC,
           c.cluster_id ASC) AS rn
  FROM v CROSS JOIN centroids c
) WHERE rn = 1
"""


def q_dedup_clusters_lsh_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup composition — LSH candidate edges resolved into
    clusters by connected components — at ORACLE strength end to end:
    edges are the md5-LSH candidate set at 16 hashes / 8 bands
    (llm/dedup.minhash_lsh_candidates — bit-identical across engines,
    false positives included BY DESIGN, no Jaccard verify tier),
    clusters are the same large-star/small-star components as
    ``dedup_clusters``.  DuckDB replays the approximate edge generator
    AND the transitive closure, so the whole pipeline is hash-checked
    (``dedup_clusters`` uses exact edges; its LSH generator is equal
    only by the pinned corpus bet)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8)
    comp = dedup.connected_components(
        pairs, nodes=docs.select("doc_id"), node_col="doc_id"
    )
    from pyspark.sql.window import Window

    return comp.select(F.col("node").alias("doc_id"), "cluster_id").withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )


ORACLE_DEDUP_CLUSTERS_LSH_SQL = f"""
WITH RECURSIVE {_lsh_components_sql(16, 8)}
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


R4_REGISTRY: dict[str, Query] = {
    "similarity_ivf_sql": Query(q_similarity_ivf_sql, ORACLE_SIMILARITY_IVF_SQL),
    "dedup_incremental": Query(q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    "pii_redaction": Query(q_pii_redaction, ORACLE_PII_REDACTION),
    "dsir_weights_sql": Query(q_dsir_weights_sql, ORACLE_DSIR_WEIGHTS_SQL),
    "lm_quality_score_sql": Query(
        q_lm_quality_score_sql, ORACLE_LM_QUALITY_SCORE_SQL
    ),
    "quality_buckets_sql": Query(q_quality_buckets_sql, ORACLE_QUALITY_BUCKETS_SQL),
    "dedup_minhash_lsh_sql": Query(
        q_dedup_minhash_lsh_sql, ORACLE_DEDUP_MINHASH_LSH_SQL
    ),
    "similarity_lsh_sql": Query(q_similarity_lsh_sql, ORACLE_SIMILARITY_LSH_SQL),
    "dedup_embedding_lsh_sql": Query(
        q_dedup_embedding_lsh_sql, ORACLE_DEDUP_EMBEDDING_LSH_SQL
    ),
    "dedup_semantic_sql": Query(q_dedup_semantic_sql, ORACLE_DEDUP_SEMANTIC_SQL),
    "embedding_kmeans_sql": Query(
        q_embedding_kmeans_sql, ORACLE_EMBEDDING_KMEANS_SQL
    ),
    "dedup_clusters_lsh_sql": Query(
        q_dedup_clusters_lsh_sql, ORACLE_DEDUP_CLUSTERS_LSH_SQL
    ),
}
