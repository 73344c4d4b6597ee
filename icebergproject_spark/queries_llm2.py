"""Third LLM-pipeline registry batch: substring-level dedup, training
shard layout, curriculum binning, and full BPE merge training.

These continue the training-data-pipeline surface (extension beyond the
reference — /root/reference stops at the serving layer): the steps
between "corpus is deduplicated" and "trainer reads shards".  All but
``bpe_merges`` carry DuckDB oracles; the BPE training loop is iterative
(argmax per round) and has no SQL twin, so it is rows-only + pytest
against a pure-Python Sennrich-reference implementation.
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401  (parity with sibling modules)
from pyspark.sql import DataFrame, SparkSession

from icebergproject_spark.queries import Query, _t


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated k-token-window profile (Lee et al. 2022
    ExactSubstr shape): which docs contain spans repeated verbatim
    elsewhere in the corpus. k=8 keeps the window count per doc high
    enough to be discriminative on the harness corpus."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, k=8, min_docs=2)


# group by the window STRING here vs xxhash64 on the Spark side: counts
# are equal unless two distinct 8-token windows collide in 64 bits
# (~|windows|²/2⁶⁴ — vanishing, and the key never surfaces in output)
ORACLE_DUPLICATE_SPANS = """
WITH wins AS (
  SELECT doc_id,
         UNNEST([array_to_string(toks[i:i+7], ' ')
                 FOR i IN range(1, GREATEST(len(toks) - 8 + 1, 0) + 1)]) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 8
),
tot AS (SELECT doc_id, COUNT(*) AS total_windows FROM wins GROUP BY doc_id),
shared AS (
  SELECT w FROM wins GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
),
dup AS (
  SELECT doc_id, COUNT(*) AS dup_windows
  FROM wins JOIN shared USING (w) GROUP BY doc_id
)
SELECT t.doc_id,
       t.total_windows,
       COALESCE(d.dup_windows, 0) AS dup_windows,
       ROUND(CAST(COALESCE(d.dup_windows, 0) AS DOUBLE)
             / CAST(t.total_windows AS DOUBLE), 6) AS dup_ratio
FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
"""


def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022): duplicated 8-token windows
    keep one global survivor occurrence; every other occurrence's tokens
    are deleted and documents are rebuilt."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs, k=8)


ORACLE_REMOVE_SPANS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
wins AS (
  SELECT doc_id,
         UNNEST([{'pos': i, 'w': array_to_string(toks[i+1:i+8], ' ')}
                 FOR i IN range(0, GREATEST(len(toks) - 8 + 1, 0))],
                recursive := true)
  FROM t
),
occ AS (
  SELECT doc_id, pos, w, CAST(doc_id AS BIGINT) * 1048576 + pos AS k FROM wins
),
agg AS (SELECT w, COUNT(*) AS cnt, MIN(k) AS surv FROM occ GROUP BY w),
doomed AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN agg a USING (w)
  WHERE a.cnt >= 2 AND o.k <> a.surv
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS pos
  FROM doomed, UNNEST(range(0, 8)) AS u(j)
),
tokens AS (
  SELECT doc_id,
         UNNEST([{'pos': i, 'tok': toks[i+1]} FOR i IN range(0, len(toks))],
                recursive := true)
  FROM t
),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM tokens tk ANTI JOIN covered c
    ON tk.doc_id = c.doc_id AND tk.pos = c.pos
),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN reb r USING (doc_id)
"""


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout: md5-keyed global shuffle,
    16 shards, round-robin deal.  Exact distributed rank (range sort +
    per-partition row_number + broadcast offsets), byte-identical to the
    global-window SQL the oracle runs, with no single-partition stage."""
    from icebergproject_spark.llm import sharding

    docs = _t(spark, sf_dir, "documents")
    return sharding.global_shuffle(docs, num_shards=16, salt="seed0")


ORACLE_GLOBAL_SHUFFLE = """
WITH keyed AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY md5('seed0' || '-' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id,
       CAST((rn - 1) % 16 AS BIGINT) AS shard,
       CAST(rn - 1 AS BIGINT) AS pos
FROM keyed
"""


def q_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum: NTILE(10) over (token count, id) —
    exact distributed NTILE (no global window), hash-equal to the NTILE
    oracle."""
    from icebergproject_spark.llm import sharding

    docs = _t(spark, sf_dir, "documents")
    return sharding.curriculum_bins(docs, num_bins=10)


ORACLE_CURRICULUM_BINS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(NTILE(10) OVER (
         ORDER BY len(string_split(text, ' ')) ASC, doc_id ASC
       ) AS INTEGER) AS bin
FROM documents
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-training loop (Sennrich et al. 2016), 12 rounds.
    Iterative distributed argmax — no SQL oracle (rows-only); the merge
    table is pytest-pinned against a pure-Python reference trainer."""
    from icebergproject_spark.llm import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_train_df(docs, num_merges=12)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-partitioned semantic
    near-dup pairs — Σ|cluster|² work instead of n². Iterative k-means
    has no SQL twin (rows-only); recall vs the exact all-pairs tier is
    pytest-pinned on separable data."""
    from icebergproject_spark.llm import dedup

    emb = _t(spark, sf_dir, "embeddings")
    return dedup.semantic_near_pairs(emb, dim=64, k=8, threshold=0.35)


def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing on Spark 4's VARIANT type: parse the
    JSON props payload once into a variant column (binary-encoded,
    shredded access — the engine-native successor to repeated
    get_json_object calls), extract a typed path, aggregate. The variant
    is internal only — output columns are plain types, so DuckDB's JSON
    functions oracle-check the result exactly."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("k").alias("k_distinct"),
            F.round(F.avg("k"), 6).alias("k_avg"),
        )
    )


ORACLE_EVENTS_VARIANT = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS k_distinct,
       ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS k_avg
FROM events
GROUP BY event_type
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN graph over the embeddings table (blocked-gemm scoring,
    per-node window top-k; rank on the rounded score for engine-stable
    ties)."""
    from icebergproject_spark.llm import similarity

    emb = _t(spark, sf_dir, "embeddings")
    # n_blocks=6 → 21 independent gemm tiles: the harness tables are far
    # below the ~25k-vectors-per-block default (which would yield ONE
    # tile = one task); at real scale leave n_blocks to the heuristic
    return similarity.knn_graph(emb, k=5, n_blocks=6)


ORACLE_KNN_GRAPH = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM p
)
SELECT * FROM ranked WHERE rank <= 5
"""


def q_lineitem_unpivot_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long reshape — the inverse of user_type_pivot's
    PIVOT): melt lineitem's four numeric measures into (metric, value)
    rows, then profile each metric. The melt is a zero-shuffle
    projection (Expand node); only the profile aggregate shuffles —
    metric cardinality is 4, so the reduced relation is tiny at any SF."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.select(
        *[F.col(c).cast("double").alias(c)
          for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")]
    ).unpivot([], ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
              "metric", "value")
    return melted.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.min("value"), 2).alias("vmin"),
        F.round(F.max("value"), 2).alias("vmax"),
    )


ORACLE_UNPIVOT = """
WITH melted AS (
  UNPIVOT (
    SELECT CAST(l_quantity AS DOUBLE) AS l_quantity,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(l_discount AS DOUBLE) AS l_discount,
           CAST(l_tax AS DOUBLE) AS l_tax
    FROM lineitem
  ) ON l_quantity, l_extendedprice, l_discount, l_tax
  INTO NAME metric VALUE value
)
SELECT metric,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total,
       ROUND(MIN(value), 2) AS vmin,
       ROUND(MAX(value), 2) AS vmax
FROM melted
GROUP BY metric
"""


def q_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM preprocessing pipeline as ONE Catalyst DAG (the
    training-data counterpart of browse_pipeline_e2e's medallion flow),
    v2 — now exercising the span tier it ships:

      normalize → exact-dedup survivors → ExactSubstr span removal
      (Lee et al. 2022, k=8) → benchmark decontamination (drop held-out
      docs AND docs sharing ≥2 distinct 3-grams with them) → quality
      gate on the CLEANED text → deterministic map-side shard.

    Where a production stack runs six jobs with intermediate
    materializations, this is one declarative plan.  Shuffle census:
    dedup groupBy, span-window groupBy + covered-position distinct +
    rebuild groupBy (the span tier's three — linear, no self-join),
    contamination gram join (benchmark side broadcast).  Shard
    assignment stays the map-side ``hash_shard`` — no global order, no
    single-partition window at any scale.
    Output: (doc_id, shard, n_tokens, n_removed, n_chars_clean) for
    surviving docs; n_tokens counts the CLEANED text's tokens and
    n_removed is how many original tokens the span tier deleted.
    """
    from icebergproject_spark.llm import dedup as llm_dedup
    from icebergproject_spark.llm import text as llm_text
    from icebergproject_spark.llm.sharding import hash_shard

    docs = _t(spark, sf_dir, "documents")
    norm = llm_text.normalize_text(docs)
    surv = norm.groupBy(F.md5("norm_text").alias("__d")).agg(
        F.min("doc_id").alias("doc_id"),
        F.first("norm_text").alias("norm_text"),
    )
    # LAZY checkpoints (eager=False — no job at build time) pin the two
    # relations the DAG consumes from several branches: the span tier
    # reads `surv` three ways (windows, tokens, totals) and the
    # decontamination + gate read `clean` three more.  Without the pins
    # Catalyst recomputes every branch from the parquet scan (the plan
    # audit showed 12 corpus scans); with them each tier materializes
    # once — at 100 TB that trade is decisively right.
    surv = surv.localCheckpoint(eager=False)
    # span tier over the deduped corpus: (doc_id, clean_text, n_tokens,
    # n_removed)
    clean = llm_dedup.remove_duplicate_spans(
        surv, content_col="norm_text", id_col="doc_id", k=8
    ).localCheckpoint(eager=False)
    # decontamination: every 97th doc is the held-out benchmark stand-in;
    # bench docs leave the training set, and so does anything sharing
    # ≥2 distinct 3-grams of CLEANED text with them
    bench = clean.filter((F.col("doc_id") % 97) == 0).select(
        F.col("doc_id").alias("bench_id"), "clean_text"
    )
    contaminated = (
        llm_text.contamination_pairs(
            clean.select("doc_id", "clean_text"),
            bench,
            content_col="clean_text",
            n=3,
            min_shared=2,
            exclude_same_id=True,
        )
        .select("doc_id")
        .distinct()
    )
    kept = clean.filter((F.col("doc_id") % 97) != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    ctoks = F.split("clean_text", " ")
    n_tok = F.size(ctoks)
    n_distinct = F.size(F.array_distinct(ctoks))
    n_punct = F.length(F.regexp_replace("clean_text", "[^.,!?;:]", ""))
    n_chars = F.length("clean_text")
    gated = kept.filter(
        (n_tok >= 50) & (n_distinct * 3 >= n_tok) & (n_punct * 20 <= n_chars)
    )
    return gated.select(
        "doc_id",
        hash_shard("doc_id", "seed0", 16).alias("shard"),
        n_tok.cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        n_chars.cast("long").alias("n_chars_clean"),
    )


ORACLE_CORPUS_PIPELINE = r"""
WITH norm AS (
  SELECT doc_id,
         TRIM(regexp_replace(regexp_replace(LOWER(text), '[\x00-\x1F\x7F]', ' ', 'g'),
                             '\s{2,}', ' ', 'g')) AS norm_text
  FROM documents
),
surv AS (
  SELECT MIN(doc_id) AS doc_id, norm_text
  FROM norm GROUP BY norm_text
),
t AS (SELECT doc_id, string_split(norm_text, ' ') AS toks FROM surv),
wins AS (
  SELECT doc_id,
         UNNEST([{'pos': i, 'w': array_to_string(toks[i+1:i+8], ' ')}
                 FOR i IN range(0, GREATEST(len(toks) - 8 + 1, 0))],
                recursive := true)
  FROM t
),
occ AS (
  SELECT doc_id, pos, w, CAST(doc_id AS BIGINT) * 1048576 + pos AS k FROM wins
),
agg AS (SELECT w, COUNT(*) AS cnt, MIN(k) AS surv FROM occ GROUP BY w),
doomed AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN agg a USING (w)
  WHERE a.cnt >= 2 AND o.k <> a.surv
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS pos
  FROM doomed, UNNEST(range(0, 8)) AS u(j)
),
tokens AS (
  SELECT doc_id,
         UNNEST([{'pos': i, 'tok': toks[i+1]} FOR i IN range(0, len(toks))],
                recursive := true)
  FROM t
),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM tokens tk ANTI JOIN covered c
    ON tk.doc_id = c.doc_id AND tk.pos = c.pos
),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
),
clean AS (
  SELECT t.doc_id,
         COALESCE(r.clean_text, '') AS clean_text,
         len(t.toks) - COALESCE(r.n_kept, 0) AS n_removed
  FROM t LEFT JOIN reb r USING (doc_id)
),
grams AS (
  SELECT doc_id, UNNEST(list_distinct([array_to_string(ctoks[i:i+2], ' ')
                         FOR i IN range(1, GREATEST(len(ctoks)-2, 1) + 1)])) AS g
  FROM (SELECT doc_id, string_split(clean_text, ' ') AS ctoks FROM clean)
),
contaminated AS (
  SELECT doc_id FROM (
    SELECT d.doc_id, b.doc_id AS bid
    FROM grams d JOIN grams b ON d.g = b.g
    WHERE b.doc_id % 97 = 0 AND d.doc_id <> b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
  ) GROUP BY doc_id
),
final AS (
  SELECT c.doc_id, c.clean_text, c.n_removed,
         string_split(c.clean_text, ' ') AS ctoks
  FROM clean c
  WHERE c.doc_id % 97 <> 0
    AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
gated AS (
  SELECT doc_id,
         len(ctoks) AS n_tokens,
         n_removed,
         LENGTH(clean_text) AS n_chars_clean
  FROM final
  WHERE len(ctoks) >= 50
    AND len(list_distinct(ctoks)) * 3 >= len(ctoks)
    AND LENGTH(regexp_replace(clean_text, '[^.,!?;:]', '', 'g')) * 20
        <= LENGTH(clean_text)
)
SELECT doc_id,
       CAST((
           (instr('0123456789abcdef', substr(md5('seed0' || '-' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
         + (instr('0123456789abcdef', substr(md5('seed0' || '-' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
         + (instr('0123456789abcdef', substr(md5('seed0' || '-' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
         + (instr('0123456789abcdef', substr(md5('seed0' || '-' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
       ) % 16 AS BIGINT) AS shard,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_chars_clean AS BIGINT) AS n_chars_clean
FROM gated
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each vector,
    its nearest neighbors (cosine, from the exact k-NN graph) that carry
    a DIFFERENT label — the semantically-close-but-wrong examples a
    contrastive/embedding objective learns the most from.  One broadcast
    label join on each side of the 10-NN graph, then keep cross-label
    edges re-ranked per query.  Scale path inherits knn_graph's: swap
    the exact graph for the IVF/LSH-bucketed one."""
    from pyspark.sql.window import Window

    from icebergproject_spark.llm import similarity

    emb = _t(spark, sf_dir, "embeddings")
    graph = similarity.knn_graph(emb, k=10, n_blocks=6)
    labels = emb.select("vec_id", "label")
    ql = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    nl = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neighbor_label")
    )
    crossed = (
        graph.join(F.broadcast(ql), "query_id")
        .join(F.broadcast(nl), "neighbor_id")
        .filter(F.col("query_label") != F.col("neighbor_label"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        crossed.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "score", "neg_rank",
        )
    )


ORACLE_HARD_NEGATIVES = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         a.label AS query_label, b.label AS neighbor_label,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
knn AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
         ) AS rank
  FROM p
),
crossed AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, score
  FROM knn WHERE rank <= 10 AND query_label <> neighbor_label
)
SELECT query_id, query_label, neighbor_id, neighbor_label, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
       ) AS INTEGER) AS neg_rank
FROM crossed
QUALIFY neg_rank <= 3
"""


def q_mixing_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the mT5/multilingual-sampling
    rule: sample source i ∝ p_i^alpha, alpha=0.3 — flattens the Zipfian
    source skew without going fully uniform like mixing_weights' target).
    One aggregate + a scalar normalizer; pow/division rounded to 6 on
    both engines."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), 0.3)).alias("z"),
    )
    j = per_src.crossJoin(F.broadcast(totals))
    p = F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")
    q = F.pow(F.col("n_tokens").cast("double"), 0.3) / F.col("z")
    return j.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(p, 6).alias("natural_share"),
        F.round(q, 6).alias("temperature_share"),
        F.round(q / p, 6).alias("boost"),
    )


ORACLE_MIXING_TEMPERATURE = """
WITH per_src AS (
  SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_tokens) AS total_tokens,
         SUM(POW(CAST(n_tokens AS DOUBLE), 0.3)) AS z
  FROM per_src
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
         AS natural_share,
       ROUND(POW(CAST(n_tokens AS DOUBLE), 0.3) / z, 6) AS temperature_share,
       ROUND((POW(CAST(n_tokens AS DOUBLE), 0.3) / z)
             / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)), 6)
         AS boost
FROM per_src CROSS JOIN tot
"""


def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination, GPT-3 style (any shared k-token
    window flags the doc — Brown et al. 2020 used 13-grams; k=8 here
    for the short synthetic docs). Benchmark stand-in: every 97th doc,
    which trivially self-collides — those rows prove the detector and
    the interesting rows are the OTHER docs sharing its spans."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return dedup.window_contamination(docs, bench, k=8)


ORACLE_CONTAMINATION_SPANS = """
WITH cw AS (
  SELECT doc_id,
         UNNEST([array_to_string(toks[i+1:i+8], ' ')
                 FOR i IN range(0, GREATEST(len(toks) - 8 + 1, 0))]) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 8
),
bw AS (
  SELECT DISTINCT
         UNNEST([array_to_string(toks[i+1:i+8], ' ')
                 FOR i IN range(0, GREATEST(len(toks) - 8 + 1, 0))]) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % 97 = 0)
  WHERE len(toks) >= 8
)
SELECT doc_id, COUNT(*) AS n_hits
FROM cw JOIN bw USING (w)
GROUP BY doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: 64-token windows, 16-token overlap, tail kept.
    Arrow-batched kernel, deterministic → DuckDB-oracle-checked."""
    from icebergproject_spark.llm import text as llm_text

    docs = _t(spark, sf_dir, "documents")
    return llm_text.chunk_documents(docs, chunk_tokens=64, overlap=16)


# stride = 64 - 16 = 48; starts at 0,48,96,... until a window reaches
# the end (the first start with start+64 >= len emits the tail and stops)
ORACLE_CHUNK_DOCUMENTS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
starts AS (
  SELECT doc_id, toks,
         UNNEST([s FOR s IN range(0, GREATEST(len(toks), 1), 48)
                 IF s = 0 OR s - 48 + 64 < len(toks)]) AS s
  FROM t
)
SELECT doc_id,
       CAST(s / 48 AS INTEGER) AS chunk_id,
       CAST(LEAST(64, len(toks) - s) AS BIGINT) AS n_tokens,
       array_to_string(toks[s+1:s+64], ' ') AS chunk_text
FROM starts
"""


LLM2_REGISTRY = {
    "chunk_documents": Query(q_chunk_documents, ORACLE_CHUNK_DOCUMENTS),
    "contamination_spans": Query(q_contamination_spans, ORACLE_CONTAMINATION_SPANS),
    "mixing_temperature": Query(q_mixing_temperature, ORACLE_MIXING_TEMPERATURE),
    "hard_negatives": Query(q_hard_negatives, ORACLE_HARD_NEGATIVES),
    "corpus_pipeline_e2e": Query(q_corpus_pipeline_e2e, ORACLE_CORPUS_PIPELINE),
    "lineitem_unpivot_profile": Query(
        q_lineitem_unpivot_profile, ORACLE_UNPIVOT
    ),
    "knn_graph": Query(q_knn_graph, ORACLE_KNN_GRAPH),
    "events_props_variant": Query(q_events_props_variant, ORACLE_EVENTS_VARIANT),
    "dedup_semantic": Query(q_dedup_semantic, None),
    "duplicate_spans": Query(q_duplicate_spans, ORACLE_DUPLICATE_SPANS),
    "remove_duplicate_spans": Query(q_remove_duplicate_spans, ORACLE_REMOVE_SPANS),
    "global_shuffle": Query(q_global_shuffle, ORACLE_GLOBAL_SHUFFLE),
    "curriculum_bins": Query(q_curriculum_bins, ORACLE_CURRICULUM_BINS),
    "bpe_merges": Query(q_bpe_merges, None),
}
