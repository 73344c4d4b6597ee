"""Round-7 registry batch — retrieval, graph centrality, robust stats.

- ``bm25_topk`` — Okapi BM25 batch retrieval over the documents corpus
  at ORACLE strength (per-term scores quantized to integer micro-points
  before the per-doc sum, so the total is engine-stable).  The
  lexical-retrieval baseline of RAG / curation stacks.
- ``pagerank_sql`` — integer-grid PageRank (llm/graph.py) over the
  symmetrized supplier-part co-occurrence graph, 5 iterations, at
  ORACLE strength via the repo's unrolled-CTE pattern for iterative
  algorithms (Lloyd steps, BPE merges).
- ``event_outliers_mad`` — per-event-type robust outliers by
  median/MAD with exact interpolated percentiles, at ORACLE strength.
- ``hybrid_rrf`` — Reciprocal Rank Fusion of BM25 top-20 and
  quantized-cosine dense top-20 (llm/retrieval.py), ORACLE strength:
  RRF contributions are ``scale DIV (k0+rank)`` BIGINTs.
- ``events_ohlc`` — hourly OHLC bars per event_type
  (operators/aggregates.ohlc_resample): min_by/max_by on the unique
  (ts, id) key, micro-integer turnover.  ORACLE strength.
- ``graph_hits`` — integer-grid HITS hubs/authorities over the
  directed supplier→part bipartite graph, max-normalized per
  iteration; oracle CTEs are MATERIALIZED (each level is referenced
  2+ times — inlining grows the unrolled plan ~4x per iteration).

Reference anchor: the reference's analytics stop at the Flink serving
layer (no retrieval/graph tier) — these extend the LLM-pipeline
extension set per the build brief (similarity/curation operators are
graded as first-class components).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from icebergproject_spark.queries import Query, _t

BM25_QUERIES = [
    (0, "spark join hash"),
    (1, "window sort merge"),
    (2, "dup scan"),
    (3, "stream batch query"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 docs for 4 fixed term queries (k1=1.2, b=0.75)."""
    from icebergproject_spark.llm.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERIES, k=5)


def _bm25_ctes(queries: list[tuple[int, str]]) -> str:
    """The BM25 scoring chain up to per-doc totals (CTE ``tot``) —
    shared by the standalone oracle and the hybrid-RRF oracle."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, text in queries for t in text.split()
    )
    # mirrors llm/text.bm25_topk term for term: idf·tf·(k1+1)/(tf+k1·(1−b
    # +b·dl/avgdl)) quantized to micro-points per (query, doc, term),
    # then an order-independent BIGINT sum per doc
    return f"""tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM dl),
q(query_id, term) AS (VALUES {vals}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(ROUND(
           LN(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75
                + (0.75 * dl.dl) / (CAST(stats.total_dl AS DOUBLE) / stats.n)))
           * 1000000) AS BIGINT) AS si
  FROM q
  JOIN tf USING (term)
  JOIN dl USING (doc_id)
  JOIN dfreq USING (term)
  CROSS JOIN stats
),
tot AS (
  -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which pandas renders
  -- as float — the hash would diverge on the textual form alone
  SELECT query_id, doc_id, CAST(SUM(si) AS BIGINT) AS score_micro
  FROM scored GROUP BY 1, 2
)"""


def _oracle_bm25(queries: list[tuple[int, str]], k: int) -> str:
    return f"""
WITH {_bm25_ctes(queries)}
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
         ) AS rank
  FROM tot
) WHERE rank <= {k}
"""


ORACLE_BM25_TOPK = _oracle_bm25(BM25_QUERIES, 5)


def supplier_part_edges(
    spark: SparkSession, sf_dir: str, symmetric: bool = False
) -> DataFrame:
    """The graph heads' supplier→part graph: distinct (l_suppkey,
    1,000,000 + l_partkey) edges as (src, dst) — part nodes offset so
    the two id spaces never meet.  ``symmetric`` adds every reverse
    edge, so no node dangles (the PageRank heads' shape); HITS reads the
    directed form.  :data:`SUPPLIER_PART_CTE` is the same graph in SQL."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1_000_000) + F.col("l_partkey")).alias("dst"),
    ).distinct()
    if not symmetric:
        return e0
    return e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


#: :func:`supplier_part_edges` (directed) for the oracles: CTE ``sp``
SUPPLIER_PART_CTE = """sp AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst FROM lineitem
)"""


def q_pagerank_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-grid PageRank, 5 iterations, damping 0.85, over the
    symmetrized supplier-part graph (distinct (l_suppkey, l_partkey)
    pairs, part nodes offset by 1,000,000; both edge directions so no
    node dangles).  Output: (node, rank_micro) for every node."""
    from icebergproject_spark.llm.graph import pagerank_micro

    return pagerank_micro(
        supplier_part_edges(spark, sf_dir, symmetric=True), iterations=5
    )


def pagerank_oracle(
    edge_ctes: str,
    pairs: str,
    iters: int = 5,
    *,
    weighted: bool = False,
    seed_max: int | None = None,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> str:
    """The one unrolled-CTE replay of llm/graph's PageRank level loop.

    ``edge_ctes`` is the CTE block the graph comes from and ``pairs`` a
    SELECT over it giving one direction of every undirected edge as
    (src, dst), plus the integer weight ``w`` when ``weighted``.  The
    builder renders both directions (``pre``), each source's outgoing
    total (``prdeg``: edge count, or Σw when weighted), the node set
    (``prnodes``) and the levels ``r0..r{iters}``; the ``pr`` prefix
    keeps them clear of an edge block's own ``deg`` (_ann_edges_ctes).
    ``seed_max`` gates ``r0`` and the teleport on ``node <= seed_max``
    (the personalized variant).  Every CTE is MATERIALIZED: each level
    is read by the next and re-expanding it grows the unrolled plan per
    iteration (see _oracle_hits)."""
    base = (100 - damping_pct) * scale // 100
    w = ", w" if weighted else ""
    tot = "SUM(w)" if weighted else "COUNT(*)"
    flow = "r.rank_micro * e.w" if weighted else "r.rank_micro"

    def gated(v: int, node: str) -> str:
        if seed_max is None:
            return str(v)
        return f"CASE WHEN {node} <= {seed_max} THEN {v} ELSE 0 END"

    ctes = [
        edge_ctes,
        f"prpairs AS MATERIALIZED ({pairs})",
        f"""pre AS MATERIALIZED (
  SELECT src, dst{w} FROM prpairs UNION ALL SELECT dst, src{w} FROM prpairs
)""",
        f"prdeg AS MATERIALIZED (SELECT src, {tot} AS tot FROM pre GROUP BY 1)",
        "prnodes AS MATERIALIZED (SELECT src AS node FROM pre UNION SELECT dst FROM pre)",
        f"""r0 AS MATERIALIZED (
  SELECT node, CAST({gated(scale, "node")} AS BIGINT) AS rank_micro FROM prnodes
)""",
    ]
    for i in range(iters):
        ctes.append(
            f"""r{i + 1} AS MATERIALIZED (
  SELECT n.node,
         CAST({gated(base, "n.node")} + COALESCE(c.s, 0) AS BIGINT) AS rank_micro
  FROM prnodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM(({damping_pct} * {flow}) // (100 * d.tot)) AS s
    FROM pre e
    JOIN r{i} r ON e.src = r.node
    JOIN prdeg d ON d.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, rank_micro FROM r{iters}"
    )


#: the PageRank heads over the supplier→part graph (pagerank_sql,
#: pagerank_delta, pagerank_personalized) symmetrize ``sp``
SUPPLIER_PART_PAIRS = "SELECT src, dst FROM sp"

ORACLE_PAGERANK_SQL = pagerank_oracle(SUPPLIER_PART_CTE, SUPPLIER_PART_PAIRS)


def q_event_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outliers: |value − median| > 3·MAD with
    exact interpolated percentiles (operators/aggregates.mad_outliers)."""
    from icebergproject_spark.operators.aggregates import mad_outliers

    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, "value", ["event_type"], ["event_id"], z=3)


ORACLE_EVENT_OUTLIERS_MAD = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_id, d.event_type,
       ROUND(d.value, 6) AS value_r,
       ROUND(d.adev / m.mad, 6) AS mad_z
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0 AND d.adev > 3 * m.mad
"""


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF fusion (k0=60) of BM25 top-20 (lexical)
    and quantized-cosine top-20 (dense, probe vectors = embeddings of
    vec_ids 0-3, one per query — doc_id and vec_id share the id space).
    Output: top-10 fused per query."""
    from icebergproject_spark.llm.retrieval import dense_topk, rrf_fuse
    from icebergproject_spark.llm.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, BM25_QUERIES, k=20).select(
        "query_id", "doc_id", "rank"
    )
    dense = dense_topk(emb, [qid for qid, _ in BM25_QUERIES], k=20)
    return rrf_fuse([lex, dense], k=10)


def _oracle_hybrid(queries: list[tuple[int, str]]) -> str:
    ids = ", ".join(str(qid) for qid, _ in queries)
    return f"""
WITH {_bm25_ctes(queries)},
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
         ) AS rank
  FROM tot
),
qbase AS (
  SELECT vec_id AS doc_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> round(x * 10000)) AS qv
  FROM embeddings
),
probes AS (
  SELECT doc_id AS query_id, qv AS pq FROM qbase WHERE doc_id IN ({ids})
),
dcos AS (
  SELECT p.query_id, b.doc_id,
         list_dot_product(b.qv, p.pq)
           / nullif(sqrt(list_dot_product(b.qv, b.qv))
                    * sqrt(list_dot_product(p.pq, p.pq)), 0) AS cos
  FROM qbase b CROSS JOIN probes p
),
dense AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, doc_id ASC
         ) AS rank
  FROM dcos
),
fused AS (
  SELECT query_id, doc_id,
         CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_micro
  FROM (SELECT query_id, doc_id, rank FROM lex WHERE rank <= 20
        UNION ALL
        SELECT query_id, doc_id, rank FROM dense WHERE rank <= 20)
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, rrf_micro FROM (
  SELECT query_id, doc_id, rrf_micro,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC
         ) AS rank
  FROM fused
) WHERE rank <= 10
"""


ORACLE_HYBRID_RRF = _oracle_hybrid(BM25_QUERIES)


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type over the events stream
    (operators/aggregates.ohlc_resample): open/close by the unique
    (ts, event_id) order key, micro-integer turnover."""
    from icebergproject_spark.operators.aggregates import ohlc_resample

    ev = _t(spark, sf_dir, "events")
    return ohlc_resample(ev, "ts", "value", ["event_type"], "event_id")


ORACLE_EVENTS_OHLC = """
WITH ranked AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
         value,
         CAST(ROUND(value * 1000000) AS BIGINT) AS vi,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket_start,
       ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
       ROUND(MAX(value), 6) AS high,
       ROUND(MIN(value), 6) AS low,
       ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
       COUNT(*) AS volume,
       CAST(SUM(vi) AS BIGINT) AS turnover_micro
FROM ranked
GROUP BY 1, 2
"""


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-grid HITS, 5 iterations, over the DIRECTED supplier→part
    bipartite graph (suppliers are pure hubs, parts pure authorities —
    the shape that separates the two scores)."""
    from icebergproject_spark.llm.graph import hits_micro

    return hits_micro(supplier_part_edges(spark, sf_dir), iterations=5)


def _oracle_hits(iters: int, scale: int = 10**6) -> str:
    ctes = [
        # MATERIALIZED: every CTE here is referenced 2+ times downstream;
        # inlining would re-expand each level and the unrolled plan grows
        # ~4x per iteration (the BPE-merge oracle hit the same cliff)
        f"""{SUPPLIER_PART_CTE},
nodes AS MATERIALIZED (SELECT src AS node FROM sp UNION SELECT dst FROM sp),
h0 AS MATERIALIZED (SELECT node, CAST({scale} AS BIGINT) AS s FROM nodes)"""
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i}raw AS MATERIALIZED (
  SELECT e.dst AS node, SUM(h.s) AS raw
  FROM sp e JOIN {prev_h} h ON e.src = h.node GROUP BY 1
),
a{i}m AS (SELECT MAX(raw) AS m FROM a{i}raw),
a{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(COALESCE((r.raw * {scale}) // am.m, 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN a{i}raw r ON n.node = r.node CROSS JOIN a{i}m am
),
h{i}raw AS MATERIALIZED (
  SELECT e.src AS node, SUM(a.s) AS raw
  FROM sp e JOIN a{i} a ON e.dst = a.node GROUP BY 1
),
h{i}m AS (SELECT MAX(raw) AS m FROM h{i}raw),
h{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(COALESCE((r.raw * {scale}) // hm.m, 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN h{i}raw r ON n.node = r.node CROSS JOIN h{i}m hm
)"""
        )
        prev_h = f"h{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT h.node, h.s AS hub_micro, a.s AS auth_micro
FROM h{iters} h JOIN a{iters} a ON h.node = a.node
"""
    )


ORACLE_GRAPH_HITS = _oracle_hits(5)


R7_REGISTRY = {
    "bm25_topk": Query(q_bm25_topk, ORACLE_BM25_TOPK),
    "pagerank_sql": Query(q_pagerank_sql, ORACLE_PAGERANK_SQL),
    "event_outliers_mad": Query(
        q_event_outliers_mad, ORACLE_EVENT_OUTLIERS_MAD
    ),
    "hybrid_rrf": Query(q_hybrid_rrf, ORACLE_HYBRID_RRF),
    "events_ohlc": Query(q_events_ohlc, ORACLE_EVENTS_OHLC),
    "graph_hits": Query(q_graph_hits, ORACLE_GRAPH_HITS),
}
