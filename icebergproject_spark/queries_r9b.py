"""Round-9 second batch — three ORACLE-strength heads closing sketch and
graph-primitive gaps:

- ``kmv_audit`` — K-minimum-values distinct sketch (Bar-Yossef 2002 /
  the theta-sketch family): the third cardinality estimator audit next
  to HLL and count-min, and the only one whose ESTIMATE is a pure
  BIGINT ((k−1)·2⁴⁸ DIV kth-smallest-hash), so the approximate value
  itself hash-checks bit-for-bit.
- ``bloom_audit`` — Bloom-filter membership FPR measured on a
  guaranteed-disjoint probe set (even/odd value split): build bits,
  probe, count false positives — the "have I crawled this URL" filter
  audited as data, all-integer.
- ``graph_bfs_levels`` — multi-source BFS over the ANN 5-NN graph
  (4 unrolled hops): hop-distance-to-nearest-seed, the crawl-frontier /
  label-confidence primitive, −1 when unreached.  Edge tier = the same
  production ANN edge set as the r9 graph twins.

Reference anchor: the reference has no sketch or graph tier (its jobs
stop at Kafka→Phoenix serving, dim/DimDataToHBase.scala:58-110); these
extend the LLM-pipeline/sketch families the build brief grades as
first-class.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from icebergproject_spark.llm.dedup import md5_prefix12_sql, minhash_bands_sql
from icebergproject_spark.queries import Query, _t
from icebergproject_spark.queries_r4 import _lsh_components_sql
from icebergproject_spark.queries_r9 import (
    ANN_EDGES_CTES,
    _ann_edges,
    _ann_edges_ctes_multi,
)

# ---------------------------------------------------------------------------
# kmv_audit
# ---------------------------------------------------------------------------

KMV_K = 64


def q_kmv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch audit per event_type
    (llm/text.kmv_audit): k=64 smallest 48-bit md5 hashes of distinct
    event_ids; estimate = (k−1)·2⁴⁸ DIV kth — a pure BIGINT shipped
    next to the exact distinct count."""
    from icebergproject_spark.llm.text import kmv_audit

    ev = _t(spark, sf_dir, "events")
    return kmv_audit(ev, value_col="event_id", group_col="event_type", k=KMV_K)


_KMV_HV = md5_prefix12_sql("md5(CAST(event_id AS VARCHAR))")

ORACLE_KMV_AUDIT = f"""
WITH dv AS (
  SELECT DISTINCT event_type AS g, {_KMV_HV} AS hv FROM events
  WHERE event_id IS NOT NULL
),
kept AS (
  SELECT g, hv,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv ASC) AS r
  FROM dv
),
sk AS (
  SELECT g, COUNT(*) AS n_kept, MAX(hv) AS kth
  FROM kept WHERE r <= {KMV_K} GROUP BY 1
),
ex AS (
  SELECT event_type AS g,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
),
est AS (
  SELECT g, n_kept, kth,
         CAST(CASE WHEN n_kept < {KMV_K} THEN n_kept
              ELSE ({KMV_K} - 1) * {1 << 48} // kth END AS BIGINT) AS e
  FROM sk
)
SELECT est.g AS event_type, ex.exact_distinct,
       est.e AS kmv_estimate,
       ROUND(100.0 * ABS(CAST(est.e AS DOUBLE) - ex.exact_distinct)
             / ex.exact_distinct, 2) AS rel_err_pct
FROM est JOIN ex USING (g)
"""


# ---------------------------------------------------------------------------
# bloom_audit
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 20
BLOOM_H = 3


def q_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter FPR audit (llm/text.bloom_audit): m=2²⁰ bits, 3
    md5-derived positions per value; build = even event_ids, probe =
    odd (disjoint by construction → every hit is a false positive);
    measured FPR shipped as integer ppm."""
    from icebergproject_spark.llm.text import bloom_audit

    ev = _t(spark, sf_dir, "events")
    return bloom_audit(ev, value_col="event_id", m_bits=BLOOM_M, n_hashes=BLOOM_H)


def _bloom_pos_sql(j: int) -> str:
    return (
        md5_prefix12_sql(f"md5('{j}' || '-' || CAST(v AS VARCHAR))")
        + f" % {BLOOM_M}"
    )


_BLOOM_BUILD_POS = "\n  UNION ALL ".join(
    f"SELECT {_bloom_pos_sql(j)} AS pos FROM build" for j in range(BLOOM_H)
)
_BLOOM_PROBE_POS = "\n  UNION ALL ".join(
    f"SELECT v, {_bloom_pos_sql(j)} AS pos FROM probe" for j in range(BLOOM_H)
)

ORACLE_BLOOM_AUDIT = f"""
WITH vals AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS v FROM events),
build AS MATERIALIZED (SELECT v FROM vals WHERE v % 2 = 0),
probe AS MATERIALIZED (SELECT v FROM vals WHERE v % 2 <> 0),
bits AS MATERIALIZED (
  SELECT DISTINCT pos FROM ({_BLOOM_BUILD_POS})
),
claimed AS (
  SELECT pp.v FROM ({_BLOOM_PROBE_POS}) pp
  JOIN bits USING (pos)
  GROUP BY pp.v HAVING COUNT(*) = {BLOOM_H}
),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_build FROM build),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe FROM probe),
bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits),
fp AS (SELECT CAST(COUNT(*) AS BIGINT) AS false_positives FROM claimed)
SELECT CAST({BLOOM_M} AS BIGINT) AS m_bits,
       CAST({BLOOM_H} AS BIGINT) AS n_hashes,
       nb.n_build, np.n_probe, bs.bits_set, fp.false_positives,
       CAST(CASE WHEN np.n_probe = 0 THEN 0
            ELSE fp.false_positives * 1000000 // np.n_probe END AS BIGINT) AS fpr_ppm
FROM nb, np, bs, fp
"""


# ---------------------------------------------------------------------------
# graph_bfs_levels
# ---------------------------------------------------------------------------

BFS_ROUNDS = 4


def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the ANN 5-NN embedding graph
    (llm/graph.bfs_levels): seeds = vec_id % 50 == 0, 4 unrolled hops;
    (node, level) with −1 for nodes outside every seed's 4-ball — the
    crawl-frontier / influence-radius primitive on the same production
    edge tier as the r9 graph twins."""
    from icebergproject_spark.llm.graph import bfs_levels

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("node")
    )
    edges = _ann_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return bfs_levels(und, seeds, rounds=BFS_ROUNDS)


def _oracle_bfs(rounds: int) -> str:
    ctes = [
        ANN_EDGES_CTES,
        "seeds AS MATERIALIZED (SELECT vec_id AS node FROM embeddings WHERE vec_id % 50 = 0)",
        """allnodes AS MATERIALIZED (
  SELECT a AS node FROM und UNION SELECT node FROM seeds
)""",
        "ball0 AS MATERIALIZED (SELECT node FROM seeds)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""ball{i} AS MATERIALIZED (
  SELECT u.b AS node FROM und u JOIN ball{i - 1} b0 ON b0.node = u.a
  UNION
  SELECT node FROM ball{i - 1}
)"""
        )
    tagged = "\n    UNION ALL ".join(
        f"SELECT node, {i} AS i FROM ball{i}" for i in range(rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
lvl AS (
  SELECT node, MIN(i) AS level FROM (
    {tagged}
  ) GROUP BY 1
)
SELECT n.node, CAST(COALESCE(l.level, -1) AS INT) AS level
FROM allnodes n LEFT JOIN lvl l USING (node)"""
    )


ORACLE_GRAPH_BFS_LEVELS = _oracle_bfs(BFS_ROUNDS)


R9B_REGISTRY: dict[str, Query] = {
    "kmv_audit": Query(q_kmv_audit, ORACLE_KMV_AUDIT),
    "bloom_audit": Query(q_bloom_audit, ORACLE_BLOOM_AUDIT),
    "graph_bfs_levels": Query(q_graph_bfs_levels, ORACLE_GRAPH_BFS_LEVELS),
}


# ---------------------------------------------------------------------------
# dq_audit — Deequ-style data-quality constraint suite
# ---------------------------------------------------------------------------

EVENT_TYPES_CLEAN = ["click", "purchase", "signup", "view"]
DOC_LANGS = ["de", "en", "es", "fr", "zh"]


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (operators/dq — the Deequ-style
    ingest gate): completeness, pk uniqueness, FK orphan counts, domain
    and range membership, JSON parseability — eleven checks over five
    tables as ONE long-format table of (entity, check, violations,
    total, pass_ppm).  The clean-stream bar (`domain:event_type`
    excluding 'error') fires on purpose: error events ARE the
    violations that page, proving the violation path end-to-end; the
    rest pin the fixtures' integrity at 10⁶ ppm."""
    from icebergproject_spark.operators import dq

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    docs = _t(spark, sf_dir, "documents")
    return dq.dq_suite(
        [
            dq.completeness(ev, "events", "user_id"),
            dq.uniqueness(ev, "events", "event_id"),
            dq.in_domain(ev, "events", "event_type", EVENT_TYPES_CLEAN),
            dq.json_parseable(ev, "events", "props", "$.k"),
            dq.uniqueness(cust, "customer", "c_custkey"),
            dq.fk_integrity(orders, "orders", "o_custkey", cust, "c_custkey"),
            dq.fk_integrity(li, "lineitem", "l_orderkey", orders, "o_orderkey"),
            dq.fk_integrity(li, "lineitem", "l_partkey",
                            _t(spark, sf_dir, "part"), "p_partkey"),
            dq.in_range(li, "lineitem", "l_quantity", 1, 50),
            dq.non_empty(docs, "documents", "text"),
            dq.in_domain(docs, "documents", "lang", DOC_LANGS),
        ]
    )


def _dq_row(entity: str, check: str, viol: str, total: str, frm: str) -> str:
    return f"""SELECT '{entity}' AS entity, '{check}' AS "check",
       CAST({viol} AS BIGINT) AS violations,
       CAST({total} AS BIGINT) AS total,
       CAST(CASE WHEN {total} = 0 THEN 1000000
            ELSE ({total} - ({viol})) * 1000000 // ({total}) END AS BIGINT)
         AS pass_ppm
FROM {frm}"""


_DQ_TYPES = ", ".join(f"'{t}'" for t in EVENT_TYPES_CLEAN)
_DQ_LANGS = ", ".join(f"'{x}'" for x in DOC_LANGS)

ORACLE_DQ_AUDIT = "\nUNION ALL\n".join(
    [
        _dq_row("events", "complete:user_id",
                "COUNT(*) - COUNT(user_id)", "COUNT(*)", "events"),
        _dq_row("events", "unique:event_id",
                "COUNT(event_id) - COUNT(DISTINCT event_id)", "COUNT(*)",
                "events"),
        _dq_row("events", "domain:event_type",
                f"SUM(CASE WHEN event_type IS NOT NULL AND event_type NOT IN ({_DQ_TYPES}) THEN 1 ELSE 0 END)",
                "COUNT(*)", "events"),
        _dq_row("events", "json:props.k",
                "SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END)",
                "COUNT(*)", "events"),
        _dq_row("customer", "unique:c_custkey",
                "COUNT(c_custkey) - COUNT(DISTINCT c_custkey)", "COUNT(*)",
                "customer"),
        _dq_row("orders", "fk:o_custkey",
                "SUM(CASE WHEN o_custkey IS NOT NULL AND c.c_custkey IS NULL THEN 1 ELSE 0 END)",
                "COUNT(*)",
                "orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey"),
        _dq_row("lineitem", "fk:l_orderkey",
                "SUM(CASE WHEN l_orderkey IS NOT NULL AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)",
                "COUNT(*)",
                "lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey"),
        _dq_row("lineitem", "fk:l_partkey",
                "SUM(CASE WHEN l_partkey IS NOT NULL AND p.p_partkey IS NULL THEN 1 ELSE 0 END)",
                "COUNT(*)",
                "lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey"),
        _dq_row("lineitem", "range:l_quantity",
                "SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END)",
                "COUNT(*)", "lineitem"),
        _dq_row("documents", "nonempty:text",
                "SUM(CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN 1 ELSE 0 END)",
                "COUNT(*)", "documents"),
        _dq_row("documents", "domain:lang",
                f"SUM(CASE WHEN lang IS NOT NULL AND lang NOT IN ({_DQ_LANGS}) THEN 1 ELSE 0 END)",
                "COUNT(*)", "documents"),
    ]
)

R9B_REGISTRY["dq_audit"] = Query(q_dq_audit, ORACLE_DQ_AUDIT)


# ---------------------------------------------------------------------------
# graph_kcore — k-core decomposition by unrolled peeling
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 4


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the ANN 5-NN graph (llm/graph.kcore_peel,
    k=3, 4 unrolled peel rounds): nodes removed while their remaining
    degree < 3; survivors = the 3-core (dense semantic kernels).
    (node, peeled_round, in_kcore); convergence (no round-4 removals)
    is pinned by pytest at every SF."""
    from icebergproject_spark.llm.graph import kcore_peel

    edges = _ann_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return kcore_peel(und, k=KCORE_K, rounds=KCORE_ROUNDS)


def _oracle_kcore(k: int, rounds: int) -> str:
    ctes = [
        ANN_EDGES_CTES,
        "an AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)",
        "al0 AS (SELECT node FROM an)",
        "g0 AS (SELECT a, b FROM und)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"dg{i} AS (SELECT a AS node, COUNT(*) AS dd FROM g{i - 1} GROUP BY 1)"
        )
        ctes.append(
            f"""pe{i} AS MATERIALIZED (
  SELECT al.node, {i} AS peeled_round
  FROM al{i - 1} al LEFT JOIN dg{i} d USING (node)
  WHERE COALESCE(d.dd, 0) < {k}
)"""
        )
        ctes.append(
            f"""al{i} AS MATERIALIZED (
  SELECT al.node FROM al{i - 1} al
  LEFT JOIN pe{i} p USING (node) WHERE p.node IS NULL
)"""
        )
        ctes.append(
            f"""g{i} AS MATERIALIZED (
  SELECT g.a, g.b FROM g{i - 1} g
  JOIN al{i} x ON x.node = g.a
  JOIN al{i} y ON y.node = g.b
)"""
        )
    tagged = "\n    UNION ALL ".join(
        f"SELECT node, peeled_round FROM pe{i}" for i in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
peeled AS (
    {tagged}
)
SELECT n.node,
       CAST(COALESCE(p.peeled_round, -1) AS INT) AS peeled_round,
       p.peeled_round IS NULL AS in_kcore
FROM an n LEFT JOIN peeled p USING (node)"""
    )


ORACLE_GRAPH_KCORE = _oracle_kcore(KCORE_K, KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# graph_shortest_paths — multi-source Bellman-Ford over semantic distances
# ---------------------------------------------------------------------------

SP_ROUNDS = 4


def q_graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source integer Bellman-Ford (llm/graph.bellman_ford) over
    the ANN 5-NN graph with SEMANTIC DISTANCE weights
    w = round((1−cos)·10⁶): cheapest-path cost from the nearest seed
    (vec_id % 50 == 0) within 4 relaxation rounds, −1 unreached — the
    weighted sibling of graph_bfs_levels (hop count → accumulated
    dissimilarity), all-BIGINT relaxations."""
    from icebergproject_spark.llm.graph import bellman_ford
    from icebergproject_spark.llm.similarity import ann_knn_graph
    from icebergproject_spark.queries_r9 import (
        ANN_DIM,
        ANN_K,
        ANN_PLANES,
        _materialized_with_stats,
    )

    emb = _t(spark, sf_dir, "embeddings")
    knn = ann_knn_graph(emb, dim=ANN_DIM, k=ANN_K, planes=ANN_PLANES)
    ew = _materialized_with_stats(
        knn.select(
            F.least("query_id", "neighbor_id").alias("a"),
            F.greatest("query_id", "neighbor_id").alias("b"),
            F.expr("CAST(ROUND((1 - score) * 1000000, 0) AS BIGINT)").alias("w"),
        ).distinct()
    )
    undw = ew.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).union(ew.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
    seeds = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("node")
    )
    return bellman_ford(undw, seeds, rounds=SP_ROUNDS)


def _oracle_shortest_paths(rounds: int) -> str:
    ctes = [
        ANN_EDGES_CTES,
        """ew AS MATERIALIZED (
  SELECT DISTINCT LEAST(r.query_id, r.neighbor_id) AS a,
                  GREATEST(r.query_id, r.neighbor_id) AS b,
                  CAST(ROUND((1 - p.score) * 1000000) AS BIGINT) AS w
  FROM ranked r
  JOIN p ON p.query_id = r.query_id AND p.neighbor_id = r.neighbor_id
  WHERE r.rank <= 5
)""",
        "undw AS MATERIALIZED (SELECT a, b, w FROM ew UNION ALL SELECT b, a, w FROM ew)",
        "sd AS MATERIALIZED (SELECT vec_id AS node FROM embeddings WHERE vec_id % 50 = 0)",
        "alln AS MATERIALIZED (SELECT a AS node FROM undw UNION SELECT node FROM sd)",
        "dd0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM sd)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""dd{i} AS MATERIALIZED (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM dd{i - 1}
    UNION ALL
    SELECT u.b AS node, p.d + u.w AS d
    FROM undw u JOIN dd{i - 1} p ON p.node = u.a
  ) GROUP BY 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.node, CAST(COALESCE(x.d, -1) AS BIGINT) AS dist
FROM alln n LEFT JOIN dd{rounds} x USING (node)"""
    )


ORACLE_GRAPH_SHORTEST_PATHS = _oracle_shortest_paths(SP_ROUNDS)

R9B_REGISTRY["graph_kcore"] = Query(q_graph_kcore, ORACLE_GRAPH_KCORE)
R9B_REGISTRY["graph_shortest_paths"] = Query(
    q_graph_shortest_paths, ORACLE_GRAPH_SHORTEST_PATHS
)


# ---------------------------------------------------------------------------
# dataset_split / leakage_safe_split — reproducible train/val/test with a
# measured near-dup leakage audit
# ---------------------------------------------------------------------------

SPLIT_TRAIN, SPLIT_VAL = 80, 90  # md5 percent buckets: <80 train, <90 val


def _split_tier(key_col) -> F.Column:
    b = F.conv(
        F.substring(F.md5(key_col.cast("string")), 1, 12), 16, 10
    ).cast("long") % 100
    return (
        F.when(b < SPLIT_TRAIN, "train")
        .when(b < SPLIT_VAL, "val")
        .otherwise("test")
    )


def _split_audit(assigned: DataFrame, pairs: DataFrame) -> DataFrame:
    """(split, n_docs, share_ppm, cross_split_dup_pairs) from a
    (doc_id, split) assignment and a near-dup candidate pair set —
    cross_split_dup_pairs is THE leakage metric: near-duplicates
    straddling train/eval inflate benchmarks (Lee et al. 2022)."""
    assigned = assigned.localCheckpoint(eager=False)  # three consumers
    # (per-split counts, total, both sides of the pair audit) — without
    # the cut the upstream closure/hashing replays per consumer
    counts = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    total = assigned.agg(F.count(F.lit(1)).cast("long").alias("__t"))
    cross = (
        pairs.join(
            assigned.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("__sa")
            ),
            "id_a",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("__sb")
            ),
            "id_b",
        )
        .agg(
            F.sum((F.col("__sa") != F.col("__sb")).cast("long")).alias(
                "cross_split_dup_pairs"
            )
        )
        .select(
            F.coalesce("cross_split_dup_pairs", F.lit(0))
            .cast("long")
            .alias("cross_split_dup_pairs")
        )
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(cross))
        .select(
            "split",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 DIV __t AS BIGINT)").alias(
                "share_ppm"
            ),
            "cross_split_dup_pairs",
        )
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible doc-hash train/val/test split (md5(doc_id) mod 100:
    80/10/10) with the near-dup LEAKAGE measured: cross_split_dup_pairs
    counts minhash-LSH candidate pairs straddling splits — NONZERO here
    by construction, because hashing documents independently ignores
    duplicate structure.  The fix is ``leakage_safe_split`` (same
    schema, cluster-keyed); the pair of heads turns the Lee et al. 2022
    leakage argument into two hash-checked tables you can diff."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8).select(
        "id_a", "id_b"
    )
    assigned = docs.select(
        "doc_id", _split_tier(F.col("doc_id")).alias("split")
    )
    return _split_audit(assigned, pairs)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: assign whole near-dup
    CLUSTERS (connected components of the minhash-LSH candidate graph —
    the dedup_clusters_lsh_sql machinery) to splits by
    md5(cluster_id) mod 100, so every near-duplicate family lands in
    ONE split and cross_split_dup_pairs is structurally ZERO — both
    engines prove it as data.  Share skew vs the doc-hash split is the
    price of safety (clusters are atomic), also visible in the table."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)  # consumed by the closure AND the audit
    comp = dedup.connected_components(
        pairs, nodes=docs.select("doc_id"), node_col="doc_id"
    )
    assigned = comp.select(
        F.col("node").alias("doc_id"),
        _split_tier(F.col("cluster_id")).alias("split"),
    )
    return _split_audit(assigned, pairs)


_SPLIT_TIER_SQL = (
    "CASE WHEN {h} % 100 < "
    + str(SPLIT_TRAIN)
    + " THEN 'train' WHEN {h} % 100 < "
    + str(SPLIT_VAL)
    + " THEN 'val' ELSE 'test' END"
)

_SPLIT_AUDIT_SQL = """counts AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs FROM assigned GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM assigned),
cross_p AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS cross_split_dup_pairs
  FROM pairs p
  JOIN assigned sa ON sa.doc_id = p.id_a
  JOIN assigned sb ON sb.doc_id = p.id_b
)
SELECT c.split, c.n_docs,
       CAST(c.n_docs * 1000000 // tot.t AS BIGINT) AS share_ppm,
       cross_p.cross_split_dup_pairs
FROM counts c, tot, cross_p"""

_DOC_TIER = _SPLIT_TIER_SQL.format(
    h="(" + md5_prefix12_sql("md5(CAST(doc_id AS VARCHAR))") + ")"
)

ORACLE_DATASET_SPLIT = f"""
WITH {minhash_bands_sql(16, 8)},
assigned AS MATERIALIZED (
  SELECT doc_id, {_DOC_TIER} AS split FROM documents
),
{_SPLIT_AUDIT_SQL}
"""

_CLUSTER_TIER = _SPLIT_TIER_SQL.format(
    h="(" + md5_prefix12_sql("md5(CAST(cluster_id AS VARCHAR))") + ")"
)

ORACLE_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE {_lsh_components_sql(16, 8)},
assigned AS MATERIALIZED (
  SELECT doc_id, {_CLUSTER_TIER} AS split FROM lab
),
{_SPLIT_AUDIT_SQL}
"""

R9B_REGISTRY["dataset_split"] = Query(q_dataset_split, ORACLE_DATASET_SPLIT)
R9B_REGISTRY["leakage_safe_split"] = Query(
    q_leakage_safe_split, ORACLE_LEAKAGE_SAFE_SPLIT
)


# ---------------------------------------------------------------------------
# label_propagation_ann4 — the multi-table (higher-recall) edge tier as a
# REGISTERED default, demonstrated on the LPA head
# ---------------------------------------------------------------------------

def _ann4_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected ANN 5-NN edges from the L=4 multi-table sign-LSH
    candidate union (llm/similarity.ann_knn_graph(tables=4)) — the
    measured-45%-recall tier of SCALE.md §r9, materialized with true
    stats like _ann_edges."""
    from icebergproject_spark.llm.similarity import ann_knn_graph
    from icebergproject_spark.queries_r9 import (
        ANN_DIM,
        ANN_K,
        ANN_PLANES,
        ANN_TABLES,
        _materialized_with_stats,
    )

    emb = _t(spark, sf_dir, "embeddings")
    knn = ann_knn_graph(
        emb, dim=ANN_DIM, k=ANN_K, planes=ANN_PLANES, tables=ANN_TABLES
    )
    return _materialized_with_stats(
        knn.select(
            F.least("query_id", "neighbor_id").alias("a"),
            F.greatest("query_id", "neighbor_id").alias("b"),
        ).distinct()
    )


def q_label_propagation_ann4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation over the MULTI-TABLE (L=4) ANN graph —
    the registered higher-recall twin of ``label_propagation_ann``
    (single table): same seeds, same 3 rounds, edges from the 4-table
    candidate union whose 45% edge recall ``knn_edge_recall_multi``
    measures.  One registered head demonstrates the dial; every other
    graph head takes the same ``tables=`` parameter."""
    from icebergproject_spark.llm.graph import label_propagation
    from icebergproject_spark.queries_r8b import LANG_CODE, LPA_ROUNDS

    docs = _t(spark, sf_dir, "documents")
    seeds = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("node"),
        F.expr(LANG_CODE).alias("label"),
    )
    labels = label_propagation(
        _ann4_edges(spark, sf_dir), seeds, rounds=LPA_ROUNDS
    )
    return labels.select(
        "node", F.coalesce("label", F.lit(-1)).cast("long").alias("label")
    )


# multi-table edge CTEs with the SAME trailing names (e/und/deg) as
# KNN_EDGES_CTES, so the r8b LPA oracle body swaps in verbatim — the
# same structural-identity trick as queries_r9's single-table twins
ANN4_EDGES_CTES = (
    _ann_edges_ctes_multi(suffix="")
    + """,
und AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
deg AS MATERIALIZED (SELECT a AS node, COUNT(*) AS degree FROM und GROUP BY 1)"""
)

from icebergproject_spark.queries_r8b import (  # noqa: E402
    KNN_EDGES_CTES,
    ORACLE_LABEL_PROPAGATION,
)

assert KNN_EDGES_CTES in ORACLE_LABEL_PROPAGATION
ORACLE_LABEL_PROPAGATION_ANN4 = ORACLE_LABEL_PROPAGATION.replace(
    KNN_EDGES_CTES, ANN4_EDGES_CTES
)

R9B_REGISTRY["label_propagation_ann4"] = Query(
    q_label_propagation_ann4, ORACLE_LABEL_PROPAGATION_ANN4
)


# ---------------------------------------------------------------------------
# coreset_kcenter — greedy farthest-point diversity sampling
# ---------------------------------------------------------------------------

KCENTER_K = 8


def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embeddings
    (llm/similarity.kcenter_coreset, k=8): the Gonzalez farthest-point
    traversal — diversity sampling, the opposite pole of near-dup
    removal.  Integer-exact BIGINT squared-L2 on the quantized grid,
    min-id seed, smaller-id tie-breaks: the center SEQUENCE and the
    final (vec_id, nearest_center, d2) assignment replay bit-for-bit
    as unrolled CTEs."""
    from icebergproject_spark.llm.similarity import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=KCENTER_K)


def _oracle_kcenter(k: int, quant: int = 10000) -> str:
    d2 = "CAST(v.qq + c.qq - 2 * list_dot_product(v.q, c.q) AS BIGINT)"
    ctes = [
        f"""v0 AS (
  SELECT vec_id,
         [CAST(ROUND(x * {quant}) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
)""",
        """vq AS MATERIALIZED (
  SELECT vec_id, q, list_dot_product(q, q) AS qq FROM v0
)""",
        """c1 AS MATERIALIZED (
  SELECT vec_id AS cid, q, qq FROM vq
  WHERE vec_id = (SELECT MIN(vec_id) FROM vq)
)""",
        f"""m1 AS MATERIALIZED (
  SELECT v.vec_id, {d2} AS mind FROM vq v, c1 c
)""",
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""pk{t} AS (
  SELECT vec_id FROM m{t - 1} ORDER BY mind DESC, vec_id ASC LIMIT 1
)"""
        )
        ctes.append(
            f"""c{t} AS MATERIALIZED (
  SELECT v.vec_id AS cid, v.q, v.qq FROM vq v JOIN pk{t} p USING (vec_id)
)"""
        )
        ctes.append(
            f"""m{t} AS MATERIALIZED (
  SELECT v.vec_id, LEAST(m.mind, {d2}) AS mind
  FROM vq v JOIN m{t - 1} m USING (vec_id), c{t} c
)"""
        )
    centers = "\n  UNION ALL ".join(
        f"SELECT cid, q, qq FROM c{t}" for t in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
centers AS MATERIALIZED (
  {centers}
),
asg AS (
  SELECT v.vec_id, c.cid,
         CAST(v.qq + c.qq - 2 * list_dot_product(v.q, c.q) AS BIGINT) AS d2
  FROM vq v CROSS JOIN centers c
)
SELECT vec_id,
       CAST(MIN({{'d2': d2, 'cid': cid}}).cid AS BIGINT) AS nearest_center,
       CAST(MIN({{'d2': d2, 'cid': cid}}).d2 AS BIGINT) AS d2
FROM asg GROUP BY 1"""
    )


ORACLE_CORESET_KCENTER = _oracle_kcenter(KCENTER_K)

R9B_REGISTRY["coreset_kcenter"] = Query(
    q_coreset_kcenter, ORACLE_CORESET_KCENTER
)
