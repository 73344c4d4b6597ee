"""Round-11 registry batch — closing VERDICT r10's two remaining ANN
scale-policy gaps, each at ORACLE strength:

- ``ann_graph_flood_guard`` — the FLOOD GUARD engaged (VERDICT r10 ask
  #5): the r10 probe measured that a batch touching 60–100% of a small
  bucket space makes maintenance tie or lose vs a rebuild, but nothing
  enforced the policy.  ``ann_knn_graph_incremental(rebuild_threshold=)``
  now computes the touched-bucket fraction (exact integer ppm) and falls
  back to a full rebuild above it.  This head runs the guard at
  threshold 0.5 on the same %10 append split as ``ann_graph_incremental``
  and ships the maintained-or-rebuilt graph WITH the decision columns
  (touched_fraction_ppm, chose_rebuild) — the oracle recomputes both the
  full-rebuild graph and the decision arithmetic in SQL, so a hash match
  proves (a) the guard's fraction/decision math replays exactly and
  (b) the output is identical WHICHEVER branch the guard takes (maintain
  is hash-proved equal to rebuild by ``ann_graph_incremental``; rebuild
  trivially is).

- ``ann_graph_incremental_bucketed`` — the BUCKETED STORED STATE path
  measured in the correctness gate (VERDICT r10 ask #1): the stored
  prepped corpus is persisted as a lakehouse table hidden-partitioned on
  ``__bucket`` (identity transform), the maintenance step reads ONLY the
  touched buckets via ``read(partition_values=...)`` — pruning happens
  at planning time, visible as PartitionFilters (pinned in
  tests/test_plans.py) — and the maintained graph still hash-equals a
  full-rebuild oracle over nothing but the parquet fixtures.  This is
  the production composition SCALE.md §r10 prescribed: stored state +
  partition-pruned touched-bucket reads, with the equality proof intact.

Reference anchor: the reference (Flink job scripts, e.g.
ods/ProduceKafkaDBDataToODS.scala) maintains derived state under a
streaming append feed; these heads are the ANN-tier counterpart with
the storage layout (hidden partitioning, `lakehouse/tableformat.py`)
standing in for the reference's Iceberg runtime partitioning.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from icebergproject_spark.queries import Query, _t
from icebergproject_spark.queries_r9 import (
    ANN_DIM,
    ANN_K,
    ANN_PLANES,
    _materialized_with_stats,
)
from icebergproject_spark.queries_r10 import INC_SPLIT_MOD, INC_SPLIT_REM
from icebergproject_spark.queries_r4 import _lsh_components_sql

# guard threshold for the registered head: the %10 split floods most of
# the 2^4 bucket space at every fixture SF, so the guard chooses rebuild
# — the regime the r10 probe measured maintenance losing in.  The
# maintain-branch equality is hash-proved by ann_graph_incremental;
# either way the output equals the full-rebuild oracle.
FLOOD_THRESHOLD = 0.5
FLOOD_THRESHOLD_PPM = 500000


def _mkdtemp_for_run(prefix: str) -> str:
    """Per-invocation scratch dir that OUTLIVES the call (the driver
    collects the returned DataFrame after the query function returns,
    so the backing table must stay readable) but not the process —
    atexit removes it (VERDICT r11 hygiene #5: the r11 head leaked one
    tempdir per driver invocation)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _prep_bucketed(df: DataFrame, W: list[list[int]]) -> DataFrame:
    """The stored-relation shape of ``ann_knn_graph_incremental``'s prep
    step: (id, __v, __n, __bucket) — what production persists once and
    appends to at O(batch) per batch (buckets of existing vectors never
    change under append)."""
    from icebergproject_spark.llm.similarity import int_sign_bucket, l2_norm

    qz = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 10000).cast("long"),
    )
    return df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("__v"),
        l2_norm(F.col("embedding").cast("array<double>")).alias("__n"),
        int_sign_bucket(qz, W).alias("__bucket"),
    )


def q_ann_graph_flood_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flood-guarded incremental ANN maintenance: rebuild_threshold=0.5
    computes the touched-bucket fraction in exact integer ppm and picks
    maintain vs rebuild; the decision and fraction ship as hash-checked
    columns alongside the (branch-independent) graph."""
    from icebergproject_spark.llm.similarity import (
        ann_knn_graph,
        ann_knn_graph_incremental,
    )

    emb = _t(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % INC_SPLIT_MOD == INC_SPLIT_REM
    base, batch = emb.where(~is_batch), emb.where(is_batch)
    # prev is consumed ONLY if the guard picks maintain (lazy DataFrame:
    # under rebuild it is never evaluated, costing nothing)
    prev = ann_knn_graph(base, dim=ANN_DIM, k=ANN_K, planes=ANN_PLANES)
    stats: dict = {}
    g = ann_knn_graph_incremental(
        base, batch, dim=ANN_DIM, k=ANN_K, planes=ANN_PLANES,
        prev_graph=prev, rebuild_threshold=FLOOD_THRESHOLD, stats=stats,
    )
    return g.select(
        "query_id", "neighbor_id", "score", "rank",
        F.lit(int(stats["touched_fraction_ppm"])).cast("long").alias(
            "touched_fraction_ppm"
        ),
        F.lit(1 if stats["chose_rebuild"] else 0).cast("long").alias(
            "chose_rebuild"
        ),
    )


def _flood_guard_oracle_sql() -> str:
    """Full-rebuild graph + the guard's decision arithmetic replayed in
    SQL: touched fraction = distinct batch buckets over distinct buckets
    of the whole post-append corpus, integer ppm, decision at ≥ 0.5."""
    from icebergproject_spark.llm.similarity import int_sign_bucket_sql, lsh_weights

    W = lsh_weights(ANN_PLANES, ANN_DIM)
    bucket = int_sign_bucket_sql(W)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
bk AS MATERIALIZED (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nm, {bucket} AS bucket
  FROM v
),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) AS score
  FROM bk a JOIN bk b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM p
),
guard AS (
  SELECT CAST(
    (SELECT COUNT(DISTINCT bucket) FROM bk
     WHERE vec_id % {INC_SPLIT_MOD} = {INC_SPLIT_REM}) * 1000000
    // GREATEST((SELECT COUNT(DISTINCT bucket) FROM bk), 1)
  AS BIGINT) AS touched_fraction_ppm
)
SELECT query_id, neighbor_id, score, rank,
       guard.touched_fraction_ppm,
       CAST(CASE WHEN guard.touched_fraction_ppm >= {FLOOD_THRESHOLD_PPM}
            THEN 1 ELSE 0 END AS BIGINT) AS chose_rebuild
FROM ranked CROSS JOIN guard
WHERE rank <= {ANN_K}
"""


ORACLE_ANN_GRAPH_FLOOD_GUARD = _flood_guard_oracle_sql()


def q_ann_graph_incremental_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ANN maintenance reading its stored prepped base from
    a ``__bucket``-identity-partitioned lakehouse table with
    ``read(partition_values=<touched ids>)`` — only the touched-bucket
    directories are ever listed into the scan (planning-time pruning,
    PartitionFilters in the physical plan; pinned by
    tests/test_plans.py).  The maintained graph + the bucket-count
    locality hash-check against a full-rebuild oracle, proving the
    pruned-read path loses nothing.  The table lives in a per-call
    tempdir (a few hundred KB at fixture SFs; the driver collects the
    result before process exit, so the dir must outlive this call)."""
    from icebergproject_spark.lakehouse.tableformat import LakehouseTable
    from icebergproject_spark.llm.similarity import (
        ann_knn_graph,
        ann_knn_graph_incremental,
        lsh_weights,
    )

    emb = _t(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % INC_SPLIT_MOD == INC_SPLIT_REM
    base, batch = emb.where(~is_batch), emb.where(is_batch)
    W = lsh_weights(ANN_PLANES, ANN_DIM)

    wh = _mkdtemp_for_run("ann_bkt_")
    tbl = LakehouseTable(spark, wh, "tmp", "prepped_base")
    tbl.set_partitioning("__bucket", "identity")
    # one file per bucket dir: co-locate buckets before the partitioned
    # write so the pruned read lists O(touched) files, not O(tasks ×
    # buckets) slivers (the 100 TB layout; measured in the r11 probe)
    tbl.append(_prep_bucketed(base, W).repartition(F.col("__bucket")))
    # the batch's bucket ids: O(batch) driver state (bounded — the
    # nightly-append shape), the partition_values the pruned read needs
    touched_ids = sorted(
        r[0]
        for r in _prep_bucketed(batch, W).select("__bucket").distinct().collect()
    )
    pruned = tbl.read(partition_values=touched_ids)
    prev = _materialized_with_stats(
        ann_knn_graph(base, dim=ANN_DIM, k=ANN_K, planes=ANN_PLANES)
    )
    maintained = ann_knn_graph_incremental(
        base, batch, dim=ANN_DIM, k=ANN_K, planes=ANN_PLANES,
        prev_graph=prev, base_prepped=pruned,
    )
    stats = (
        tbl.read()
        .agg(F.count_distinct("__bucket").cast("long").alias("n_base_buckets"))
        .select(
            F.lit(len(touched_ids)).cast("long").alias("n_touched_buckets"),
            "n_base_buckets",
        )
    )
    return maintained.crossJoin(F.broadcast(stats))


def _bucketed_oracle_sql() -> str:
    """Full-rebuild graph over ALL vectors + the same bucket counts."""
    from icebergproject_spark.llm.similarity import int_sign_bucket_sql, lsh_weights

    W = lsh_weights(ANN_PLANES, ANN_DIM)
    bucket = int_sign_bucket_sql(W)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         [CAST(ROUND(x * 10000) AS DOUBLE) FOR x IN CAST(embedding AS DOUBLE[])] AS q
  FROM embeddings
),
bk AS MATERIALIZED (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nm, {bucket} AS bucket
  FROM v
),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) AS score
  FROM bk a JOIN bk b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM p
),
stats AS (
  SELECT
    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM bk
     WHERE vec_id % {INC_SPLIT_MOD} = {INC_SPLIT_REM})
      AS n_touched_buckets,
    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM bk
     WHERE vec_id % {INC_SPLIT_MOD} <> {INC_SPLIT_REM})
      AS n_base_buckets
)
SELECT query_id, neighbor_id, score, rank, n_touched_buckets, n_base_buckets
FROM ranked CROSS JOIN stats
WHERE rank <= {ANN_K}
"""


ORACLE_ANN_GRAPH_INCREMENTAL_BUCKETED = _bucketed_oracle_sql()


# append split for the dedup-cluster maintenance heads: ~7.7% of docs
# arrive as "today's batch".  REM 0 deliberately puts the corpus' MIN
# doc_id in the BATCH, forcing the hardest relabeling case (a merged
# component whose new root is a batch node) on every driver run.
CC_SPLIT_MOD = 13
CC_SPLIT_REM = 0


def _cc_maintenance_parts(spark: SparkSession, sf_dir: str):
    """Shared prep for the two cluster-maintenance heads: run the md5-LSH
    pair generator ONCE (pair-local ⇒ the full corpus' edge set
    partitions EXACTLY into base-internal and batch-touching slices),
    build the stored assignment from the base slice, and return
    (stored_assignment, batch_touching_pairs, batch_nodes)."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    in_batch = lambda c: F.col(c) % CC_SPLIT_MOD == CC_SPLIT_REM  # noqa: E731
    base_docs = docs.where(~in_batch("doc_id")).select("doc_id")
    batch_docs = docs.where(in_batch("doc_id")).select(
        F.col("doc_id").alias("node")
    )
    base_pairs = pairs.where(~in_batch("id_a") & ~in_batch("id_b"))
    new_pairs = pairs.where(in_batch("id_a") | in_batch("id_b"))
    stored = dedup.connected_components(
        base_pairs, nodes=base_docs, node_col="doc_id"
    )
    return stored, new_pairs, batch_docs


def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-tier MAINTENANCE proof — incremental connected
    components (llm/dedup.connected_components_incremental) hash-proved
    equal to a full re-cluster: documents split into a stored corpus
    (doc_id % 13 != 0) and an append batch; the Spark arm builds the
    stored assignment from base-only LSH edges, then MAINTAINS it with
    only the batch-touching edges (contract batch edges onto stored
    cluster labels → batch-sized min-label contraction → broadcast
    relabel), while the DuckDB oracle re-clusters the WHOLE corpus from
    scratch (ORACLE_DEDUP_CLUSTERS_LSH_SQL, the recursive closure over
    the md5-LSH edge set).  Hash equality on every driver run proves
    maintain == rebuild — the same contract as ``ann_graph_incremental``
    and ``pagerank_micro_delta``, completing the incremental tier across
    all three stateful families (ANN graph, PageRank, dedup clusters).

    The md5-LSH pair generator is pair-local (a pair exists iff two
    docs share a band signature, independent of every other doc), so the
    full corpus' edge set partitions EXACTLY into base-only pairs and
    batch-touching pairs; the generator runs ONCE (localCheckpoint) and
    both arms slice it — the shared-prep shape of
    ``ann_graph_incremental_multi``.

    Scale shape: the O(corpus) stored assignment is touched by exactly
    two broadcast hash joins (touched-label read-out, relabel
    write-back) and never shuffled; the contraction runs on the label
    graph, which is ≤ |batch edges|.  Production stores the band
    signatures too (incremental_near_dups' contract), so a daily batch
    costs O(batch) banding + O(batch) contraction + one columnar scan
    of the assignment — measured vs full rebuild in
    tools/cc_incremental_probe.py.  Reference parity: the reference
    maintains derived dim state per micro-batch
    (dim/DimDataToHBase.scala:79-110); this maintains the dedup CLUSTER
    state under the same append feed."""
    from icebergproject_spark.llm import dedup

    stored, new_pairs, batch_docs = _cc_maintenance_parts(spark, sf_dir)
    merged = dedup.connected_components_incremental(
        stored, new_pairs, new_nodes=batch_docs
    )
    from pyspark.sql.window import Window

    return merged.select(F.col("node").alias("doc_id"), "cluster_id").withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )


R11_REGISTRY: dict[str, Query] = {
    "ann_graph_flood_guard": Query(
        q_ann_graph_flood_guard, ORACLE_ANN_GRAPH_FLOOD_GUARD
    ),
    "ann_graph_incremental_bucketed": Query(
        q_ann_graph_incremental_bucketed, ORACLE_ANN_GRAPH_INCREMENTAL_BUCKETED
    ),
}


def q_dedup_clusters_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE payload itself at ORACLE strength: the same maintenance
    as ``dedup_clusters_incremental`` but with ``emit="updates"`` — only
    the stored rows whose cluster label CHANGED plus every batch row,
    i.e. exactly what a production ``MERGE INTO assignment`` writes per
    batch (the streaming e2e's payload,
    test_streaming_dedup_cluster_maintenance_e2e).  The DuckDB oracle
    computes BOTH recursive closures — over the base corpus and over the
    full corpus — and diffs them, so a hash match proves the payload is
    truly changed-only on the stored side and complete on the batch
    side.  Scale shape: identical to the merged-emission head minus the
    O(corpus) output (and minus its window), so a daily batch ships
    O(changed + batch) rows to the MERGE."""
    from icebergproject_spark.llm import dedup

    stored, new_pairs, batch_docs = _cc_maintenance_parts(spark, sf_dir)
    ups = dedup.connected_components_incremental(
        stored, new_pairs, new_nodes=batch_docs, emit="updates"
    )
    return ups.select(F.col("node").alias("doc_id"), "cluster_id")


# the full-corpus closure and the base-only closure, diffed: batch rows
# always emitted, stored rows only when the merged label differs
ORACLE_DEDUP_CLUSTERS_UPSERTS = f"""
WITH RECURSIVE
{_lsh_components_sql(16, 8, sfx='_a')},
{_lsh_components_sql(16, 8, f'doc_id % {CC_SPLIT_MOD} <> {CC_SPLIT_REM}', '_b')}
SELECT a.doc_id, a.cluster_id
FROM lab_a a LEFT JOIN lab_b b USING (doc_id)
WHERE a.doc_id % {CC_SPLIT_MOD} = {CC_SPLIT_REM}
   OR a.cluster_id <> b.cluster_id
"""


def _register_dedup_clusters_incremental() -> None:
    # oracle = the FULL-REBUILD closure, verbatim from the r4 head: the
    # maintenance arm must reproduce it bit-for-bit
    from icebergproject_spark.queries_r4 import ORACLE_DEDUP_CLUSTERS_LSH_SQL

    R11_REGISTRY["dedup_clusters_incremental"] = Query(
        q_dedup_clusters_incremental, ORACLE_DEDUP_CLUSTERS_LSH_SQL
    )
    R11_REGISTRY["dedup_clusters_upserts"] = Query(
        q_dedup_clusters_upserts, ORACLE_DEDUP_CLUSTERS_UPSERTS
    )


_register_dedup_clusters_incremental()
