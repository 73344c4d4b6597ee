"""Round-13 registry batch — closing VERDICT r12 ask #3: the
incremental LSH candidate generator (the dedup tier's production
candidate feed) gets its own driver-facing CORRECTNESS row.

``dedup_lsh_candidates_incremental`` — the INCREMENTAL path itself at
oracle strength: the corpus splits into a stored base (doc_id % 13 != 0)
and an append batch; the Spark arm bands ONLY the two slices with the
md5-replayable band stream (:func:`llm.dedup.banded_signatures` —
the stored-state schema production persists) and generates the batch's
candidate edges via :func:`llm.dedup.incremental_lsh_candidates`
(batch×stored broadcast probe + batch×batch intra hits — NO corpus
self-join), while the DuckDB oracle recomputes the FULL md5-LSH
generator from scratch and slices it to the batch-touching pairs.  The
LSH mechanism is pair-local (a pair exists iff two docs share a band
signature, independent of every other doc), so the sliced full run and
the incremental run are provably the same set — a hash match proves the
incremental feed loses and invents nothing, the same maintain==rebuild
contract its CC consumer (``dedup_clusters_incremental``) already
carries.

Scale shape: the stored-bands side is met by ONE streamed
broadcast-hash join (the bounded batch is the broadcast side) — the
O(corpus) table is scanned once columnar and never shuffled; the
batch-internal join is batch×batch.  Production persists the band
stream once (``bands_table`` for the bucketed layout) and pays
O(batch × bands) new rows per append — this head is the correctness
proof for that feed.

Reference anchor: the reference recomputes derived state per
micro-batch against the full dim tables (dim/DimDataToHBase.scala:
79-110); this is the candidate-generation analogue under the same
append feed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql.window import Window

from icebergproject_spark.llm.dedup import minhash_bands_sql
from icebergproject_spark.queries import Query, _t
from icebergproject_spark.queries_r4 import _lsh_components_sql
from icebergproject_spark.queries_r11 import CC_SPLIT_MOD, CC_SPLIT_REM
from icebergproject_spark.queries_r12 import CC_BUCKETS


def q_dedup_lsh_candidates_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch-touching candidate pairs from the INCREMENTAL generator
    (stored bands + batch bands, no corpus self-join), hash-checked
    against the sliced full-run oracle.  ``is_intra`` = 1 for
    batch-internal pairs, 0 for batch×stored — so the hash also proves
    the two sub-feeds individually."""
    from icebergproject_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    in_batch = F.col("doc_id") % CC_SPLIT_MOD == CC_SPLIT_REM
    stored_bands = dedup.banded_signatures(
        docs.where(~in_batch), num_hashes=16, bands=8
    )
    batch_bands = dedup.banded_signatures(
        docs.where(in_batch), num_hashes=16, bands=8
    )
    cands = dedup.incremental_lsh_candidates(batch_bands, stored_bands)
    intra = (
        (F.col("id_a") % CC_SPLIT_MOD == CC_SPLIT_REM)
        & (F.col("id_b") % CC_SPLIT_MOD == CC_SPLIT_REM)
    )
    return cands.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        intra.cast("long").alias("is_intra"),
    )


# the oracle re-runs the FULL md5-LSH generator (llm/dedup.minhash_bands_sql)
# and slices it to pairs touching the batch — pair-locality makes the
# slice exactly the incremental generator's output
ORACLE_DEDUP_LSH_CANDIDATES_INCREMENTAL = f"""
WITH {minhash_bands_sql(16, 8)}
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(CASE WHEN id_a % {CC_SPLIT_MOD} = {CC_SPLIT_REM}
                  AND id_b % {CC_SPLIT_MOD} = {CC_SPLIT_REM}
             THEN 1 ELSE 0 END AS BIGINT) AS is_intra
FROM pairs
WHERE id_a % {CC_SPLIT_MOD} = {CC_SPLIT_REM}
   OR id_b % {CC_SPLIT_MOD} = {CC_SPLIT_REM}
"""


def q_dedup_clusters_backfill_reseed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RESEED branch of the level-up backfill policy at oracle
    strength (no other head exercises it end-to-end): the stored corpus
    is the SMALL %13==0 slice, and the other 92% arrives as one
    backfill batch.  ``cc_store_backfill_decision`` must choose
    ``reseed`` from the assignment's O(1) snapshot-summary estimate,
    and ``cc_assignment_store_reseed`` replaces both tables from a full
    re-cluster in superset-safe crash order.  The head reads the
    RESEEDED store back and emits it with the decision inputs
    (``batch_rows``, ``stored_rows_est``), the decision itself, and the
    spill index's row count — every column recomputed independently by
    the DuckDB oracle (the index count from the final clustering's
    cross-bucket memberships), so a hash match proves the decision
    arithmetic, the overwrite commits, AND the rebuilt index in one
    check."""
    from icebergproject_spark.llm import dedup
    from icebergproject_spark.queries_r11 import _mkdtemp_for_run

    docs = _t(spark, sf_dir, "documents")
    in_base = F.col("doc_id") % CC_SPLIT_MOD == CC_SPLIT_REM
    base_docs = docs.where(in_base).select("doc_id", "text")
    backfill = docs.where(~in_base).select("doc_id", "text")
    stored = dedup.connected_components(
        dedup.minhash_lsh_candidates(
            base_docs, num_hashes=16, bands=8
        ).select("id_a", "id_b"),
        nodes=base_docs.select("doc_id"),
        node_col="doc_id",
    )
    wh = _mkdtemp_for_run("cc_backfill_")
    st = dedup.cc_assignment_store(
        spark, wh, "tmp", "cc", assign=stored, n_buckets=CC_BUCKETS
    )
    stats: dict = {}
    decision = dedup.cc_store_backfill_decision(
        st, backfill.count(), stats=stats
    )
    # the policy must flip to reseed here — a silent 'maintain' would
    # still produce the right table through the incremental path, hiding
    # a broken estimate; fail loudly instead
    if decision != "reseed":
        raise AssertionError(
            f"backfill decision was {decision!r} "
            f"(batch={stats['batch_rows']}, est={stats['stored_rows_est']})"
        )
    cold = dedup.connected_components(
        dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8).select(
            "id_a", "id_b"
        ),
        nodes=docs.select(F.col("doc_id")),
        node_col="doc_id",
    )
    dedup.cc_assignment_store_reseed(st, cold)
    n_index_rows = (
        st.index.read().count()
        if st.index.current_snapshot() is not None
        else 0
    )
    merged = st.assign.read().select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    return merged.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
        F.lit(int(stats["batch_rows"])).cast("long").alias("batch_rows"),
        F.lit(int(stats["stored_rows_est"]))
        .cast("long")
        .alias("stored_rows_est"),
        F.lit(decision).alias("decision"),
        F.lit(int(n_index_rows)).cast("long").alias("n_index_rows"),
    )


# the oracle recomputes EVERYTHING from the parquet fixtures: the full
# re-cluster (closure over md5-LSH edges), the decision inputs (plain
# counts of the two slices — the seed store is one append, so its
# summary estimate IS the base count), the decision (factor 0.5 as
# integer arithmetic: batch*2 >= stored), and the spill index's
# invariant-set size from the final clustering's cross-bucket
# memberships (mod CC_BUCKETS)
ORACLE_DEDUP_CLUSTERS_BACKFILL_RESEED = f"""
WITH RECURSIVE
{_lsh_components_sql(16, 8, sfx='_a')},
counts AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
     WHERE doc_id % {CC_SPLIT_MOD} <> {CC_SPLIT_REM}) AS batch_rows,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
     WHERE doc_id % {CC_SPLIT_MOD} = {CC_SPLIT_REM}) AS stored_rows_est
),
idx AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_index_rows FROM (
    SELECT DISTINCT cluster_id, doc_id % {CC_BUCKETS} AS nb
    FROM lab_a WHERE doc_id % {CC_BUCKETS} <> cluster_id % {CC_BUCKETS}
  )
)
SELECT a.doc_id, a.cluster_id,
       COUNT(*) OVER (PARTITION BY a.cluster_id) AS cluster_size,
       counts.batch_rows, counts.stored_rows_est,
       CASE WHEN counts.batch_rows * 2 >= counts.stored_rows_est
            THEN 'reseed' ELSE 'maintain' END AS decision,
       idx.n_index_rows
FROM lab_a a CROSS JOIN counts CROSS JOIN idx
"""


#: fixed lookup keys — custkeys are dense from 0 at every SF, so the
#: same literal IN-list is valid for Spark and the oracle alike
DIM_LOOKUP_KEYS = tuple(range(12))


def q_dim_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim tier's Phoenix-parity ACCESS PATH at oracle strength:
    build a bloomed dim table (pk Bloom filters declared before first
    write — `LakehouseTable.set_bloom_filters`, r13), seed it across 4
    data dirs (c_custkey % 4 slices), apply a CDC update batch through
    the O(payload) equality-delete upsert (keys with c_custkey % 7 == 0
    get src='upd' and +100 cents), then answer a 12-key batch GET via
    ``read(where="c_custkey IN (...)")`` — the IN-list conjunct prunes
    dirs through bounds AND blooms (r13).  The oracle replays seed +
    update semantics straight off the parquet fixture, so a hash match
    proves the bloomed multi-dir layout, the upsert, and the IN-pruned
    read return exactly the CDC-final state.  Reference parity: the
    Phoenix dim store is a per-key GET/UPSERT tier
    (dim/DimDataToHBase.scala:79-110, utils/MyPhoenixUtil); this is
    that access pattern on the snapshot table format.  Plan guarantee
    (pytest, test_bloom_*): only dirs that may hold a wanted key are
    scanned."""
    from icebergproject_spark.lakehouse.tableformat import LakehouseCatalog
    from icebergproject_spark.queries_r11 import _mkdtemp_for_run

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    wh = _mkdtemp_for_run("dim_lookup_")
    t = LakehouseCatalog(spark, warehouse=wh, db="tmp").table("DIM_CUST")
    t.set_bloom_filters(["c_custkey"])
    seed = cust.withColumn("src", F.lit("seed"))
    for r in range(4):
        t.append(seed.where(F.col("c_custkey") % 4 == r))
    upd = (
        cust.where(F.col("c_custkey") % 7 == 0)
        .withColumn("bal_cents", F.col("bal_cents") + F.lit(100))
        .withColumn("src", F.lit("upd"))
    )
    t.upsert_by_key(upd, ["c_custkey"])
    in_list = ", ".join(str(k) for k in DIM_LOOKUP_KEYS)
    return t.read(where=f"c_custkey IN ({in_list})").select(
        "c_custkey", "c_name", "bal_cents", "src"
    )


ORACLE_DIM_POINT_LOOKUP = f"""
SELECT c_custkey,
       c_name,
       CAST(ROUND(c_acctbal * 100) AS BIGINT)
         + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal_cents,
       CASE WHEN c_custkey % 7 = 0 THEN 'upd' ELSE 'seed' END AS src
FROM customer
WHERE c_custkey IN ({", ".join(str(k) for k in DIM_LOOKUP_KEYS)})
"""


R13_REGISTRY: dict[str, Query] = {
    "dedup_lsh_candidates_incremental": Query(
        q_dedup_lsh_candidates_incremental,
        ORACLE_DEDUP_LSH_CANDIDATES_INCREMENTAL,
    ),
    "dedup_clusters_backfill_reseed": Query(
        q_dedup_clusters_backfill_reseed,
        ORACLE_DEDUP_CLUSTERS_BACKFILL_RESEED,
    ),
    "dim_point_lookup": Query(q_dim_point_lookup, ORACLE_DIM_POINT_LOOKUP),
}
