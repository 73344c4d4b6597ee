"""One implementation per algorithm, checked across engines.

MinHash, SimHash and sign-LSH each have ONE Spark implementation whose
every hash is md5-derived, and one SQL rendering (llm/dedup.
minhash_bands_sql for MinHash bands; the head oracles built on it and on
llm/similarity.int_sign_bucket_sql).  The data-selection operators
(CCNet unigram score and buckets, DSIR weights, global shuffle,
curriculum bins, sequence packing) likewise have one body each, in its
integer / exact-rank form, and the PageRank family has one level loop
(llm/graph._pagerank_levels) and one oracle builder
(queries_r7.pagerank_oracle).  These tests run both engines at sf0.001
so a Spark/SQL drift fails here, not only in the full oracle run
(tools/check_oracle.py, whose row rendering and hash they import rather
than copy).  No two registry heads may share a function body.
"""

from __future__ import annotations

import ast
import importlib.util
import inspect
import os
import textwrap

import duckdb
import pytest

from icebergproject_spark.llm import dedup
from icebergproject_spark.queries import REGISTRY
from icebergproject_spark.tables import TABLE_NAMES, load_table


def _check_oracle_module():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


check_oracle = _check_oracle_module()

#: every head whose oracle comes from the shared LSH generators: the
#: twelve md5-permutation heads (minhash_bands_sql at 16/8), the two
#: 32/8 MinHash heads, SimHash, and the two sign-LSH heads
#: (int_sign_bucket_sql)
LSH_ORACLE_HEADS = [
    "dedup_minhash_lsh_sql",
    "dedup_clusters_lsh_sql",
    "minhash_error_audit",
    "dataset_split",
    "leakage_safe_split",
    "dedup_clusters_incremental",
    "dedup_clusters_upserts",
    "dedup_clusters_bucketed",
    "dedup_clusters_flood_guard",
    "dedup_clusters_stored",
    "dedup_lsh_candidates_incremental",
    "dedup_clusters_backfill_reseed",
    "dedup_minhash_lsh",
    "dedup_clusters_lsh",
    "dedup_simhash_sql",
    "similarity_lsh_sql",
    "dedup_embedding_lsh_sql",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "num_hashes,bands", [(16, 8), (32, 8), (64, 16)]
)  # (64, 16) is the corpus benchmark's setting
def test_banded_signatures_equal_sql_generator(spark, sf_dir, duck, num_hashes, bands):
    """Spark's band stream and the SQL generator's ``bands`` CTE are the
    same rows — same shingle hashes, permutations, band keys."""
    docs = load_table(spark, "documents", sf_dir)
    got = sorted(
        (r.id, r.band, r.band_sig)
        for r in dedup.banded_signatures(
            docs, num_hashes=num_hashes, bands=bands
        ).collect()
    )
    want = sorted(
        duck.execute(
            f"WITH {dedup.minhash_bands_sql(num_hashes, bands)} "
            "SELECT doc_id, band, band_sig FROM bands"
        ).fetchall()
    )
    assert len(got) == bands * docs.count()
    assert got == want


#: the data-selection heads whose operator is the single micro-nat /
#: exact-rank body (llm/text, llm/sharding)
SELECTION_ORACLE_HEADS = [
    "lm_quality_score_sql",
    "quality_buckets_sql",
    "dsir_weights_sql",
    "global_shuffle",
    "curriculum_bins",
    "pack_sequences",
]


#: the PageRank heads (one level loop, one oracle builder) and HITS,
#: which shares their supplier→part edge set
GRAPH_ORACLE_HEADS = [
    "pagerank_sql",
    "pagerank_delta",
    "pagerank_personalized",
    "pagerank_weighted",
    "pagerank_delta_local",
    "graph_hits",
]


@pytest.mark.parametrize("name", LSH_ORACLE_HEADS)
def test_lsh_head_matches_oracle(spark, sf_dir, duck, name):
    _assert_head_matches_oracle(spark, sf_dir, duck, name)


@pytest.mark.parametrize("name", SELECTION_ORACLE_HEADS)
def test_selection_head_matches_oracle(spark, sf_dir, duck, name):
    _assert_head_matches_oracle(spark, sf_dir, duck, name)


@pytest.mark.parametrize("name", GRAPH_ORACLE_HEADS)
def test_graph_head_matches_oracle(spark, sf_dir, duck, name):
    _assert_head_matches_oracle(spark, sf_dir, duck, name)


def test_pack_sequences_null_stratum_matches_oracle(spark):
    """The pack_sequences head's operator and its oracle SQL agree on a
    corpus with NULL-source documents: both render such a pack_id as the
    bare window index (``concat_ws`` skips the NULL stratum) — the
    fixture corpus has no NULL source, so the head check alone cannot
    see this."""
    import pandas as pd

    from icebergproject_spark.llm.text import pack_sequences

    # ~100 tokens a document, so every stratum crosses several
    # 512-token windows
    rows = [
        (
            i,
            " ".join(["tok"] * ((i * 37) % 190 + 10)),
            None if i % 7 == 3 else ["web", "books"][i % 2],
        )
        for i in range(40)
    ]
    cols = ["doc_id", "text", "source"]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = pack_sequences(docs, context_len=512, strata_col="source")
    scols, srows = check_oracle.pandas_rows(out.toPandas())
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=cols))
    ocols, orows = check_oracle.pandas_rows(
        con.execute(REGISTRY["pack_sequences"].oracle).df()
    )
    con.close()
    assert any(r[cols.index("source")] is None for r in rows)
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows) == len(rows)
    assert check_oracle.table_hash(srows, scols) == check_oracle.table_hash(
        orows, ocols
    )


def test_no_two_registry_heads_share_a_body():
    """A head whose body (docstring stripped) repeats another's adds a
    name, not a result: each registry function body is unique."""
    seen: dict[str, str] = {}
    for name, q in REGISTRY.items():
        fn = ast.parse(textwrap.dedent(inspect.getsource(q.fn))).body[0]
        body = fn.body[1:] if ast.get_docstring(fn) is not None else fn.body
        key = "\n".join(ast.dump(stmt) for stmt in body)
        assert key not in seen, f"{name} repeats the body of {seen[key]}"
        seen[key] = name


def _assert_head_matches_oracle(spark, sf_dir, duck, name):
    """Row count, column names and the order-insensitive value hash of
    the head equal its DuckDB oracle's, rendered as the oracle gate
    renders them."""
    q = REGISTRY[name]
    assert q.oracle, f"{name} lost its oracle"
    scols, srows = check_oracle.pandas_rows(q.fn(spark, sf_dir).toPandas())
    ocols, orows = check_oracle.pandas_rows(duck.execute(q.oracle).df())
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert check_oracle.table_hash(srows, scols) == check_oracle.table_hash(
        orows, ocols
    )
